package perfbench

import graft.core.{DatasetRef, LakePaths}
import graft.sinks.MergeUpsert
import graft.streaming.StreamingOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `cdc_upsert`: set-up bootstraps TRUSTED from the generated base
  * table (K2 `MergeUpsert.mergeInto` on an empty lake). The loop then
  * publishes one seeded I/U/D change batch at a time into the change
  * log and applies it with one `StreamingOps.streamApplyChanges`
  * AvailableNow run, and after every batch runs the read mix against
  * TRUSTED. At the end TRUSTED must equal an independent fold of the
  * base table and every applied batch, written in plain Spark SQL. */
object CdcUpsert {
  private val Ref = DatasetRef("bench", "tpch", "lineitem")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report
    val t = ctx.truth("cdc.json")
    val base = s"${ctx.input}/base"
    val batches = Fs.sortedFiles(s"${ctx.input}/changes")
    val schema = spark.read.parquet(batches.head).schema
    val probes = t.get("probes")

    final case class Lake(trusted: String, log: String, checkpoint: String)
    def lakeAt(dir: String) = Lake(LakePaths(dir).trusted(Ref), s"$dir/changelog", s"$dir/_checkpoint")
    def bootstrap(l: Lake): Unit = MergeUpsert.mergeInto(spark, l.trusted, spark.read.parquet(base))
    def apply(l: Lake): Unit =
      StreamingOps.streamApplyChanges(spark, l.log, schema, l.trusted, l.checkpoint, "sk")

    ctx.warmUp { dir =>
      val l = lakeAt(dir)
      bootstrap(l)
      for (b <- 0 until 2) {
        Fs.publish(batches(b), l.log)
        apply(l)
        ReadMix.warm(ctx, l.trusted, probes.get(b))
      }
    }
    // bring-up: TRUSTED bootstrapped from the base table (K2 on an
    // empty lake); the loop applies every batch to the last one
    val lake = ctx.setUp { dir =>
      val l = lakeAt(dir)
      bootstrap(l)
      l
    }

    val readRecall = mutable.ArrayBuffer.empty[Double]
    val written, changeBytes, filesWritten = mutable.ArrayBuffer.empty[Long]
    var applied = 0
    ctx.loop(minIterations = 7, more = _ => applied < batches.size) { i =>
      val file = batches(applied)
      Fs.publish(file, lake.log)
      val before = Fs.names(lake.trusted)
      rep.attempt("apply")
      try {
        val (_, s) = tr.timed("streaming.apply")(apply(lake))
        applied += 1
        rep.sample("write", s)
        rep.sample("throughput", t.get("batches").get(applied - 1).get("rows").asDouble / s)
        val (f, b) = Fs.written(lake.trusted, before)
        filesWritten += f
        written += b
        changeBytes += java.nio.file.Files.size(java.nio.file.Paths.get(file))
        readRecall += ReadMix.run(ctx, lake.trusted, probes.get(applied - 1))
      } catch {
        case e: Exception => rep.fail("apply", e.toString.take(300))
      }
    }

    // final check: TRUSTED == fold(base, batches 0 until applied)
    val t0 = System.nanoTime()
    val payload = spark.read.parquet(base).columns.toSeq
    val log = spark.read.parquet(base).withColumn("op", lit("I")).withColumn("seq", lit(0L))
      .unionByName(spark.read.parquet(batches.take(applied): _*))
    val latest = log
      .withColumn("__rn", row_number().over(Window.partitionBy("sk").orderBy(col("seq").desc)))
      .where(col("__rn") === 1 && col("op") =!= "D")
      .select(payload.map(col): _*)
    val expected = Fingerprint.rowHashes(latest, payload)
    val actual = Fingerprint.rowHashes(spark.read.parquet(lake.trusted), payload)
    val want = Fingerprint.summarize(expected)
    val got = Fingerprint.summarize(actual)
    rep.attempt("final_state")
    // equal fingerprints give recall = precision = 1; on a mismatch
    // the row-level join measures how far TRUSTED is off
    val (m, e, a) =
      if (rep.check("final_state", got == want, s"TRUSTED $got, fold of the change log $want"))
        (got.rows, got.rows, got.rows)
      else Fingerprint.matched(actual, expected)
    rep.info("check_s") = (System.nanoTime() - t0) / 1e9
    val liveRows = t.get("batches").get(applied - 1).get("live_rows").asLong
    rep.check("final_state", got.rows == liveRows, s"TRUSTED has ${got.rows} rows, generator $liveRows")

    rep.e2e("read_recall") = readRecall.min
    rep.e2e("output_recall") = if (e == 0) 0.0 else m.toDouble / e
    rep.e2e("output_precision") = if (a == 0) 0.0 else m.toDouble / a
    rep.e2e("stored_bytes_per_row") = Fs.usage(lake.trusted)._2.toDouble / liveRows
    rep.e2e("write_amp") = written.sum.toDouble / changeBytes.sum

    val first = 3 // counted metrics: the first three batches of every run
    rep.count("sinks.trusted.bytes_written_per_batch", written.take(first).sum.toDouble / first)
    rep.count("sinks.trusted.files", filesWritten.take(first).sum.toDouble / first)
    if (tr.enabled) {
      tr.drain()
      val spans = tr.named("streaming.apply").filter(_.iteration >= 0)
      val st = spans.map(tr.stats)
      rep.layer("streaming.apply.s_p50") = Stats.median(st.map(_.seconds))
      rep.count("streaming.apply.jobs", st.take(first).map(_.jobs).sum.toDouble / first)
      rep.layer("streaming.apply.driver_gap_s") = Stats.median(st.map(_.driverGapSeconds))
      val prog = tr.progressWithin(spans).filter(_._4 > 0)
      rep.count("streaming.batches", prog.size.toDouble / spans.size)
      if (prog.nonEmpty) {
        rep.layer("streaming.addBatch_s_p50") = Stats.median(prog.map(_._2 / 1000.0))
        rep.layer("streaming.engine_s_p50") = Stats.median(prog.map(p => (p._3 - p._2) / 1000.0))
      }
      ReadMix.layer(ctx, {
        case "point" => probes.get(0).get("point_expected").size.toDouble
        case _ => probes.get(0).get("range_count").asDouble
      })
    }
  }
}

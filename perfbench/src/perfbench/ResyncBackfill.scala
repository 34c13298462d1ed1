package perfbench

import graft.app.ResyncJob
import graft.app.ResyncJob.{MongoRanged, RangedSource}
import graft.core.{Clock, DatasetRef, LakePaths}
import graft.sources.MongoLikeSource
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** `resync_backfill`: the reference's main archetype (`carga_date`).
  * Per iteration, into an empty lake:
  *  1. `ResyncJob.runDate` over a `MongoRanged` document source with
  *     `cliEnd` pinned (chunked K1 appends into WORK);
  *  2. `ResyncJob.promote` into an empty TRUSTED (bootstrap);
  *  3. a re-sync of the trailing month from the updated source and a
  *     `promote` that merges over the existing TRUSTED;
  *  4. the read mix against the merged TRUSTED.
  * TRUSTED is checked after both promotes against an expectation
  * computed from the generated source in plain Spark SQL. */
object ResyncBackfill {
  private val Pc = "l_shipdate"
  private val SkIds = Seq("l_orderkey", "l_linenumber")
  private val Ref = DatasetRef("bench", "tpch", "lineitem")
  private val PromoteClock = Clock.Fixed("2024-06-01 00:00:00")
  /** A read pair takes ~0.3 s; over ten seeds the median of three
    * pairs spread 0.16-0.26 between runs, of six 0.11-0.16. */
  private val ReadsPerIteration = 6

  /** Wraps the source seam `runDate` accepts: times the boundary
    * probe, and marks a chunk as the interval from one `readRange`
    * call to the next (or to the end of the enclosing span). */
  private final class ChunkedSource(inner: RangedSource, ctx: Ctx) extends RangedSource {
    private var open: Option[Span] = None
    def readRange(spark: SparkSession, pc: String, startIncl: String, endExcl: String): DataFrame = {
      open.filter(_.endNs == 0L).foreach(ctx.tracer.end)
      if (ctx.tracer.iteration >= 0) ctx.report.attempt("chunk")
      open = Some(ctx.tracer.begin("ingest.chunk"))
      inner.readRange(spark, pc, startIncl, endExcl)
    }
    def minValue(spark: SparkSession, pc: String): Any =
      ctx.tracer.timed("sources.minValue")(inner.minValue(spark, pc))._1
    def maxIntWithMargin(spark: SparkSession, pc: String): Long =
      inner.maxIntWithMargin(spark, pc)
  }

  /** The content columns every check hashes (the ingest stamp is
    * excluded: it is a clock, not content). */
  private def contentCols(df: DataFrame): Seq[String] =
    "sk" +: df.columns.toSeq.filterNot(c => c == "sk" || c == "timestamp_kafka")

  /** Expected TRUSTED for a source, in plain Spark SQL: T1 sk, T3
    * garbage-year repair, one row per key (re-deliveries are exact
    * copies), hashed like the checks hash TRUSTED. */
  private def expected(spark: SparkSession, sourceDir: String): DataFrame = {
    val src = spark.read.parquet(sourceDir)
    val repaired = src.columns.toSeq.map { c =>
      if (src.schema(c).dataType == DateType) when(year(col(c)) >= 10, col(c)).as(c) else col(c)
    }
    val rows = src.select(repaired: _*).distinct()
      .withColumn("sk", md5(concat(col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))))
    Fingerprint.rowHashes(rows, contentCols(rows))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report
    val t = ctx.truth("backfill.json")
    val v1 = MongoRanged(MongoLikeSource(s"${ctx.input}/source_v1"))
    val v2 = MongoRanged(MongoLikeSource(s"${ctx.input}/source_v2"))
    val end = LocalDate.parse(t.get("end").asText)
    val resyncFrom = LocalDate.parse(t.get("resync_start").asText)
    val estimated = t.get("estimated_rows").asLong
    val sourceRows = t.get("source_rows").asLong
    val probe = t.get("probes").get(0)
    var retries = 0L
    val sleepHook: Long => Unit = _ => retries += 1 // a retry is counted, not waited out

    def ingest(lake: LakePaths, src: RangedSource, from: Option[LocalDate], to: LocalDate,
        name: String): Double =
      tr.timed(name) {
        ResyncJob.runDate(spark, new ChunkedSource(src, ctx), Pc, Ref, lake,
          cliStart = from, cliEnd = Some(to), estimatedRows = estimated, sleep = sleepHook)
      }._2

    def promote(lake: LakePaths, name: String): Double = {
      if (tr.iteration >= 0) rep.attempt("promote")
      tr.timed(name)(ResyncJob.promote(spark, Ref, lake, SkIds, clock = PromoteClock))._2
    }

    ctx.warmUp { dir =>
      val lake = LakePaths(dir)
      ingest(lake, v1, None, end, "setup.ingest")
      promote(lake, "setup.promote")
      ingest(lake, v2, Some(resyncFrom), end, "setup.ingest")
      promote(lake, "setup.promote")
      ReadMix.warm(ctx, lake.trusted(Ref), probe)
    }
    // bring-up: what the resync app resolves before its first chunk,
    // the §1.4 schema resolution and the S5 boundary probe
    ctx.setUp { dir =>
      ResyncJob.resolveSchema(spark, LakePaths(dir), Ref, None)
      v1.minValue(spark, Pc)
    }

    val t0 = System.nanoTime()
    val v1Dir = s"${ctx.input}/source_v1"
    val v2Dir = s"${ctx.input}/source_v2"
    val sum1 = Fingerprint.summarize(expected(spark, v1Dir))
    val sum2 = Fingerprint.summarize(expected(spark, v2Dir))
    rep.info("expectation_s") = (System.nanoTime() - t0) / 1e9
    val finalRows = sum2.rows

    // equal fingerprints give recall = precision = 1; on a mismatch
    // the row-level join measures how far TRUSTED is off
    var recall, precision = 1.0
    def checkTrusted(path: String, sourceDir: String, want: Fingerprint.Summary): Unit = {
      val trusted = spark.read.parquet(path)
      val hashed = Fingerprint.rowHashes(trusted, contentCols(trusted))
      val got = Fingerprint.summarize(hashed)
      if (!rep.check("promote", got == want, s"TRUSTED $got, expected $want")) {
        val (m, e, a) = Fingerprint.matched(hashed, expected(spark, sourceDir))
        recall = math.min(recall, m.toDouble / e)
        precision = math.min(precision, if (a == 0) 0.0 else m.toDouble / a)
      }
    }

    val bytesPerRow, writeAmp, readRecall =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.loop(minIterations = 1) { i =>
      val dir = s"${ctx.work}/iter-$i"
      val lake = LakePaths(dir)
      val trusted = lake.trusted(Ref)
      try {
        val ingestS = ingest(lake, v1, None, end, "ingest.backfill")
        val (workFiles, workBytes) = Fs.usage(lake.work(Ref))
        val bootS = promote(lake, "app.promote_bootstrap")
        rep.sample("throughput", sourceRows / (ingestS + bootS))
        if (i == 0) checkTrusted(trusted, v1Dir, sum1)

        val resyncIngestS = ingest(lake, v2, Some(resyncFrom), end, "ingest.resync")
        val (_, resyncWorkBytes) = Fs.usage(lake.work(Ref))
        val before = Fs.names(trusted)
        val mergeS = promote(lake, "app.promote_merge")
        rep.sample("write", resyncIngestS + mergeS)
        val (trustedFilesWritten, mergeWritten) = Fs.written(trusted, before)
        writeAmp += mergeWritten.toDouble / resyncWorkBytes
        val trustedBytes = Fs.usage(trusted)._2
        bytesPerRow += trustedBytes.toDouble / finalRows

        for (_ <- 0 until ReadsPerIteration) readRecall += ReadMix.run(ctx, trusted, probe)
        checkTrusted(trusted, v2Dir, sum2)
        if (i == 0) {
          rep.count("sinks.work.files", workFiles.toDouble)
          rep.count("sinks.work.bytes", workBytes.toDouble)
          rep.count("sinks.trusted.files", trustedFilesWritten.toDouble)
          rep.count("sinks.trusted.bytes_written_per_batch", mergeWritten.toDouble)
        }
      } catch {
        case e: Exception => rep.fail("iteration", e.toString.take(300))
      } finally Fs.delete(dir)
    }

    val chunkS = tr.seconds("ingest.chunk")
    rep.e2e("read_recall") = readRecall.min
    rep.e2e("output_recall") = recall
    rep.e2e("output_precision") = precision
    rep.e2e("stored_bytes_per_row") = Stats.median(bytesPerRow.toSeq)
    rep.e2e("write_amp") = Stats.median(writeAmp.toSeq)

    rep.layer("ingest.retries") = retries.toDouble
    if (tr.enabled) {
      tr.drain()
      val first = (n: String) => tr.named(n, Some(0))
      val mv = first("sources.minValue").map(tr.stats)
      rep.layer("sources.minValue.s") = Stats.median(tr.named("sources.minValue").filter(_.iteration >= 0).map(_.seconds))
      rep.count("sources.minValue.input_bytes", mv.map(_.inputBytes).sum.toDouble)
      val chunks0 = first("ingest.chunk").filter(c => first("ingest.backfill").exists(_.id == c.parent))
      rep.count("ingest.chunks", chunks0.size.toDouble)
      val cs = chunks0.map(tr.stats)
      rep.layer("ingest.chunk.s_p50") = Stats.median(chunkS)
      rep.layer("ingest.chunk.s_p80") = Stats.quantile(chunkS, 0.8)
      rep.count("ingest.chunk.jobs", Stats.median(cs.map(_.jobs.toDouble)))
      rep.layer("ingest.chunk.driver_gap_s") = Stats.median(
        tr.named("ingest.chunk").filter(_.iteration >= 0).map(tr.stats(_).driverGapSeconds))
      for ((span, key) <- Seq("app.promote_bootstrap" -> "app.promote_bootstrap",
          "app.promote_merge" -> "app.promote_merge")) {
        val all = tr.named(span).filter(_.iteration >= 0).map(tr.stats)
        val s0 = first(span).map(tr.stats).head
        rep.layer(s"$key.s") = Stats.median(all.map(_.seconds))
        rep.count(s"$key.jobs", s0.jobs.toDouble)
        rep.count(s"$key.tasks", s0.tasks.toDouble)
        rep.layer(s"$key.task_s") = Stats.median(all.map(_.taskSeconds))
        // shuffle blocks are compressed in the order their records
        // were fetched, which varies between runs: medians, not counts
        rep.layer(s"$key.shuffle_write_bytes") = Stats.median(all.map(_.shuffleWriteBytes.toDouble))
        rep.layer(s"$key.spill_bytes") = Stats.median(all.map(_.spillBytes.toDouble))
        rep.count(s"$key.output_bytes", s0.outputBytes.toDouble)
        rep.layer(s"$key.driver_gap_s") = Stats.median(all.map(_.driverGapSeconds))
      }
      ReadMix.layer(ctx, {
        case "point" => probe.get("point_expected").size.toDouble
        case _ => probe.get("range_count").asDouble
      })
    }
  }
}

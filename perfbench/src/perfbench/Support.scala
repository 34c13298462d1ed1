package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one workload run needs: the session, the tracer, the
  * generated inputs (read-only), a scratch directory for the lake,
  * the measuring window and the report it fills in. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val input: String,
    val work: String,
    val seconds: Double,
    val report: Report) {

  def truth(name: String): JsonNode =
    new ObjectMapper().readTree(new File(s"$input/truth/$name"))

  /** Closed loop: runs `body(i)` for i = 0, 1, … until the window has
    * passed and at least `minIterations` ran (counted layer metrics
    * come from iteration 0, so every run has one), or `more` is false.
    * A traced run records only the even iterations; the odd ones run
    * with the listeners off, as the untraced baseline of the tracing
    * overhead, so a traced run runs at least two. */
  def loop(minIterations: Int, more: Int => Boolean = _ => true)(body: Int => Unit): Int = {
    settle()
    val t0 = System.nanoTime()
    val atLeast = if (tracer.enabled) math.max(2, minIterations) else minIterations
    var i = 0
    while (more(i) && (i < atLeast || (System.nanoTime() - t0) / 1e9 < seconds)) {
      tracer.iteration = i
      tracer.record(i % 2 == 0)
      report.baseline = tracer.enabled && !tracer.recording
      body(i)
      i += 1
    }
    tracer.iteration = -1
    tracer.record(true)
    report.baseline = false
    report.info("iterations") = i.toDouble
    report.info("measured_s") = (System.nanoTime() - t0) / 1e9
    i
  }

  /** Starts the loop from a collected heap, so the warm-up's garbage
    * is not collected inside the first samples. */
  private def settle(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    report.info("settle_s") = (System.nanoTime() - t0) / 1e9
  }

  /** One full-size pass of the loop's calls before any sample, so
    * every plan the loop runs (AQE picks them by data size) is
    * compiled and warm. Timed once; part of `setup_s`. */
  def warmUp(body: String => Unit): Unit = {
    val t0 = System.nanoTime()
    body(s"$work/warmup")
    Fs.delete(s"$work/warmup")
    report.info("warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  /** The workload's bring-up (the state the loop starts from),
    * repeated `Ctx.SetUpReps` times into fresh directories; the median
    * goes into `setup_s` and the last repetition's state is returned. */
  def setUp[T](body: String => T): T = {
    var last: Option[T] = None
    for (r <- 0 until Ctx.SetUpReps) {
      val dir = s"$work/setup-$r"
      val t0 = System.nanoTime()
      last = Some(body(dir))
      report.setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }
}

object Ctx {
  val SetUpReps = 3
}

/** Operation counts, checks and metrics of one run. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Layer metrics that are counts, which must repeat for a seed. */
  val counted = mutable.LinkedHashSet.empty[String]
  /** Samples of the three timed end-to-end quantities: `throughput`
    * (rows/s), `write` (s) and `read` (s). A traced run files the
    * samples of its unrecorded iterations under `untraced`, the
    * baseline of the tracing overhead. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val untraced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var baseline = false
  val info = mutable.LinkedHashMap.empty[String, Double]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  private val ops = mutable.LinkedHashMap.empty[String, Array[Long]]
  val failures = mutable.ArrayBuffer.empty[String]

  def attempt(kind: String, n: Long = 1): Unit = ops.getOrElseUpdate(kind, Array(0L, 0L))(0) += n
  /** A failure outside any attempted operation (an exception between
    * calls) counts as an attempt too, so `failed` never exceeds
    * `attempted`. */
  def fail(kind: String, why: String): Unit = {
    val a = ops.getOrElseUpdate(kind, Array(0L, 0L))
    if (a(1) == a(0)) a(0) += 1
    a(1) += 1
    if (failures.size < 20) failures += s"$kind: $why"
  }
  /** A failed output check fails the operation it checks. */
  def check(kind: String, ok: Boolean, why: => String): Boolean = {
    if (!ok) fail(kind, why)
    ok
  }
  def attempted: Long = ops.values.map(_(0)).sum
  def failed: Long = ops.values.map(_(1)).sum

  def count(name: String, v: Double): Unit = { layer(name) = v; counted += name }

  def sample(kind: String, v: Double): Unit =
    (if (baseline) untraced else samples).getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v

  /** The medians of the timed samples, as end-to-end metrics; in a
    * traced run also the tracing overhead: traced ÷ untraced iterations
    * of the run, on the median write plus the median read. */
  def summarizeSamples(tracing: Boolean): Unit = {
    for ((kind, metric) <- Seq("throughput" -> "throughput_rows_per_s",
        "write" -> "write_s_p50", "read" -> "read_s_p50"); xs <- samples.get(kind) if xs.nonEmpty)
      e2e(metric) = Stats.median(xs.toSeq)
    def cost(m: mutable.Map[String, mutable.ArrayBuffer[Double]]): Option[Double] =
      for (w <- m.get("write") if w.nonEmpty; r <- m.get("read") if r.nonEmpty)
        yield Stats.median(w.toSeq) + Stats.median(r.toSeq)
    if (tracing) for (t <- cost(samples); u <- cost(untraced))
      layer("bench.trace_overhead_ratio") = t / u
  }

  def toJson: String = {
    val m = new ObjectMapper()
    def obj(kv: Iterable[(String, Double)]): ObjectNode = {
      val o = m.createObjectNode()
      // non-finite values have no JSON number; they read as missing
      for ((k, v) <- kv) if (v.isNaN || v.isInfinite) o.putNull(k) else o.put(k, v)
      o
    }
    def arr(xs: Iterable[Double]): ArrayNode = {
      val a = m.createArrayNode()
      xs.foreach(x => a.add(x))
      a
    }
    val root = m.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    val o = root.putObject("ops")
    for ((k, a) <- ops) o.putArray(k).add(a(0)).add(a(1))
    root.set[JsonNode]("e2e", obj(e2e))
    root.set[JsonNode]("layer", obj(layer))
    val c = root.putArray("counted")
    counted.foreach(c.add)
    val sm = root.putObject("samples")
    for ((k, xs) <- samples) sm.set[JsonNode](k, arr(xs))
    root.set[JsonNode]("info", obj(info))
    root.set[JsonNode]("setup_reps_s", arr(setupSeconds))
    val f = root.putArray("failures")
    failures.foreach(f.add)
    m.writeValueAsString(root)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Fs {
  private def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        // hidden and underscore-prefixed entries are not table data;
        // `k=v` partition directories are
        val segs = p.relativize(f).iterator().asScala.map(_.toString).toSeq
        Files.isRegularFile(f) && segs.last.endsWith(".parquet") &&
          !segs.exists(s => s.startsWith(".") || (s.startsWith("_") && !s.contains("=")))
      }.toList finally s.close()
    }
  }

  /** (parquet data files, their bytes) under a table directory. */
  def usage(dir: String): (Long, Long) = {
    val fs = dataFiles(dir)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  def names(dir: String): Map[String, Long] =
    dataFiles(dir).map(f => f.toString -> Files.size(f)).toMap

  /** Bytes of files under `dir` that were not in `before`. */
  def written(dir: String, before: Map[String, Long]): (Long, Long) = {
    val fresh = names(dir).filterNot { case (n, _) => before.contains(n) }
    (fresh.size.toLong, fresh.values.sum)
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** Publishes a file into a directory a stream watches: copy under a
    * hidden name, then rename, so the source never lists a partial
    * file. */
  def publish(file: String, dir: String): Unit = {
    val src = Paths.get(file)
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = d.resolve("." + src.getFileName)
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, d.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  def sortedFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
}

/** The fixed read mix against TRUSTED through its public contract,
  * the parquet directory at `LakePaths.trusted`: a ~100-sk point
  * lookup and an `l_orderkey` range aggregate, each checked against
  * the answers the generator computed for the same state. */
object ReadMix {
  /** The same two reads, unchecked: set-up runs them against a state
    * the probes were not computed for. */
  def warm(ctx: Ctx, trusted: String, probe: JsonNode): Unit = {
    point(ctx, trusted, probe)
    range(ctx, trusted, probe)
  }

  private def point(ctx: Ctx, trusted: String, probe: JsonNode): Set[String] = {
    val sks = probe.get("point_sks").elements().asScala.map(_.asText).toSeq
    ctx.spark.read.parquet(trusted).where(col("sk").isin(sks: _*)).select("sk")
      .collect().map(_.getString(0)).toSet
  }

  /** (rows, sum of l_partkey) with `l_orderkey` in the probe's range. */
  private def range(ctx: Ctx, trusted: String, probe: JsonNode): (Long, Long) = {
    val agg = ctx.spark.read.parquet(trusted)
      .where(col("l_orderkey").between(probe.get("range_lo").asLong, probe.get("range_hi").asLong))
      .agg(count(lit(1)), sum(col("l_partkey"))).head()
    (agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1))
  }

  /** Runs and checks the pair, records the pair's time as one `read`
    * sample, and returns its recall: expected point rows found, with
    * the range aggregate counted as one all-or-nothing answer. */
  def run(ctx: Ctx, trusted: String, probe: JsonNode): Double = {
    val expected = probe.get("point_expected").elements().asScala.map(_.asText).toSet
    ctx.report.attempt("read")
    val (got, pointS) = ctx.tracer.timed("read.point")(point(ctx, trusted, probe))
    ctx.report.check("read", got == expected,
      s"point lookup returned ${got.size} rows, ${(got & expected).size} of ${expected.size} expected")

    ctx.report.attempt("read")
    val ((n, s), rangeS) = ctx.tracer.timed("read.range")(range(ctx, trusted, probe))
    val want = (probe.get("range_count").asLong, probe.get("range_partkey_sum").asLong)
    val rangeOk = (n, s) == want
    ctx.report.check("read", rangeOk, s"range read gave ($n, $s), expected $want")
    ctx.report.sample("read", pointS + rangeS)
    ((got & expected).size + (if (rangeOk) 1 else 0)).toDouble / (expected.size + 1)
  }

  /** Per-layer read metrics from iteration-0 spans (counts) and all
    * spans (timings). */
  def layer(ctx: Ctx, rowsPerRead: String => Double): Unit = {
    val tr = ctx.tracer
    for (kind <- Seq("point", "range")) {
      val name = s"read.$kind"
      val all = tr.seconds(name)
      ctx.report.layer(s"$name.s_p50") = if (all.isEmpty) 0.0 else Stats.median(all)
      val first = tr.named(name, Some(0)).map(tr.stats)
      val inBytes = if (first.isEmpty) 0.0 else first.map(_.inputBytes).sum.toDouble / first.size
      val examined = if (first.isEmpty) 0.0 else first.map(_.inputRecords).sum.toDouble / first.size
      ctx.report.count(s"$name.input_bytes", inBytes)
      ctx.report.count(s"$name.rows_examined_per_row",
        if (examined == 0) 0.0 else examined / math.max(1.0, rowsPerRead(kind)))
    }
  }
}

/** Order-independent content fingerprints of a lineitem-shaped table,
  * in plain Spark SQL: row count, distinct sk, and the sum of a
  * per-row xxhash64 over `cols`. */
object Fingerprint {
  final case class Summary(rows: Long, distinctSk: Long, hashSum: java.math.BigDecimal) {
    override def toString: String = s"rows=$rows distinct_sk=$distinctSk hash_sum=$hashSum"
  }

  def rowHashes(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(col("sk"), xxhash64(cols.map(col): _*).as("h"))

  def summarize(hashed: DataFrame): Summary = {
    val r = hashed.agg(count(lit(1)), countDistinct(col("sk")),
      sum(col("h").cast("decimal(38,0)"))).head()
    Summary(r.getLong(0), r.getLong(1),
      Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** (rows of `expected` found in `actual` with identical content,
    * expected rows, actual rows) — the row-level recall/precision
    * base. */
  def matched(actual: DataFrame, expected: DataFrame): (Long, Long, Long) = {
    val m = actual.join(expected, Seq("sk", "h")).count()
    (m, expected.count(), actual.count())
  }
}

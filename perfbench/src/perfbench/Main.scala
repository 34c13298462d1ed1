package perfbench

import graft.core.Sessions

/** One benchmark run of one workload in one JVM:
  *
  * {{{
  * perfbench.Main --workload NAME --input DIR --work DIR --seconds S
  *                --trace 0|1 [--cpus N] [--spans FILE]
  * }}}
  *
  * `--input` holds the files `gen.py` wrote for the seed; `--work` is
  * an empty scratch directory for the lake; a traced run writes its
  * spans to `--spans`. The last stdout line is
  * `PERFBENCH_RESULT {json}`, which `run.py` turns into the
  * benchmark's result line. */
object Main {
  private val Workloads: Map[String, Ctx => Unit] = Map(
    "resync_backfill" -> ResyncBackfill.run,
    "cdc_upsert" -> CdcUpsert.run,
    "corpus_dedup_search" -> CorpusDedupSearch.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val workload = Workloads.getOrElse(req("workload"), sys.error(s"unknown workload ${req("workload")}"))

    val t0 = System.nanoTime()
    val spark = Sessions.local(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = new Report
    val ctx = new Ctx(spark, new Tracer(spark, req("trace") == "1"), req("input"), req("work"),
      req("seconds").toDouble, report)
    try workload(ctx)
    catch {
      case e: Exception =>
        report.fail("run", e.toString.take(300))
        e.printStackTrace()
    }
    report.info("session_s") = sessionS
    report.summarizeSamples(ctx.tracer.enabled)
    if (report.setupSeconds.nonEmpty)
      report.e2e("setup_s") = sessionS + report.info.getOrElse("warmup_s", 0.0) +
        Stats.median(report.setupSeconds.toSeq)
    report.e2e("peak_rss_mb") = peakRssMb
    report.e2e("ops_ok_ratio") =
      if (report.attempted == 0) 0.0 else 1.0 - report.failed.toDouble / report.attempted
    a.get("spans").filter(_ => ctx.tracer.enabled).foreach { path =>
      ctx.tracer.drain()
      ctx.tracer.write(path)
    }
    spark.stop()
    println("PERFBENCH_RESULT " + report.toJson)
  }

  /** The driver JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

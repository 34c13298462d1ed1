package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One public call into graft: name, start, end, parent span, run id
  * and the closed-loop iteration it belongs to (-1 during set-up). */
final class Span(
    val id: Int,
    val name: String,
    val parent: Int,
    val runId: String,
    val iteration: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = 0L
  var endMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span and its children. */
final case class SpanStats(
    seconds: Double,
    jobs: Long,
    tasks: Long,
    taskSeconds: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    inputRecords: Long,
    outputBytes: Long,
    driverGapSeconds: Double)

/** Times every call the workloads make, and with `enabled` also keeps
  * the spans in memory and attributes Spark jobs, tasks, shuffle,
  * spill and I/O to them through public listeners.
  *
  * Each span tags the calling thread with a Spark job group
  * `pb-<span id>`; jobs that run under another group (a streaming
  * query's micro-batches run under the query's own) are attributed to
  * the innermost span open when they started. Untraced runs, and the
  * iterations of a traced run that `record(false)` leaves unrecorded,
  * only time their calls: no listener, no job group, no span kept. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val runId: String = java.util.UUID.randomUUID().toString
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0
  var iteration: Int = -1

  private final class JobRec(val group: Option[Int], val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final class StageAgg {
    var tasks, taskMs, shuffleWrite, spill, inBytes, inRecords, outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageAggs = mutable.Map.empty[Int, StageAgg]

  /** (trigger start ms, addBatch ms, triggerExecution ms, input rows). */
  val progress = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("pb-")).map(_.drop(3).toInt)
      jobs.synchronized { jobs(e.jobId) = new JobRec(group, e.time, e.stageIds) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      jobs.synchronized {
        val a = stageAggs.getOrElseUpdate(info.stageId, new StageAgg)
        a.tasks += info.numTasks
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.synchronized {
        progress += ((start, ms("addBatch"), ms("triggerExecution"), p.numInputRows))
      }
    }
  }

  private def listen(on: Boolean): Unit =
    if (on) {
      sc.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
    } else {
      sc.removeSparkListener(jobListener)
      spark.streams.removeListener(streamListener)
    }

  /** Whether calls are traced now: spans kept, listeners registered. */
  private var on = enabled
  def recording: Boolean = on
  listen(on)

  /** Turns recording on or off between calls (never inside a span).
    * The bus is drained first, so each listener sees exactly the
    * events of the calls it was registered for. */
  def record(want: Boolean): Unit = if (enabled && want != on) {
    require(stack.isEmpty, "record() inside an open span")
    drain()
    listen(want)
    on = want
  }

  def begin(name: String): Span = {
    val s = new Span(nextId, name, stack.headOption.fold(-1)(_.id), runId, iteration)
    nextId += 1
    if (on) {
      spans += s
      sc.setJobGroup(s"pb-${s.id}", name)
    }
    stack = s :: stack
    s
  }

  /** Ends `s` and any span still open inside it; returns seconds. */
  def end(s: Span): Double = {
    while (stack.nonEmpty && !(stack.head eq s)) end(stack.head)
    require(stack.nonEmpty, s"span ${s.name} is not open")
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    if (on) stack.headOption match {
      case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
      case None => sc.clearJobGroup()
    }
    s.seconds
  }

  def timed[T](name: String)(body: => T): (T, Double) = {
    val s = begin(name)
    val out = try body finally end(s)
    (out, s.seconds)
  }

  /** Durations of the closed loop's recorded spans of this name
    * (set-up spans are not samples). */
  def seconds(name: String): Seq[Double] =
    named(name).filter(s => s.iteration >= 0 && s.endNs > 0).map(_.seconds)

  /** Waits until every listener event of the run has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  private lazy val children: Map[Int, Seq[Int]] =
    spans.toSeq.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }

  private def subtree(id: Int): Set[Int] =
    children.getOrElse(id, Nil).foldLeft(Set(id))(_ ++ subtree(_))

  /** The span a job belongs to: its job group, else the innermost span
    * open when it started. */
  private def owner(j: JobRec): Int = j.group.getOrElse {
    val open = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
    if (open.isEmpty) -1 else open.maxBy(s => (s.startNs, s.id)).id
  }

  private lazy val jobOwners: Seq[(JobRec, Int)] =
    jobs.synchronized(jobs.values.toSeq).map(j => (j, owner(j)))

  def named(name: String, iteration: Option[Int] = None): Seq[Span] =
    spans.toSeq.filter(s => s.name == name && iteration.forall(_ == s.iteration))

  def stats(s: Span): SpanStats = {
    val ids = subtree(s.id)
    val js = jobOwners.collect { case (j, o) if ids.contains(o) => j }
    val aggs = jobs.synchronized {
      js.flatMap(_.stageIds).distinct.flatMap(stageAggs.get)
    }
    val covered = union(js.map(j =>
      (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
    SpanStats(
      seconds = s.seconds,
      jobs = js.size.toLong,
      tasks = aggs.map(_.tasks).sum,
      taskSeconds = aggs.map(_.taskMs).sum / 1000.0,
      shuffleWriteBytes = aggs.map(_.shuffleWrite).sum,
      spillBytes = aggs.map(_.spill).sum,
      inputBytes = aggs.map(_.inBytes).sum,
      inputRecords = aggs.map(_.inRecords).sum,
      outputBytes = aggs.map(_.outBytes).sum,
      driverGapSeconds = math.max(0.0, s.seconds - covered / 1000.0))
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((a, b) <- iv.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (open && a <= curE) curE = math.max(curE, b)
      else {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** The span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(spans(_)).filter(_.endNs > 0)
    val covered = union(kids.map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
    math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
  }

  /** Writes every finished span, with its attributed Spark work and
    * self time, as one JSON object per line. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val m = new ObjectMapper()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try for (s <- spans if s.endNs > 0) {
      val st = stats(s)
      val o = m.createObjectNode()
        .put("run_id", s.runId).put("span", s.id).put("parent", s.parent).put("name", s.name)
        .put("iteration", s.iteration).put("start_ms", s.startMs).put("end_ms", s.endMs)
        .put("s", st.seconds).put("self_s", selfSeconds(s)).put("jobs", st.jobs)
        .put("tasks", st.tasks).put("task_s", st.taskSeconds)
        .put("shuffle_write_bytes", st.shuffleWriteBytes).put("spill_bytes", st.spillBytes)
        .put("input_bytes", st.inputBytes).put("input_records", st.inputRecords)
        .put("output_bytes", st.outputBytes).put("driver_gap_s", st.driverGapSeconds)
      out.println(m.writeValueAsString(o))
    } finally out.close()
  }

  /** Streaming progress records that fall inside the given spans. */
  def progressWithin(ss: Seq[Span]): Seq[(Long, Long, Long, Long)] =
    progress.synchronized(progress.toSeq).filter { case (t, _, _, _) =>
      ss.exists(s => s.startMs <= t && t <= s.endMs)
    }
}

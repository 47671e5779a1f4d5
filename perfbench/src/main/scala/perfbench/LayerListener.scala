package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes every Spark job to the repository module that submitted it.
  *
  * A job's call site (the long form Spark records for its stages) starts
  * at the first frame outside Spark and Scala; the innermost `graft.<module>`
  * frame there names its layer. Jobs submitted from helper threads (AQE
  * broadcast and subquery builds) carry no such frame, so they inherit the
  * layer of the SQL execution they belong to, via `spark.sql.execution.id`
  * and the call site of that execution's start event.
  *
  * Two kinds of job need a second source. A streaming query runs every
  * job under the call site captured when the query started, and some
  * executions start on helper threads with no `graft` frame at all. For
  * these a [[StackSampler]] tells where the stream execution thread, or
  * else the benchmark's own thread, was while the job ran: a submitting
  * thread blocks inside the frame that submitted the job. What is left
  * lands in `unattributed`.
  *
  * Stages that scan NDJSON input (a `FileScanRDD` under a `Scan json` or
  * `Scan text` scope, as the batch reader and the streaming file source
  * plan them) are also recorded apart: their wall time, bytes and records
  * are the input read, whichever layer submitted the job.
  *
  * Events arrive on Spark's listener bus after the fact, so the listener
  * only records; [[Trace]] folds the records over the measured time
  * windows once the bus has drained.
  */
final class LayerListener(sampler: StackSampler) extends SparkListener {

  final class JobRec(val id: Int, var layer: String, var site: String, val start: Long) {
    var end: Long = -1L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outBytes = 0L
    var inBytes = 0L
    var inRecords = 0L
    var readMs = 0L
    var readBytes = 0L
    var readRecords = 0L
  }

  private val execLayer = mutable.Map.empty[Long, (String, String)]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val jobsById = mutable.Map.empty[Int, JobRec]
  private val scanStages = mutable.Set.empty[Int]
  private var events = 0L

  /** Jobs recorded so far, in submission order. */
  def jobs: Seq[JobRec] = synchronized {
    val js = jobsById.values.toSeq.sortBy(_.id)
    js.foreach { j =>
      val end = if (j.end < 0) Long.MaxValue else j.end
      val resolved =
        if (j.site.startsWith(LayerListener.StreamStartSite)) sampler.siteDuring(true, j.start, end)
        else if (j.layer == LayerListener.Unattributed)
          sampler.siteDuring(false, j.start, end).orElse(sampler.siteDuring(true, j.start, end))
        else None
      resolved.filter(_._1 != LayerListener.Unattributed).foreach { case (l, s) =>
        j.layer = l
        j.site = s
      }
    }
    js
  }

  /** Waits for the listener bus to deliver what was posted so far (no
    * new event for half a second), then stops the sampler. */
  def close(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 5) {
      val n = eventCount
      if (n == last) quiet += 1 else { quiet = 0; last = n }
      Thread.sleep(100)
    }
    sampler.shutdown()
  }

  /** Events seen; stops changing once the listener bus is drained. */
  def eventCount: Long = synchronized(events)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
        events += 1
        val own = LayerListener.attribute(s.details)
        val inherited = s.rootExecutionId.flatMap(r => execLayer.get(r))
        execLayer(s.executionId) = own.orElse(inherited).getOrElse(LayerListener.Unattributed -> "")
      }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val details = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
    val fromExec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execLayer.get(id.toLong))
    val (layer, site) = LayerListener.attribute(details)
      .orElse(fromExec.filter(_._1 != LayerListener.Unattributed))
      .getOrElse(LayerListener.Unattributed -> details.linesIterator.take(1).mkString)
    val rec = new JobRec(j.jobId, layer, site, j.time)
    jobsById(j.jobId) = rec
    j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
    j.stageInfos.filter(_.rddInfos.exists(r => r.name == "FileScanRDD" &&
      r.scope.exists(sc => sc.name.startsWith("Scan json") || sc.name.startsWith("Scan text"))))
      .foreach(scanStages += _.stageId)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = s.stageInfo
    if (scanStages(i.stageId)) for (r <- stageJob.get(i.stageId); t0 <- i.submissionTime; t1 <- i.completionTime)
      r.readMs += t1 - t0
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobsById.get(j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = t.taskMetrics
    if (m != null) stageJob.get(t.stageId).foreach { r =>
      r.taskMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      r.outBytes += m.outputMetrics.bytesWritten
      r.inBytes += m.inputMetrics.bytesRead
      r.inRecords += m.inputMetrics.recordsRead
      if (scanStages(t.stageId)) {
        r.readBytes += m.inputMetrics.bytesRead
        r.readRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

object LayerListener {
  val Unattributed = "unattributed"

  /** The call site every job of a running streaming query carries. */
  val StreamStartSite = "streaming.StreamingSend$.start"

  /** The layers, in report order. `operators` also holds `plans`,
    * `functions` and the query closures in `SparkEntry`. */
  val Layers: Seq[String] = Seq("ingest", "etl", "jobs", "sink", "streaming", "operators", Unattributed)

  private val Frame = """^\s*graft\.([\w$]+)\.([\w$]+)\.?([\w$]*).*""".r

  private def layerOf(module: String): Option[String] = module match {
    case "ingest" | "etl" | "jobs" | "sink" | "streaming" => Some(module)
    case "operators" | "plans" | "functions"              => Some("operators")
    case m if m.startsWith("SparkEntry")                  => Some("operators")
    case _                                                => None
  }

  /** The benchmark's own action on a query's result: the plan it runs
    * was built by the operators behind `SparkEntry`. */
  private val QueryResult = """^\s*perfbench\.Workloads\$\.\$anonfun\$queryMix.*""".r

  /** (layer, innermost graft class.method) of a call-site stack, innermost
    * frame first. Helper modules (`util`, `model`) defer to their caller. */
  def attribute(stack: String): Option[(String, String)] =
    Option(stack).flatMap(s => attribute(s.linesIterator))

  def attribute(frames: Iterator[String]): Option[(String, String)] =
    frames.collectFirst(Function.unlift {
      case Frame(module, cls, method) => layerOf(module).map(_ -> s"$module.$cls.$method")
      case QueryResult()              => Some("operators" -> "SparkEntry.queries(result)")
      case _                          => None
    })
}

/** Samples, every few milliseconds, the stack of the thread that calls
  * the program (`main`) and of Spark's stream execution thread, and keeps
  * per change the layer of the innermost `graft` frame. */
final class StackSampler(periodMs: Long, main: Thread) extends Thread("perfbench-stack-sampler") {
  setDaemon(true)

  private val timelines = Map(
    true -> mutable.ArrayBuffer.empty[(Long, (String, String))],
    false -> mutable.ArrayBuffer.empty[(Long, (String, String))])
  @volatile private var running = true

  private def site(t: Thread): (String, String) =
    LayerListener.attribute(t.getStackTrace.iterator.map(e => s"${e.getClassName}.${e.getMethodName}"))
      .getOrElse(LayerListener.Unattributed -> "")

  override def run(): Unit = {
    var stream: Thread = null
    val last = mutable.Map.empty[Boolean, (String, String)]
    def record(isStream: Boolean, t: Thread, now: Long): Unit = {
      val s = site(t)
      if (!last.get(isStream).contains(s)) {
        timelines.synchronized(timelines(isStream) += now -> s)
        last(isStream) = s
      }
    }
    while (running) {
      if (stream == null || !stream.isAlive) {
        var group = Thread.currentThread.getThreadGroup
        while (group.getParent != null) group = group.getParent
        val threads = new Array[Thread](group.activeCount * 2 + 16)
        stream = threads.take(group.enumerate(threads, true))
          .find(_.getName.startsWith("stream execution thread")).orNull
      }
      val now = System.currentTimeMillis()
      record(false, main, now)
      if (stream != null) record(true, stream, now)
      Thread.sleep(periodMs)
    }
  }

  def shutdown(): Unit = { running = false; join() }

  /** Where the stream thread (or the main thread) was during
    * [start, end]: the first sample inside the interval, else the last
    * one before it. */
  def siteDuring(stream: Boolean, start: Long, end: Long): Option[(String, String)] =
    timelines.synchronized {
      val tl = timelines(stream)
      tl.find { case (t, _) => t >= start && t <= end }
        .orElse(tl.filter(_._1 < start).lastOption).map(_._2)
    }
}

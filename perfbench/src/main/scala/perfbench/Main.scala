package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, measure one workload for a time budget,
  * check its outputs, and write the result as JSON for `run.py`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile> <tablesDir>`
  *
  * `tablesDir` holds the parquet tables the query mix reads.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File, data: File)

  /** A metric value and its unit. */
  final case class M(value: Double, unit: String)

  /** What a workload reports. `windows` holds the (start, end) wall-clock
    * millis of every timed operation, which the trace is folded over. */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val endToEnd = mutable.LinkedHashMap.empty[String, M]
    val perLayer = mutable.LinkedHashMap.empty[String, M]
    val report = mutable.ArrayBuffer.empty[String]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  }

  val Cpus = 4

  def newSession(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Wall and process CPU seconds of a timed operation. */
  final case class Timing(wall: Double, cpu: Double) {
    def +(o: Timing): Timing = Timing(wall + o.wall, cpu + o.cpu)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def timed[T](f: => T): (T, Timing) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = f
    (r, Timing((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) of the data files under `f`, Spark's hidden and
    * checksum files excluded. */
  def diskUsage(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .map(diskUsage).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) (1L, f.length)
    else (0L, 0L)

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).foreach(_.foreach(c => copyTree(c, new File(to, c.getName))))
    } else {
      Files.copy(from.toPath, to.toPath)
      to.setLastModified(from.lastModified)
    }
  }

  /** Peak resident memory of this JVM, MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Fixed single-threaded spin (the same 2e8 xorshift64 steps as the
    * repository's Bench canary): its time moves only with CPU contention,
    * so it tells a loaded box apart from a slower program. */
  def canarySpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) print("")
    dt
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Sets up `rounds` times, each from a fresh session: session start,
    * input generation (`prepare`, into a fresh directory) and a warm-up
    * job. Returns the last session, the last round's inputs and the
    * median round time. */
  def setUp[T](o: Opts, rounds: Int)(prepare: (SparkSession, File) => T): (SparkSession, T, Double) = {
    var spark: SparkSession = null
    var inputs: Option[T] = None
    val times = (0 until rounds).map { r =>
      if (spark != null) spark.stop()
      val dir = new File(o.work, s"setup-$r")
      deleteTree(dir)
      val t0 = System.nanoTime()
      spark = newSession(o.work)
      inputs = Some(prepare(spark, dir))
      spark.range(0L, 1000000L, 1L, Cpus).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    (spark, inputs.get, median(times))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, out, data) = args
    val o = Opts(workload, seed.toLong, seconds.toInt, trace == "1", new File(work), new File(out),
      new File(data))
    o.work.mkdirs()
    val load0 = loadAvg()
    val canary0 = canarySpin()
    val outcome = workload match {
      case "ingest_batch"  => Workloads.ingestBatch(o)
      case "ingest_stream" => Workloads.ingestStream(o)
      case "query_mix"     => Workloads.queryMix(o)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val canary1 = canarySpin()
    val load1 = loadAvg()
    outcome.perLayer("jvm.peak_rss_mb") = M(peakRssMb(), "MB")
    outcome.perLayer("witness.canary_s") = M(math.max(canary0, canary1), "s")
    outcome.perLayer("witness.load_avg") = M(math.max(load0, load1), "load")
    outcome.report += f"peak_rss_mb ${outcome.perLayer("jvm.peak_rss_mb").value}%.1f MB"
    outcome.report += f"failed_frac ${outcome.failed.toDouble / math.max(outcome.attempted, 1L)}%.4f fraction " +
      s"(${outcome.failed} of ${outcome.attempted} operations)"
    outcome.report += f"load witness: canary $canary0%.3f s before, $canary1%.3f s after; " +
      f"load average $load0%.2f before, $load1%.2f after, on ${Runtime.getRuntime.availableProcessors} cpus"
    Files.write(o.out.toPath, Json.result(outcome).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  private def metrics(m: collection.Map[String, Main.M]): String =
    m.map { case (k, v) => s"${str(k)}:{\"value\":${num(v.value)},\"unit\":${str(v.unit)}}" }
      .mkString("{", ",", "}")

  def result(o: Main.Outcome): String =
    s"""{"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""failures":${o.failures.map(str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metrics(o.endToEnd)},"per_layer":${metrics(o.perLayer)},""" +
      s""""report":${o.report.map(str).mkString("[", ",", "]")}}"""
}

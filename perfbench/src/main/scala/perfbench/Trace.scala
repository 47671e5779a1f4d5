package perfbench

import perfbench.Main.{M, Outcome}

/** Folds the [[LayerListener]] records into per-layer metrics. */
object Trace {

  /** Milliseconds of `window` during which at least one job ran. */
  def coveredMs(jobs: Seq[LayerListener#JobRec], window: (Long, Long)): Long = {
    val (w0, w1) = window
    val spans = jobs.map(j => (math.max(j.start, w0), math.min(if (j.end < 0) w1 else j.end, w1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }

  /** Jobs submitted inside one of `windows`. */
  def inWindows(l: LayerListener, windows: Seq[(Long, Long)]): Seq[LayerListener#JobRec] =
    l.jobs.filter(j => windows.exists { case (a, b) => j.start >= a && j.start <= b })

  /** Per-layer jobs, job wall, task time and GC time, plus the attributed
    * share and the wall time of `windows` no job covered. */
  def layers(l: LayerListener, windows: Seq[(Long, Long)], out: Outcome): Double = {
    val jobs = inWindows(l, windows)
    LayerListener.Layers.foreach { layer =>
      val js = jobs.filter(_.layer == layer)
      out.perLayer(s"$layer.jobs") = M(js.size.toDouble, "count")
      out.perLayer(s"$layer.job_s") = M(js.filter(_.end >= 0).map(j => j.end - j.start).sum / 1e3, "s")
      out.perLayer(s"$layer.task_s") = M(js.map(_.taskMs).sum / 1e3, "s")
      out.perLayer(s"$layer.gc_s") = M(js.map(_.gcMs).sum / 1e3, "s")
    }
    val attributed = jobs.count(_.layer != LayerListener.Unattributed)
    out.perLayer("trace.attributed_frac") =
      M(if (jobs.isEmpty) 1.0 else attributed.toDouble / jobs.size, "ratio")
    out.report += s"trace: ${jobs.size} Spark jobs in the measured windows, $attributed attributed to a layer"
    jobs.filter(_.layer == LayerListener.Unattributed).groupBy(_.site).toSeq
      .sortBy(-_._2.size).take(3).foreach { case (site, js) =>
        out.report += s"trace: ${js.size} unattributed jobs from $site"
      }
    windows.map(w => (w._2 - w._1) - coveredMs(jobs, w)).sum / 1e3
  }
}

package graft.perfbench

import graft.perfbench.Recorder.{Job, Task}

/** Task metrics summed over a set of jobs. */
final case class Agg(jobs: Int, runMs: Long, cpuNs: Long, shuffleBytes: Long,
    spillBytes: Long, peakMem: Long, skew: Double)

/** Folds the recorded jobs and tasks into per-iteration and per-layer
  * figures, after the run.
  */
final class Metrics(jobs: Seq[Job], tasks: Seq[Task], spans: Seq[Span],
    cores: Int) {
  import Metrics._

  val attribution = new Attribution(spans, jobs)

  // a stage listed by several jobs ran its tasks under the first one
  private val jobOfStage: Map[Int, Int] =
    jobs.sortBy(-_.id).flatMap(j => j.stages.map(_ -> j.id)).toMap
  private val tasksOfJob: Map[Int, Seq[Task]] =
    tasks.groupBy(t => jobOfStage.getOrElse(t.stage, -1))

  /** Wall-clock intervals (ms) during which at least one task ran. */
  private val busy: Seq[(Long, Long)] = merge(
    tasks.map(t => (t.launchMs, t.finishMs)))

  def agg(jobIds: Seq[Int]): Agg = {
    val ts = jobIds.flatMap(j => tasksOfJob.getOrElse(j, Nil))
    // skew of the layer's dominant stage: the FP-Hadoop max/median
    val dominant = ts.groupBy(_.stage).values.filter(_.size >= 2)
      .maxByOption(_.map(_.runMs).sum)
    val skew = dominant.fold(0.0) { st =>
      val med = median(st.map(_.runMs.toDouble))
      if (med < 1.0) 0.0 else st.map(_.runMs).max / med
    }
    Agg(jobIds.size, ts.map(_.runMs).sum, ts.map(_.cpuNs).sum,
      ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(_.peakMem).maxOption.getOrElse(0L), skew)
  }

  /** Jobs submitted in [startMs, endMs], e.g. one untraced iteration. */
  def window(startMs: Long, endMs: Long): Agg =
    agg(jobs.filter(j => j.timeMs >= startMs && j.timeMs <= endMs).map(_.id))

  private def children(s: Span) = spans.filter(_.parent == s.id)
  private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  private def jobsOf(ss: Seq[Span]): Seq[Int] = {
    val ids = ss.map(_.id).toSet
    attribution.spanOfJob.collect { case (j, s) if ids(s) => j }.toSeq
  }

  /** Per layer of one traced iteration: the eight layer metrics. */
  def layers(root: Span): Map[String, Map[String, Double]] =
    subtree(root).filter(_.parent >= 0).groupBy(_.name).map { case (name, ss) =>
      val selfNs = ss.map(s => s.durNs - children(s).map(_.durNs).sum).sum
      val driverMs = ss.map { s =>
        val self = subtract(Seq((s.startMs, s.endMs)),
          children(s).map(c => (c.startMs, c.endMs)))
        self.map(i => i._2 - i._1).sum - overlap(self, busy)
      }.sum
      val g = agg(jobsOf(ss))
      name -> Map(
        "wall_s" -> selfNs / 1e9,
        "driver_s" -> driverMs / 1e3,
        "cpu_s" -> g.cpuNs / 1e9,
        "jobs" -> g.jobs.toDouble,
        "shuffle_mb" -> g.shuffleBytes / 1e6,
        "spill_mb" -> g.spillBytes / 1e6,
        "skew" -> g.skew,
        "rows_out" -> ss.map(_.rows).sum.toDouble)
    }

  /** Share of cores x wall time that tasks of the iteration ran. */
  def busyShare(root: Span): Double =
    agg(jobsOf(subtree(root))).runMs / (cores.toDouble * (root.endMs - root.startMs))

  /** Share of the iteration's wall time inside a layer span. */
  def coverage(root: Span): Double =
    children(root).map(_.durNs).sum.toDouble / root.durNs
}

object Metrics {
  val LayerKeys: Seq[(String, String)] = Seq("wall_s" -> "s",
    "driver_s" -> "s", "cpu_s" -> "s", "jobs" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "skew" -> "ratio",
    "rows_out" -> "rows")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def merge(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def subtract(xs: Seq[(Long, Long)], cuts: Seq[(Long, Long)])
      : Seq[(Long, Long)] =
    merge(cuts).foldLeft(xs) { (cur, c) =>
      cur.flatMap { case (s, e) =>
        Seq((s, math.min(e, c._1)), (math.max(s, c._2), e)).filter(i => i._2 > i._1)
      }
    }

  def overlap(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Long =
    xs.map { case (s, e) =>
      ys.map { case (a, b) => math.max(0L, math.min(e, b) - math.max(s, a)) }.sum
    }.sum
}

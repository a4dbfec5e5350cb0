package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Every job and task the session runs, as plain records. The listener
  * runs in both modes: end-to-end shuffle and peak-memory figures come
  * from it too. Jobs are tied to spans after the run ([[Attribution]]).
  */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val sentinels = scala.collection.mutable.Map.empty[Int, String]
  private val drained = scala.collection.mutable.Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    prop(SentinelKey) match {
      case Some(token) => sentinels(e.jobId) = token
      case None => jobs += Job(e.jobId, e.time,
        prop(SpanKey).map(_.toInt), e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    sentinels.get(e.jobId).foreach { t => drained += t; notifyAll() }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      tasks += Task(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.peakExecutionMemory)
    }

  /** Blocks until the listener bus has delivered every event posted so
    * far: a marker job is the last event, and the bus is FIFO.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(SentinelKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (!drained(token) && System.currentTimeMillis() < deadline)
        wait(100)
      require(drained(token), "listener bus did not drain within 60 s")
    }
  }

  def snapshot: (Seq[Job], Seq[Task]) = synchronized {
    (jobs.toList, tasks.toList)
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
  val SentinelKey = "perfbench.sentinel"

  final case class Job(id: Int, timeMs: Long, label: Option[Int],
      stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long,
      peakMem: Long)
}

/** One traced call: `parent` is -1 for an iteration root. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L,
    var endMs: Long = 0L, var rows: Long = 0L) {
  def durNs: Long = endNs - startNs
  def covers(tMs: Long): Boolean = startMs <= tMs && tMs <= endMs
}

/** Spans around the calls into each layer. When disabled, `layer` and
  * `force` cost nothing and change nothing: the untraced run executes
  * exactly the plans a user would.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val forced = ArrayBuffer.empty[DataFrame]

  def enabled: Boolean = stack.nonEmpty

  /** Root span of one traced iteration; tracing is on inside it. */
  def iteration[T](iter: Int)(body: => T): T = open("iteration", iter)(body)

  def layer[T](name: String)(body: => T): T =
    if (!enabled) body else open(name, stack.head.iter)(body)

  /** Materializes a lazy layer's output at its boundary (traced only),
    * so the work is timed in the layer that produces it.
    */
  def force(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      forced += c
      rows(c.count())
      c
    }

  def rows(n: Long): Unit = if (enabled) stack.head.rows += n

  /** Drops the forced copies of the last traced iteration. */
  def release(): Unit = { forced.foreach(_.unpersist(false)); forced.clear() }

  private def open[T](name: String, iter: Int)(body: => T): T = {
    val sc = spark.sparkContext
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), iter,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val outer = sc.getLocalProperty(Recorder.SpanKey)
    sc.setLocalProperty(Recorder.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Recorder.SpanKey, outer)
    }
  }
}

/** Ties each job to one span. A job keeps its span label only if that
  * span was open at submission and no deeper span was: `Pipeline.fit`
  * runs its fit jobs on pooled threads whose inherited local properties
  * can be missing or stale. Every other job goes to the innermost span
  * open at its submission time (millisecond clock; labels settle jobs
  * submitted in the millisecond one span closes and the next opens).
  */
final class Attribution(spans: Seq[Span], jobs: Seq[Recorder.Job]) {
  private val depth: Array[Int] = {
    val d = new Array[Int](spans.size)
    spans.foreach(s => d(s.id) = if (s.parent < 0) 0 else d(s.parent) + 1)
    d
  }
  var byLabel = 0
  var byWindow = 0
  val spanOfJob: Map[Int, Int] = jobs.flatMap { j =>
    val open = spans.filter(_.covers(j.timeMs))
    if (open.isEmpty) None
    else {
      val inner = open.maxBy(s => (depth(s.id), s.startNs)).id
      j.label.filter(l => l < spans.size && spans(l).covers(j.timeMs) &&
          depth(l) >= depth(inner)) match {
        case Some(l) => byLabel += 1; Some(j.id -> l)
        case None => byWindow += 1; Some(j.id -> inner)
      }
    }
  }.toMap
}

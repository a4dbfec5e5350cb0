package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The engine's one bounded driver collect: how a batch-scale op
  * finishes on the driver instead of running a chain of small Spark
  * jobs whose scheduling costs more than their data.
  *
  * [[collect]] returns the rows of a frame, or None when they would take
  * more than the session's `spark.sql.autoBroadcastJoinThreshold` bytes
  * (the bound every broadcast already obeys; -1 turns the driver finish
  * off), sized in Spark's UnsafeRow format:
  *
  *   - a frame whose plan is data already on the driver (a local
  *     relation, or projections and filters over one) is measured and
  *     returned without a job;
  *   - otherwise ONE job sizes every partition, and each task ships its
  *     rows, packed as UnsafeRows, only when they fit an even share of
  *     the bound (the bound over the partition count); a task over its
  *     share ships its size alone, and stops reading once it alone
  *     passes the bound. When the sizes add up to more than the bound
  *     the answer is None; a persisted input is then cached whole (a
  *     partition's cache block is built before it is read), so the
  *     caller's distributed fallback computes nothing twice. When they
  *     fit and a skewed partition kept its rows back, a second job
  *     fetches those partitions (from the cache when the input is
  *     persisted).
  *
  * Driver heap: the driver never receives more than the bound in rows,
  * whatever the partitioning, plus one small size record per task; a
  * collect that fits also holds one small row object per row.
  *
  * Each call logs one decision line,
  * `driver.finish op= path=local|distributed reason= rows= bytes= limit=`
  * (`reason` is `fits`, `held` for rows already on the driver,
  * `over_limit`, `bound_over` ([[collectAtMost]]) or `threshold_off`; on
  * `over_limit`, `rows` and `bytes` count what the tasks read before
  * each passed the bound).
  *
  * Keys the driver finishes, groups and orders are of an integral type
  * ([[isIntegral]]): read as a long ([[keyAt]]), their equality and
  * order are Spark's, and [[key]] gives the value back in its column
  * type.
  */
object DriverFinish {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The bound in bytes; at most 0 when the driver finish is off. */
  def limit(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** The rows of `df` on the driver, or None when they do not fit. */
  def collect(df: DataFrame, op: String): Option[IndexedSeq[InternalRow]] = {
    val lim = limit(df.sparkSession)
    val (rows, reason, n, bytes) =
      if (lim <= 0) (None, "threshold_off", 0L, 0L)
      else held(df) match {
        case Some(data) =>
          val proj = UnsafeProjection.create(df.schema)
          val b = data.iterator.map(proj(_).getSizeInBytes.toLong).sum
          if (b <= lim) (Some(data.toIndexedSeq), "held", data.size.toLong, b)
          else (None, "over_limit", data.size.toLong, b)
        case None => within(df, lim)
      }
    decision(op, rows.isDefined, reason, n, bytes, lim)
    rows
  }

  /** [[collect]] for a frame whose bytes are known beforehand to be at
    * most `atMost`: when that passes the limit, no job runs and the
    * decision line reads `reason=bound_over` with `bytes=atMost`, so an
    * input certain not to fit is never computed for the collect.
    */
  def collectAtMost(df: DataFrame, op: String,
      atMost: Long): Option[IndexedSeq[InternalRow]] = {
    val lim = limit(df.sparkSession)
    if (lim <= 0 || atMost <= lim) collect(df, op)
    else {
      decision(op, false, "bound_over", 0L, atMost, lim)
      None
    }
  }

  /** The row count of `df`: from its plan's statistics when they hold
    * one (a cached or local frame), else by counting the rows of each
    * partition of a column-free projection: ONE job for a scan (no
    * column is read, no exchange added), more when the plan itself
    * shuffles.
    */
  def rowCount(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount.fold {
      val qe = df.select().queryExecution
      SQLExecution.withNewExecutionId(qe, Some("row count")) {
        df.sparkSession.sparkContext.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => it.size.toLong).sum
      }
    }(_.toLong)

  /** A local frame of `schema` holding `rows`, whose values are of the
    * schema's column types.
    */
  def frame(spark: SparkSession, schema: StructType,
      rows: Iterable[InternalRow]): DataFrame = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(
      rows.iterator.map(toRow(_).asInstanceOf[Row]).toSeq.asJava, schema)
  }

  /** The rows of `df` when its plan is data already on the driver: a
    * local relation, possibly under projections and filters the
    * optimizer folds into it. No job runs. A nondeterministic plan is
    * not folded here, since its execution folds it again.
    */
  def held(df: DataFrame): Option[Seq[InternalRow]] = {
    val plan = df.queryExecution.analyzed
    if (!plan.deterministic ||
        !plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.sparkSession.sessionState.optimizer.execute(plan) match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }
  }

  /** Whether the driver finishes keys of type `t`. */
  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The integral value at `i` of `r`, of type `t`, widened to long. */
  def keyAt(r: InternalRow, i: Int, t: DataType): Long = t match {
    case ByteType => r.getByte(i).toLong
    case ShortType => r.getShort(i).toLong
    case IntegerType => r.getInt(i).toLong
    case LongType => r.getLong(i)
  }

  /** `v` narrowed back to the integral type `t`. */
  def key(v: Long, t: DataType): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case LongType => v
  }

  private def decision(op: String, local: Boolean, reason: String, rows: Long,
      bytes: Long, limit: Long): Unit =
    log.info(s"driver.finish op=$op " +
      s"path=${if (local) "local" else "distributed"} reason=$reason " +
      s"rows=$rows bytes=$bytes limit=$limit")

  /** Runs `body` with `desc` as the job description of the jobs it
    * starts, then restores the caller's.
    */
  def described[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }

  /** One partition's rows read (up to the bound), their UnsafeRow bytes,
    * and the rows packed as `[size][UnsafeRow bytes]...`, or null when
    * they passed the task's share.
    */
  private final class Packed(val rows: Long, val bytes: Long,
      val buf: Array[Byte]) extends Serializable

  private def pack(it: Iterator[InternalRow], schema: StructType,
      lim: Long, share: Long): Packed = {
    val proj = UnsafeProjection.create(schema)
    val out = new java.io.ByteArrayOutputStream
    val data = new java.io.DataOutputStream(out)
    val scratch = new Array[Byte](4096)
    var rows = 0L
    var bytes = 0L
    while (bytes <= lim && it.hasNext) {
      val r = it.next() match {
        case u: UnsafeRow => u
        case other => proj(other)
      }
      rows += 1
      bytes += r.getSizeInBytes
      if (bytes <= share) {
        data.writeInt(r.getSizeInBytes)
        r.writeToStream(data, scratch)
      }
    }
    new Packed(rows, bytes, if (bytes <= share) out.toByteArray else null)
  }

  /** The sizing job, and the second job a skewed partition needs: every
    * partition packed by [[pack]], a total kept on the driver.
    */
  private def within(df: DataFrame, lim: Long)
      : (Option[IndexedSeq[InternalRow]], String, Long, Long) = {
    val spark = df.sparkSession
    // a fresh execution sees the caches registered since `df` was built
    val qe = spark.sessionState.executePlan(df.queryExecution.logical)
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("driver finish")) {
      val rdd = qe.toRdd
      val got = new Array[Packed](rdd.getNumPartitions)
      def run(ids: IndexedSeq[Int], share: Long): Unit =
        spark.sparkContext.runJob(rdd,
          (_: org.apache.spark.TaskContext, it: Iterator[InternalRow]) =>
            pack(it, schema, lim, share), ids,
          (k: Int, p: Packed) => got(ids(k)) = p)
      run(got.indices, lim / math.max(got.length, 1))
      val heavy = got.indices.filter(got(_).buf == null)
      if (heavy.nonEmpty && got.iterator.map(_.bytes).sum <= lim)
        run(heavy, lim)
      got
    }
    val rows = parts.iterator.map(_.rows).sum
    val bytes = parts.iterator.map(_.bytes).sum
    if (bytes > lim || parts.exists(_.buf == null))
      (None, "over_limit", rows, bytes)
    else {
      val out = new Array[InternalRow](rows.toInt)
      var k = 0
      for (p <- parts) {
        val bb = java.nio.ByteBuffer.wrap(p.buf)
        var off = 0
        while (off < p.buf.length) {
          val size = bb.getInt(off)
          val r = new UnsafeRow(schema.length)
          r.pointTo(p.buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off + 4, size)
          out(k) = r
          k += 1
          off += 4 + size
        }
      }
      (Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(out)),
        "fits", rows, bytes)
    }
  }
}

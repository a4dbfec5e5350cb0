package org.apache.spark.sql.graftbridge

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  FileFormatWriter, WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** A parquet write that folds its own rows while it writes them, the
  * way Delta's writer gathers file statistics: Spark's
  * `FileFormatWriter.write` runs with a [[WriteJobStatsTracker]] next to
  * the basic one, whose task side folds every written row into an
  * accumulator for the row's value of the partition column. The task's
  * accumulators travel with its commit message, so only committed task
  * attempts count; a failed or retried attempt's rows never reach the
  * result.
  *
  * The output is what `df.write.partitionBy(partCol).mode("append")
  * .parquet(path)` writes: the same file names, codec and layout, one
  * job, and no exchange beyond the ones in `df`'s own plan. [[fold]]
  * runs the same fold over a frame's rows without writing, also in one
  * job.
  */
object TrackedWrite {

  /** A fold over rows, run task-side. `add` sees a row whose first
    * columns are the data columns, in the frame's order without the
    * partition column, and may ignore any column after them; it must
    * read the row's values before returning (the row is reused).
    */
  trait RowFold[A <: AnyRef] extends Serializable {
    def zero(): A
    def add(acc: A, row: InternalRow): Unit
    /** Folds `other` into `acc`. */
    def merge(acc: A, other: A): Unit
  }

  /** Writes `df` under `path` partitioned by its integer column
    * `partCol`, appending to what the directory holds, and returns the
    * fold of each partition value's written rows.
    */
  def parquet[A <: AnyRef](df: DataFrame, path: String, partCol: String,
      fold: RowFold[A]): Map[Int, A] = {
    val spark = castToImpl(df.sparkSession)
    // a fresh execution sees the caches registered since `df` was built
    val qe = spark.sessionState.executePlan(df.queryExecution.logical)
    val plan = qe.executedPlan
    val part = plan.output.filter(_.name == partCol)
    require(part.size == 1, s"TrackedWrite: no single column $partCol")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, path)
    val folds = new FoldJobTracker(fold)
    val basic = new BasicWriteJobStatsTracker(
      new SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    SQLExecution.withNewExecutionId(qe, Some(s"write $path")) {
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        hadoopConf, part, None, Seq(basic, folds), Map.empty)
    }
    folds.result
  }

  /** The fold of `df`'s rows per value of its integer column `partCol`,
    * in one job, with no exchange beyond the ones in `df`'s plan.
    */
  def fold[A <: AnyRef](df: DataFrame, partCol: String, fold: RowFold[A])
      : Map[Int, A] = {
    val spark = castToImpl(df.sparkSession)
    val data = df.columns.filterNot(_ == partCol).toSeq :+ partCol
    val projected = df.select(data.map(c => df.col(s"`$c`")): _*)
    val qe = spark.sessionState.executePlan(projected.queryExecution.logical)
    val at = data.size - 1
    val parts = SQLExecution.withNewExecutionId(qe, Some("lineage fold")) {
      spark.sparkContext.runJob(qe.toRdd, (it: Iterator[InternalRow]) => {
        val accs = new java.util.HashMap[Int, A]
        it.foreach { r =>
          require(!r.isNullAt(at), s"TrackedWrite: null $partCol")
          var acc = accs.get(r.getInt(at))
          if (acc == null) { acc = fold.zero(); accs.put(r.getInt(at), acc) }
          fold.add(acc, r)
        }
        new Folded(accs)
      })
    }
    mergeAll(fold, parts.toSeq)
  }

  /** One task's accumulators by partition value. */
  private final class Folded[A <: AnyRef](val accs: java.util.HashMap[Int, A])
      extends WriteTaskStats

  private def mergeAll[A <: AnyRef](fold: RowFold[A], parts: Seq[Folded[A]])
      : Map[Int, A] = {
    val out = scala.collection.mutable.HashMap.empty[Int, A]
    for (p <- parts; (k, acc) <- p.accs.asScala) {
      out.get(k) match {
        case Some(into) => fold.merge(into, acc)
        case None => out(k) = acc
      }
    }
    out.toMap
  }

  /** Driver side: merges the committed tasks' accumulators. */
  private final class FoldJobTracker[A <: AnyRef](fold: RowFold[A])
      extends WriteJobStatsTracker {
    @transient @volatile var result: Map[Int, A] = Map.empty

    override def newTaskInstance(): WriteTaskStatsTracker =
      new FoldTaskTracker(fold)

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      result = mergeAll(fold, stats.map(_.asInstanceOf[Folded[A]]))
  }

  /** Task side: one accumulator per partition value. A file is bound to
    * the partition opened before it (the writer announces a partition,
    * then its files), so rows are folded by the file they go to.
    */
  private final class FoldTaskTracker[A <: AnyRef](fold: RowFold[A])
      extends WriteTaskStatsTracker {
    private val accs = new java.util.HashMap[Int, A]
    private val byFile = new java.util.HashMap[String, A]
    private var current: A = _
    private var lastFile: String = _
    private var lastAcc: A = _

    override def newPartition(values: InternalRow): Unit = {
      require(!values.isNullAt(0), "TrackedWrite: null partition value")
      val k = values.getInt(0)
      current = accs.get(k)
      if (current == null) { current = fold.zero(); accs.put(k, current) }
    }

    override def newFile(filePath: String): Unit =
      byFile.put(filePath, current)

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne lastFile) {
        lastFile = filePath
        lastAcc = byFile.get(filePath)
      }
      fold.add(lastAcc, row)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      new Folded(accs)
  }
}

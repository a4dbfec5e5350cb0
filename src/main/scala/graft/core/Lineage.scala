package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.SharedRelation
import org.apache.spark.storage.StorageLevel

/** The engine's one persist-release and lineage-truncation policy: no
  * other code in `src/main/scala` releases a cache, truncates lineage
  * or reads the checkpoint dir (`LineageSpec` checks the sources).
  *
  *   - [[scoped]] runs a block with a release [[Scope]]; what the
  *     scope holds is released, newest first, when the block returns
  *     or throws, so no error path leaves a cached copy behind. A
  *     frame the block returns must not read the scope's caches: [[cut]]
  *     or collect it first, or Spark could recompute it after the
  *     release (a range shuffle would re-sample its boundaries).
  *   - [[Scope.persist]] caches at MEMORY_AND_DISK a frame that
  *     several actions of one call read, so its plan runs once.
  *   - [[Scope.materialise]] also counts it, so its real size reaches
  *     the planner (which then broadcasts it when it fits).
  *   - [[Scope.stage]] is the copy a lost executor cannot take with
  *     it: parquet under the checkpoint dir when one is set (deleted on
  *     release), [[Scope.materialise]] otherwise.
  *   - [[cut]] is an eager local checkpoint for a frame that outlives
  *     its scope. It stays local with a checkpoint dir set: a reliable
  *     checkpoint leaves a directory there that nothing deletes.
  *   - [[iterate]] truncates one round of iterative state: a durable
  *     eager checkpoint when a dir is set (a lost executor does not
  *     fail the loop), else a lazy local one that the round's single
  *     convergence action materialises.
  *   - [[share]] is a frame that several queries read while its
  *     shuffles run once (a feature build's fit and transform): the
  *     queries read one executed plan, so the scheduler skips the map
  *     stages it has run. Nothing is cached; the shuffle files go with
  *     the frame, as any query's do, and a lost one is recomputed from
  *     lineage. Across it, Spark neither prunes columns nor pushes
  *     filters.
  *
  * Not scoped, because they stay registered until
  * `spark.catalog.clearCache()` by contract (built once, read by later
  * calls or micro-batches): the `SpanDedup` gram cache, the
  * `Dedup.containmentPairs` shingle sets, and the `StreamingOps`
  * decontamination fingerprints and IVF lists.
  */
object Lineage {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The caches, staged files and cleanups of one [[scoped]] block. */
  final class Scope private[Lineage] () extends AutoCloseable {
    private val releases =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    def persist(df: DataFrame): DataFrame = {
      onRelease(df.unpersist(false))
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    def materialise(df: DataFrame): (DataFrame, Long) =
      (persist(df), df.count())

    def stage(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      sc.getCheckpointDir.fold(materialise(df)._1) { dir =>
        val path = new org.apache.hadoop.fs.Path(dir,
          s"graft-stage-${java.util.UUID.randomUUID()}")
        onRelease(path.getFileSystem(sc.hadoopConfiguration)
          .delete(path, true))
        df.write.parquet(path.toString)
        df.sparkSession.read.parquet(path.toString)
      }
    }

    def onRelease(release: => Any): Unit = releases += (() => release)

    /** Runs every release, newest first, even past a failing one; the
      * first failure is rethrown with the rest suppressed.
      */
    override def close(): Unit = {
      val failures = releases.reverseIterator.flatMap(r =>
        scala.util.Try(r()).failed.toOption).toList
      releases.clear()
      failures.headOption.foreach { f =>
        failures.tail.foreach(f.addSuppressed)
        throw f
      }
    }
  }

  /** Run `body` with a fresh [[Scope]] and release it on exit (a
    * release failure during an exception is added to it as suppressed).
    */
  def scoped[A](body: Scope => A): A =
    scala.util.Using.resource(new Scope)(body)

  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `df` with its shuffles run once however many queries read it
    * (`graftbridge.SharedRelation`): its map stages run as one job,
    * described `lineage.share <op>`, when the first query reads it. A
    * plan with no exchange has nothing to share and is returned as is.
    * Logs one `lineage.share op= path=shared|plan shuffles= partitions=`
    * line at INFO.
    */
  def share(df: DataFrame, op: String): DataFrame = {
    val (out, shuffles, partitions) =
      SharedRelation.share(df, s"lineage.share $op")
    log.info(s"lineage.share op=$op " +
      s"path=${if (shuffles > 0) "shared" else "plan"} " +
      s"shuffles=$shuffles partitions=$partitions")
    out
  }

  def iterate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(false)
}

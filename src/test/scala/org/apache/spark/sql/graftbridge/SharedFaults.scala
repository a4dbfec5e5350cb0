package org.apache.spark.sql.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, SparkEnv}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.classic.Dataset

/** Spec helpers around [[SharedRelation]] that need Spark's
  * `private[spark]` and `private[sql]` API.
  */
object SharedFaults {

  /** The shuffle ids of the shared relations in `df`'s plan. */
  def shuffleIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case r: SharedRelation.Relation =>
      r.shared.shuffles.map(_.shuffleId)
    }.flatten

  /** `df`'s plan with every shared relation replaced by its source, so
    * each query runs the source's shuffles again.
    */
  def unshared(df: DataFrame): DataFrame =
    Dataset.ofRows(castToImpl(df.sparkSession),
      df.queryExecution.logical.transform {
        case r: SharedRelation.Relation => r.source
      })

  /** Forgets every map output of `shuffleId`, as losing the executors
    * that wrote them would.
    */
  def loseMapOutputs(shuffleId: Int): Unit =
    SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      .unregisterAllMapAndMergeOutput(shuffleId)
}

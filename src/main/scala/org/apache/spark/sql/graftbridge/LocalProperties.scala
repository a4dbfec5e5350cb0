package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.Utils

/** Carries a thread's Spark local properties (job description, job
  * group, custom keys) to work run on another thread, through Spark's
  * `private[spark]` accessors. The SQL execution id is never carried: a
  * job on the other thread belongs to its own execution, as in Spark's
  * `SQLExecution.withThreadLocalCaptured`.
  */
object LocalProperties {

  /** A copy of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties = {
    val p = Utils.cloneProperties(sc.getLocalProperties)
    p.remove(SQLExecution.EXECUTION_ID_KEY)
    p
  }

  /** Runs `body` with `props` as this thread's local properties, then
    * restores the thread's own, also when `body` throws.
    */
  def within[A](sc: SparkContext, props: Properties)(body: => A): A = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(own)
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.{ShuffleDependency, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan,
  Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{InputRDDCodegen, LeafExecNode,
  QueryExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** A frame that several queries read while its shuffles run once.
  *
  * [[SharedRelation.share]] plans the frame without adaptive execution
  * and keeps the executed RDD. Every query over the result reads that
  * one RDD, so all of them depend on the same `ShuffleDependency`
  * objects, and the DAG scheduler skips a map stage whose outputs are
  * already registered. Nothing is cached: the map outputs are the
  * shuffle files Spark writes anyway, released by the ContextCleaner
  * once the frame is unreachable, and a lost map output is recomputed
  * from the RDD's lineage like any other.
  *
  * The map stages stay lazy. The first query that executes the frame
  * first runs them as one job under the share's description, then
  * reads them. A broadcast or a subquery inside the shared plan runs
  * when it is shared.
  *
  * The logical leaf keeps the source plan as an inner child, as
  * `InMemoryRelation` does, so the plan string and `explain` still
  * show what the frame computes. Across the boundary there is no
  * column pruning, no filter pushdown and no adaptive coalescing. The
  * first share in a session adds the leaf's planning strategy to the
  * session's experimental strategies.
  */
object SharedRelation {

  /** `df` over its shared executed RDD, the number of shuffle map
    * stages it shares and its partition count; `df` itself and 0
    * shuffles when its plan has no exchange. `desc` is the job
    * description of the map stages' job.
    */
  def share(df: DataFrame, desc: String): (DataFrame, Int, Int) = {
    val spark = castToImpl(df.sparkSession)
    val qe = df.queryExecution
    // non-adaptive: the adaptive plan would run its map stages when
    // its RDD is taken, here
    val plan = QueryExecution.prepareExecutedPlan(spark, qe.optimizedPlan)
    val rdd = plan.execute()
    val shuffles = mapSide(rdd)
    if (shuffles.isEmpty) (df, 0, rdd.getNumPartitions)
    else {
      val exp = spark.experimental
      exp.synchronized {
        if (!exp.extraStrategies.contains(Planning))
          exp.extraStrategies = exp.extraStrategies :+ Planning
      }
      val stats = qe.optimizedPlan.stats
      val shared = new Shared(plan, rdd, shuffles, desc)
      (Dataset.ofRows(spark, Relation(qe.analyzed.output, shared)(
        qe.analyzed, Statistics(stats.sizeInBytes, stats.rowCount))),
        shuffles.size, rdd.getNumPartitions)
    }
  }

  /** The shuffle dependencies `rdd` reads through narrow ones only. */
  private def mapSide(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.toSeq.flatMap {
      case s: ShuffleDependency[_, _, _] => Seq(s)
      case d => mapSide(d.rdd)
    }.distinct

  /** One shared plan, its executed RDD and the shuffles it reads. A
    * task that captures the scan ships none of them: they serve the
    * driver only.
    */
  final class Shared private[SharedRelation] (
      @transient val plan: SparkPlan,
      @transient val rdd: RDD[InternalRow],
      @transient val shuffles: Seq[ShuffleDependency[_, _, _]],
      desc: String) extends Serializable {
    @volatile private var mapped = false

    /** The RDD, after running its map stages once as one job. A failed
      * job is tried again by the next read.
      */
    def read(): RDD[InternalRow] = {
      if (!mapped) synchronized {
        if (!mapped) {
          val sc = rdd.sparkContext
          val caller = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
          sc.setJobDescription(desc)
          try shuffles.filter(_.rdd.getNumPartitions > 0)
            .map(sc.submitMapStage(_)).foreach(_.get())
          finally sc.setJobDescription(caller)
          mapped = true
        }
      }
      rdd
    }
  }

  /** The logical leaf over a [[Shared]] plan; `source` is the plan it
    * reads the results of.
    */
  final case class Relation(output: Seq[Attribute], shared: Shared)(
      val source: LogicalPlan, stats: Statistics)
      extends LeafNode with MultiInstanceRelation {
    override protected def otherCopyArgs: Seq[AnyRef] = Seq(source, stats)
    override def innerChildren: Seq[QueryPlan[_]] = Seq(source)
    override def computeStats(): Statistics = stats
    override def newInstance(): Relation =
      copy(output = output.map(_.newInstance()))(source, stats)
    override def simpleString(maxFields: Int): String =
      s"SharedRelation ${output.mkString("[", ", ", "]")}"
  }

  /** Scans a [[Shared]] RDD; its partitioning and ordering are the
    * shared plan's, over this node's attributes.
    */
  final case class ScanExec(output: Seq[Attribute], shared: Shared)
      extends LeafExecNode with InputRDDCodegen {
    @transient private lazy val toOwn =
      AttributeMap(shared.plan.output.zip(output))
    private def own[E <: Expression](e: E): E =
      e.transform { case a: Attribute => toOwn.getOrElse(a, a) }
        .asInstanceOf[E]
    override def outputPartitioning: Partitioning =
      shared.plan.outputPartitioning match {
        case e: Expression => own(e).asInstanceOf[Partitioning]
        case p => p
      }
    override def outputOrdering: Seq[SortOrder] =
      shared.plan.outputOrdering.map(own)
    override lazy val metrics = Map("numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"))
    override def inputRDD: RDD[InternalRow] = shared.read()
    override protected val createUnsafeProjection: Boolean = true
    override protected def doExecute(): RDD[InternalRow] = {
      val numOutputRows = longMetric("numOutputRows")
      val rowSchema = schema
      inputRDD.mapPartitionsWithIndexInternal { (index, iter) =>
        val proj = UnsafeProjection.create(rowSchema)
        proj.initialize(index)
        iter.map { r => numOutputRows += 1; proj(r) }
      }
    }
    override def innerChildren: Seq[QueryPlan[_]] = Seq(shared.plan)
    override def simpleString(maxFields: Int): String =
      s"SharedScan ${output.mkString("[", ", ", "]")}"
    override def doCanonicalize(): SparkPlan =
      copy(output = output.map(QueryPlan.normalizeExpressions(_, output)))
  }

  private object Planning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case r: Relation => ScanExec(r.output, r.shared) :: Nil
      case _ => Nil
    }
  }
}

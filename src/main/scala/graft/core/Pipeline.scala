package graft.core

import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Ordered transformer composition (reference sklearn Pipeline +
  * tubular/pipeline.py:10-113).
  *
  * `fit` threads one lazy DataFrame through the steps: each stateful
  * step triggers exactly one distributed aggregation (its fit-collect)
  * over the plan built so far; the final `transform` of the whole
  * pipeline is ONE composed logical plan that Catalyst collapses into a
  * single projection over the scan.
  */
class Pipeline(val steps: Seq[(String, Transformer)]) extends Serializable {
  require(steps.nonEmpty, "Pipeline needs at least one step")
  require(steps.map(_._1).distinct.size == steps.size,
    "duplicate step names")

  /** Fit with FIT-PASS FUSION.
    *
    * Steps are grouped into maximal runs of mutually independent
    * transformers — a step joins the current run iff its fit inputs
    * (`fitInputCols`) are untouched by the columns earlier run members
    * write (`writtenCols`; unknown output names end the run). Within a
    * run every `AggFittable` contributes its aggregation expressions to
    * ONE fused `df.agg(...)` job; remaining members fit sequentially
    * against the same input. Transform application order is unchanged,
    * so results are identical to the sequential protocol — but a
    * pipeline of k independent agg-fit transformers scans the (100 TB)
    * input once instead of k times.
    */
  def fit(df: DataFrame): this.type = {
    var cur = df
    var i = 0
    val n = steps.size
    while (i < n) {
      // maximal independent run [i, j)
      var j = i
      var written = Set.empty[String]
      var open = true
      while (j < n && open &&
          steps(j)._2.fitInputCols.forall(!written.contains(_))) {
        steps(j)._2.writtenCols match {
          case Some(ws) => written ++= ws
          case None => open = false // unknown outputs: include, then stop
        }
        j += 1
      }
      // (j > i always: `written` is empty on the run's first
      // iteration, so the inner while admits at least one step)

      val run = steps.slice(i, j).map(_._2)
      val (fusable, sequential) = run.partition {
        case t: AggFittable => t.needsFit && !t.isFitted
        case _ => false
      }
      val aggParts = fusable.map { t =>
        t.baseFitChecks(cur) // transform-only + columns, as standalone fit
        t.asInstanceOf[AggFittable] -> t.asInstanceOf[AggFittable]
          .fitAggExprs(cur)
      }
      val (zeroWidth, withExprs) = aggParts.partition(_._2.isEmpty)
      zeroWidth.foreach { case (t, _) => t.absorbAggRow(null, 0) }
      // run members are mutually independent by construction, so the
      // fused agg job and each remaining fit launch CONCURRENTLY:
      // Spark schedules concurrent actions on one session fine, each
      // transformer mutates only its own fitted state, and results
      // are order-independent — identical to the sequential protocol.
      // What this buys is overlapped job-scheduling/collect latency:
      // a pipeline of k small fit jobs pays ~1 job latency, not k
      // (the fit passes over a cached input are often latency-bound,
      // not throughput-bound). Each future runs with the caller's local
      // properties (job description, group, custom keys): a pooled
      // thread would otherwise label the jobs with whatever it
      // inherited when it was created.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      import org.apache.spark.sql.graftbridge.LocalProperties
      val sc = cur.sparkSession.sparkContext
      val props = LocalProperties.capture(sc)
      def launch(body: => Unit): Future[Unit] =
        Future(LocalProperties.within(sc, props)(body))
      val fusedJob: Option[Future[Unit]] =
        if (withExprs.nonEmpty) Some(launch {
          val aliased = withExprs.flatMap(_._2).zipWithIndex
            .map { case (e, k) => e.as(s"__fused$k") }
          val row = cur.agg(aliased.head, aliased.tail: _*).head()
          var off = 0
          withExprs.foreach { case (t, exprs) =>
            t.absorbAggRow(row, off)
            off += exprs.size
          }
        }) else None
      val seqJobs = sequential.map(t => launch { t.fit(cur); () })
      (fusedJob.toSeq ++ seqJobs)
        .foreach(Await.result(_, Duration.Inf))
      cur = run.foldLeft(cur)((d, t) => t.transform(d))
      i = j
    }
    this
  }

  def transform(df: DataFrame): DataFrame =
    steps.foldLeft(df) { case (cur, (_, t)) => t.transform(cur) }

  def fitTransform(df: DataFrame): DataFrame = { fit(df); transform(df) }

  def featureNamesOut: Seq[String] = steps.flatMap(_._2.featureNamesOut)

  /** JSON dump of the whole (fitted) pipeline
    * (dump_pipeline_to_json, tubular/pipeline.py:10-113).
    */
  def toJson: String = {
    val arr = JArray(steps.toList.map { case (name, t) =>
      JObject(List(
        JField("name", JString(name)),
        JField("transformer",
          JsonMethods.parse(Json.transformerToJson(t)))))
    })
    JsonMethods.compact(JsonMethods.render(
      JObject(List(
        JField("graftspark_version", JString(Json.Version)),
        JField("steps", arr)))))
  }
}

object Pipeline {
  def apply(steps: (String, Transformer)*): Pipeline = new Pipeline(steps)

  /** Rebuild a transform-only pipeline from JSON
    * (load_pipeline_from_json, tubular/pipeline.py:108-113).
    */
  def fromJson(json: String): Pipeline = {
    val parsed = JsonMethods.parse(json)
    val steps = (parsed \ "steps") match {
      case JArray(items) => items.map { item =>
        val name = (item \ "name") match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException("step missing name")
        }
        val t = Json.transformerFromJson(
          JsonMethods.compact(JsonMethods.render(item \ "transformer")))
        name -> t
      }
      case _ => throw new IllegalArgumentException("missing steps")
    }
    new Pipeline(steps)
  }
}

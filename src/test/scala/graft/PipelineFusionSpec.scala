package graft

import graft.core.Pipeline
import graft.operators._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pipeline fit-pass fusion: independent AggFittable steps must fit in
  * ONE scan, dependent steps must still see their predecessors'
  * transforms, and results must equal the sequential protocol.
  */
class PipelineFusionSpec extends SparkSpec {

  private def frame() = df(
    "a DOUBLE, b DOUBLE, fmt STRING, y DOUBLE", Seq(
      Row(1.0, null, "png", 1.0),
      Row(3.0, 2.0, "jpeg", 0.0),
      Row(null, 4.0, "png", 1.0),
      Row(5.0, 6.0, "webp", 0.0)))

  /** Count SQL executions (actions), not Spark jobs — AQE legitimately
    * splits one query into several jobs.
    */
  private def countJobs(body: => Unit): Int = {
    var execs = 0
    val l = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent)
          : Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs += 1
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(300) // listener bus is async; drain
    } finally spark.sparkContext.removeSparkListener(l)
    execs
  }

  test("independent agg fits fuse into one job") {
    val d = frame()
    val pipe = Pipeline(
      "im_a" -> new MeanImputer(Seq("a")),
      "im_b" -> new MeanImputer(Seq("b")),
      "oh" -> new OneHotEncodingTransformer(Seq("fmt")))
    val jobs = countJobs(pipe.fit(d))
    assert(jobs == 1, s"expected 1 fused fit job, got $jobs")

    val out = pipe.transform(d).orderBy("y", "a")
    // means: a = (1+3+5)/3 = 3.0, b = 4.0
    assert(column(out, "a") == Seq(3.0, 5.0, 1.0, 3.0))
    // b mean over non-null = (2+4+6)/3 = 4.0; null (row a=1,y=1) filled
    assert(column(out, "b") == Seq(2.0, 6.0, 4.0, 4.0))
    assert(out.columns.contains("fmt_png"))
  }

  test("fit jobs on pooled threads carry the caller's description, " +
      "job group and custom properties") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    def pipe() = Pipeline(
      "im" -> new MeanImputer(Seq("a")),
      "ce" -> new CountEncoderTransformer(Seq("fmt")),
      "mr" -> new MeanResponseTransformer(Seq("fmt"), "y"))
    // pooled threads first created under other labels must not leak them
    (1 to 2).foreach { i =>
      sc.setJobDescription(s"stale $i")
      try pipe().fit(frame()) finally sc.setJobDescription(null)
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Properties]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(DrainKey) == null)
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    sc.setJobGroup("fit-group", "fit caller")
    sc.setLocalProperty("graft.test.caller", "yes")
    try { pipe().fit(frame()); drainListenerBus() }
    finally {
      sc.removeSparkListener(l)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.test.caller", null)
    }
    val props = seen.asScala.toList
    assert(props.size >= 3, s"${props.size} fit jobs")
    props.foreach { p =>
      assert(p.getProperty("spark.job.description") == "fit caller", p)
      assert(p.getProperty("spark.jobGroup.id") == "fit-group", p)
      assert(p.getProperty("graft.test.caller") == "yes", p)
    }
  }

  test("fused fit equals sequential fit") {
    val d = frame()
    val fused = Pipeline(
      "im_a" -> new MeanImputer(Seq("a")),
      "im_b" -> new MeanImputer(Seq("b")))
    fused.fit(d)
    val seqA = new MeanImputer(Seq("a")).fit(d)
    val seqB = new MeanImputer(Seq("b")).fit(d)
    assert(fused.steps(0)._2.asInstanceOf[MeanImputer].imputeValues ==
      seqA.imputeValues)
    assert(fused.steps(1)._2.asInstanceOf[MeanImputer].imputeValues ==
      seqB.imputeValues)
  }

  test("dependent step fits AFTER its producer's transform") {
    val d = frame()
    // SetValue writes 'a'; the imputer fitting on 'a' must see the
    // constant, not the original — the run must break between them.
    val pipe = Pipeline(
      "set_a" -> new SetValueTransformer(Seq("a"), 9.0),
      "im_a" -> new MeanImputer(Seq("a")))
    pipe.fit(d)
    val im = pipe.steps(1)._2.asInstanceOf[MeanImputer]
    assert(im.imputeValues("a") == 9.0)
  }

  test("one-hot without wanted values is a run barrier") {
    val d = frame()
    // oh writes fmt_png/...; quality of the barrier: a following step
    // fitting on a NEW one-hot output column must still work.
    val pipe = Pipeline(
      "oh" -> new OneHotEncodingTransformer(Seq("fmt")),
      "im" -> new MeanImputer(Seq("a")))
    pipe.fit(d) // would throw if im fit ran against a frame missing checks
    val im = pipe.steps(1)._2.asInstanceOf[MeanImputer]
    assert(im.imputeValues("a") == 3.0)
  }

  test("one-hot WITH wanted values fuses instead of crashing pre-fit") {
    // regression: writtenCols consulted during fusion planning used to
    // call categories() on the still-empty map when wanted_values was
    // set but fit hadn't run
    val d = frame()
    val pipe = Pipeline(
      "oh" -> new OneHotEncodingTransformer(Seq("fmt"),
        wantedValues = Map("fmt" -> Seq("png", "jpeg"))),
      "im" -> new MeanImputer(Seq("a")))
    pipe.fit(d)
    val out = pipe.transform(d)
    assert(out.columns.contains("fmt_png"))
    assert(out.columns.contains("fmt_jpeg"))
    assert(pipe.steps(1)._2.asInstanceOf[MeanImputer]
      .imputeValues("a") == 3.0)
  }

  test("ModeImputer fits all same-typed columns in one job") {
    val d = df("a STRING, b STRING", Seq(
      Row("x", "p"), Row("x", "q"), Row("y", "q"), Row(null, null)))
    val im = new ModeImputer(Seq("a", "b"))
    val jobs = countJobs(im.fit(d))
    assert(jobs == 1, s"expected 1 melted fit job for 2 columns, got $jobs")
    assert(im.imputeValues == Map("a" -> "x", "b" -> "q"))
  }

  test("fused pipeline JSON round-trip still transforms identically") {
    val d = frame()
    val pipe = Pipeline(
      "im_a" -> new MeanImputer(Seq("a")),
      "oh" -> new OneHotEncodingTransformer(Seq("fmt")))
    pipe.fit(d)
    val re = Pipeline.fromJson(pipe.toJson)
    val a = pipe.transform(d).orderBy("y", "a").collect().toSeq
    val b = re.transform(d).orderBy("y", "a").collect().toSeq
    assert(a == b)
  }

  test("resurrected ScalingTransformer fuses with sibling agg fits") {
    val d = frame()
    val pipe = Pipeline(
      "im_a" -> new MeanImputer(Seq("a")),
      "sc" -> new ScalingTransformer(Seq("y"), "min_max"))
    val jobs = countJobs(pipe.fit(d))
    assert(jobs == 1, s"expected 1 fused fit job, got $jobs")
    val out = pipe.transform(d).orderBy("y", "a")
    // y in {0,1} -> min_max is identity here; a imputed with 3.0
    assert(column(out, "y") == Seq(0.0, 0.0, 1.0, 1.0))
    assert(column(out, "a") == Seq(3.0, 5.0, 1.0, 3.0))
  }
}

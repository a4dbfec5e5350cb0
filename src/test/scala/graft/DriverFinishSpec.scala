package graft

import graft.core.DriverFinish
import graft.dedup.{Components, Dedup}
import graft.text.SpanDedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The bounded driver collect and the small-batch paths that finish
  * through it: LSH candidates, Jaccard verification of driver-held
  * candidates, connected components and duplicated spans each run at
  * most one job under their own job description, and answer exactly as
  * their distributed paths do (threshold -1).
  */
class DriverFinishSpec extends SparkSpec {

  private val Key = "spark.sql.autoBroadcastJoinThreshold"

  private def withLimit[T](limit: String)(body: => T): T = {
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, limit)
    try body finally spark.conf.set(Key, prev)
  }

  /** Seeded captions with near-dup chains (7 ~ 1, 8 ~ 2, 9 ~ 7) and a
    * 12-token run shared by 3 and 11.
    */
  private lazy val docRows: Seq[(Long, String)] = {
    def text(seed: Int, len: Int) = {
      val r = new scala.util.Random(seed)
      Seq.fill(len)(s"w${r.nextInt(300)}").mkString(" ")
    }
    val base = (1 to 6).map(i => i.toLong -> text(i, 30 + i))
    val t = base.toMap
    val run = (1 to 12).map(i => s"run$i").mkString(" ")
    base.map { case (i, s) => if (i == 3L) i -> s"$s $run" else i -> s } ++
      Seq(7L -> s"${t(1L)} extra", 8L -> s"${t(2L)} more",
        9L -> s"${t(1L)} extra again", 10L -> text(10, 25),
        11L -> s"${text(11, 20)} $run", 12L -> "too short")
  }

  private def docs: DataFrame = df("doc_id BIGINT, text STRING",
    docRows.map { case (i, s) => Row(i, s) })

  /** The docs as a parquet scan, so each op's job is a real file scan;
    * four files, so the span kernel's input is not spread.
    */
  private lazy val docPath: String = {
    val p = java.nio.file.Files.createTempDirectory("finish_docs")
      .toString + "/docs"
    docs.repartition(4).write.parquet(p)
    p
  }

  private def scanned: DataFrame = spark.read.parquet(docPath)

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).toSeq.sorted

  test("DriverFinish.collect: ships the rows while their total " +
      "UnsafeRow bytes fit the limit, however they are split") {
    // 100 rows of one long: 16 UnsafeRow bytes each
    val one = spark.range(0, 100, 1, 1).toDF("id")
    def got(d: DataFrame, limit: Long) = withLimit(limit.toString)(
      DriverFinish.collect(d, "spec").map(_.map(_.getLong(0)).sorted))
    assert(got(one, 1600L) == Some((0L until 100L).toSeq))
    assert(got(one, 1599L).isEmpty)
    val four = spark.range(0, 100, 1, 4).toDF("id")
    assert(got(four, 1600L).map(_.length) == Some(100))
    assert(got(four, 1599L).isEmpty)
    // a skewed split fits when its total does: 101 rows, 1616 bytes
    val skewed = spark.range(0, 100, 1, 1)
      .union(spark.range(100, 101, 1, 3)).toDF("id")
    assert(got(skewed, 1600L * 4 - 1).map(_.length) == Some(101))
    assert(got(skewed, 1616L).map(_.length) == Some(101))
    assert(got(skewed, 1615L).isEmpty)
    assert(got(one, -1L).isEmpty)
  }

  test("DriverFinish.collect: the driver receives at most the limit, " +
      "however many partitions fit it alone") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val shipped = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val drainStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(DrainKey) != null))
          e.stageIds.foreach(drainStages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!drainStages.contains(e.stageId))
          Option(e.taskMetrics).foreach(m => shipped.add(m.resultSize))
    }
    /** Result bytes of the tasks `body` ran, and their count. */
    def received[T](body: => T): (T, Long, Int) = {
      drainListenerBus()
      shipped.clear()
      val r = body
      drainListenerBus()
      (r, shipped.asScala.sum, shipped.size)
    }
    sc.addSparkListener(l)
    try {
      // 40 partitions of 1000 longs, 16 kB of UnsafeRows each: every
      // one fits the limit alone, all 640 kB of them do not
      val many = spark.range(0, 40000, 1, 40).toDF("id")
      val (over, overBytes, overTasks) = received(
        withLimit("102400")(DriverFinish.collect(many, "spec")))
      assert(over.isEmpty)
      assert(overTasks == 40)
      // each task ships its size record in the result envelope alone
      val envelope = overBytes / overTasks
      assert(overBytes < 102400, s"$overBytes bytes received")
      // a skewed split that fits: the heavy partition is fetched by a
      // second job, and no row is received twice (16 B of row and a 4 B
      // length each)
      val skewed = spark.range(0, 30000, 1, 1)
        .union(spark.range(30000, 40000, 1, 39)).toDF("id")
      val (fits, fitBytes, fitTasks) = received(
        withLimit("655360")(DriverFinish.collect(skewed, "spec")))
      assert(fits.map(_.length) == Some(40000))
      assert(fitTasks == 41)
      assert(fitBytes <= 20L * 40000 + 2 * envelope * fitTasks,
        s"$fitBytes bytes received in $fitTasks tasks")
    } finally sc.removeSparkListener(l)
  }

  test("DriverFinish.collect: rows already on the driver come back " +
      "without a job, measured against the same limit") {
    val local = df("a BIGINT, b STRING",
      Seq(Row(1L, "x"), Row(2L, null), Row(3L, "abcdefghi")))
      .filter(col("a") =!= 2L).select(col("a") * 10, col("b"))
    val (r, jobs) = describedJobs(DriverFinish.collect(local, "spec"))
    assert(jobs.isEmpty, s"jobs: $jobs")
    assert(r.map(_.map(x => (x.getLong(0), x.getUTF8String(1).toString)))
      == Some(Seq((10L, "x"), (30L, "abcdefghi"))))
    // UnsafeRow bytes: 8 null bits + 2 slots of 8, plus the string's
    // UTF-8 bytes padded to 8: 32 for row 10, 40 for row 30
    assert(withLimit("71")(DriverFinish.collect(local, "spec")).isEmpty)
    assert(withLimit("72")(DriverFinish.collect(local, "spec")).isDefined)
  }

  test("lshCandidates runs one job past its input count, named, and " +
      "answers as its distributed path, for long and int ids") {
    val in = scanned
    val (local, jobs) = describedJobs(Dedup.lshCandidates(in, "doc_id", "text"))
    // a file scan's row count takes a job; a cached input's is known
    assert(jobs == List("dedup.candidates", "dedup.candidates"),
      s"jobs: $jobs")
    assert(DriverFinish.held(local).isDefined)
    val cached = scanned.persist()
    cached.count()
    val (fromCache, one) = describedJobs(
      Dedup.lshCandidates(cached, "doc_id", "text"))
    assert(one == List("dedup.candidates"), s"jobs: $one")
    val dist = withLimit("-1")(Dedup.lshCandidates(scanned, "doc_id", "text"))
    assert(DriverFinish.held(dist).isEmpty)
    assert(local.schema == dist.schema && fromCache.schema == dist.schema)
    assert(rows(local) == rows(dist) && rows(fromCache) == rows(dist) &&
      rows(local).nonEmpty)
    // at -1 nothing runs: the lazy self-join as it is
    val again = scanned
    val (_, none) = describedJobs(withLimit("-1")(
      Dedup.lshCandidates(again, "doc_id", "text")))
    assert(none.isEmpty, s"jobs: $none")
    // band rows bounded over the limit (11 docs x 8 x 32 B): only the
    // count runs, and the lazy self-join answers
    val (joined, counted) = describedJobs(withLimit("1000")(
      Dedup.lshCandidates(cached, "doc_id", "text")))
    assert(counted.isEmpty, s"jobs: $counted")
    assert(DriverFinish.held(joined).isEmpty)
    assert(joined.schema == dist.schema && rows(joined) == rows(dist))
    spark.catalog.clearCache()
    val ints = scanned.withColumn("doc_id", col("doc_id").cast("int"))
    val li = Dedup.lshCandidates(ints, "doc_id", "text")
    val di = withLimit("-1")(Dedup.lshCandidates(ints, "doc_id", "text"))
    assert(li.schema == di.schema && rows(li) == rows(di))
  }

  test("verifyJaccard on driver-held candidates runs one job, named, " +
      "and answers as its distributed path") {
    val cands = Dedup.lshCandidates(scanned, "doc_id", "text")
    val in = scanned
    val (local, jobs) = describedJobs(
      Dedup.verifyJaccard(cands, in, "doc_id", "text", 0.5, 3))
    assert(jobs == List("dedup.verify"), s"jobs: $jobs")
    val dist = withLimit("-1")(
      Dedup.verifyJaccard(cands, scanned, "doc_id", "text", 0.5, 3))
    assert(local.schema == dist.schema)
    assert(rows(local) == rows(dist))
    assert(local.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 7L), (1L, 9L), (2L, 8L), (7L, 9L)))
    // repeated ids pair once per copy, as the joins do
    val twice = scanned.unionByName(scanned.filter(col("doc_id") === 7L))
    val l2 = Dedup.verifyJaccard(cands, twice, "doc_id", "text", 0.5, 3)
    val d2 = withLimit("-1")(
      Dedup.verifyJaccard(cands, twice, "doc_id", "text", 0.5, 3))
    assert(rows(l2) == rows(d2) && rows(l2).size == rows(local).size + 2)
  }

  test("connectedComponents on a small graph runs at most one job, " +
      "named, and answers as the iterative rounds") {
    val edges = df("a BIGINT, b BIGINT", Seq(Row(5L, 3L), Row(3L, 9L),
      Row(9L, 9L), Row(20L, 21L), Row(21L, 20L)))
    val p = java.nio.file.Files.createTempDirectory("finish_edges")
      .toString + "/e"
    edges.write.parquet(p)
    val in = spark.read.parquet(p)
    val (held, heldJobs) = describedJobs(
      Components.connectedComponents(edges, "a", "b").collect())
    assert(heldJobs.isEmpty, s"jobs: $heldJobs")
    val (local, jobs) = describedJobs(
      Components.connectedComponents(in, "a", "b"))
    assert(jobs == List("dedup.components"), s"jobs: $jobs")
    val dist = withLimit("-1")(
      Components.connectedComponents(spark.read.parquet(p), "a", "b"))
    assert(local.schema == dist.schema)
    assert(rows(local) == rows(dist) && held.map(_.toString).sorted.toSeq ==
      rows(dist))
    assert(rows(local) == Seq("[20,20]", "[21,20]", "[3,3]", "[5,3]",
      "[9,3]"))
  }

  test("duplicatedSpans runs one job, named, and answers as its " +
      "distributed path, for long and string ids") {
    spark.catalog.clearCache()
    val in = scanned
    val (local, jobs) = describedJobs(
      SpanDedup.duplicatedSpans(in, "doc_id", "text", 8))
    assert(jobs == List("text.spans"), s"jobs: $jobs")
    assert(DriverFinish.held(local).isDefined)
    val dist = withLimit("-1")(
      SpanDedup.duplicatedSpans(scanned, "doc_id", "text", 8))
    assert(local.schema == dist.schema)
    assert(rows(local) == rows(dist))
    assert(local.filter(col("doc_id").isin(3L, 11L)).collect()
      .map(r => (r.getLong(0), r.getLong(2) - r.getLong(1) + 1)).toSet ==
      Set((3L, 12L), (11L, 12L)))
    val named = scanned.withColumn("doc_id",
      when(col("doc_id") =!= 4L, concat(lit("d"), col("doc_id"))))
    val ls = SpanDedup.duplicatedSpans(named, "doc_id", "text", 8)
    val ds = withLimit("-1")(
      SpanDedup.duplicatedSpans(named, "doc_id", "text", 8))
    assert(ls.schema == ds.schema && rows(ls) == rows(ds))
    // an input whose plan has an exchange (a join on an aggregate)
    // answers the same under the same label; it runs 4 jobs today, not
    // one (ROADMAP, the `DriverFinish.within` item)
    spark.catalog.clearCache()
    val joined = scanned.join(
      scanned.groupBy("doc_id").count().drop("count"), "doc_id")
    val (fromJoin, joinJobs) = describedJobs(
      SpanDedup.duplicatedSpans(joined, "doc_id", "text", 8))
    assert(joinJobs.nonEmpty && joinJobs.forall(_ == "text.spans"),
      s"jobs: $joinJobs")
    assert(rows(fromJoin) == rows(local))
    spark.catalog.clearCache()
  }

  test("an input over the limit is evaluated once, for lshCandidates " +
      "and duplicatedSpans") {
    val sc = spark.sparkContext
    val seen = sc.longAccumulator("doc rows read")
    val tap = udf((id: Long) => { seen.add(1L); id }).asNondeterministic()
    val tapped = scanned.withColumn("doc_id", tap(col("doc_id")))
    val n = docRows.size.toLong
    val cands = withLimit("100")(
      Dedup.lshCandidates(tapped, "doc_id", "text").collect())
    assert(seen.value == n, s"${seen.value} doc rows evaluated for $n")
    assert(cands.map(_.toString).sorted.toSeq ==
      rows(Dedup.lshCandidates(scanned, "doc_id", "text")))
    seen.reset()
    spark.catalog.clearCache()
    val spans = withLimit("100")(
      SpanDedup.duplicatedSpans(tapped, "doc_id", "text", 8).collect())
    assert(seen.value == n, s"${seen.value} doc rows evaluated for $n")
    assert(spans.map(_.toString).sorted.toSeq ==
      rows(SpanDedup.duplicatedSpans(scanned, "doc_id", "text", 8)))
    spark.catalog.clearCache()
  }

  test("spreadForKernel runs no job on a join input, and still spreads " +
      "a plain narrow scan") {
    val small = df("doc_id BIGINT, tag STRING", Seq(Row(1L, "a")))
    val join = scanned.join(broadcast(small), Seq("doc_id"), "left")
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val (out, jobs) = describedJobs(Dedup.spreadForKernel(join))
    assert(jobs.isEmpty, s"jobs: $jobs")
    assert(out eq join)
    val target = spark.sparkContext.defaultParallelism
    val (spread, none) = describedJobs(Dedup.spreadForKernel(narrow))
    assert(none.isEmpty, s"jobs: $none")
    assert(spread.rdd.getNumPartitions == target)
  }
}

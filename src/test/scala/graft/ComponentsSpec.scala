package graft

import graft.dedup.Components
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {

  private def edgesDf(pairs: Seq[(Long, Long)]) =
    df("a BIGINT, b BIGINT", pairs.map(p => Row(p._1, p._2)))

  /** Reference union-find, the test oracle. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edgesDf(pairs), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two separate components, min id as representative") {
    val got = ccMap(Seq((5L, 3L), (3L, 9L), (20L, 21L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L))
  }

  test("path graph converges via pointer jumping (log rounds)") {
    // a 200-node path would need 200 neighbor-propagation rounds;
    // with jumps it must finish inside the default maxIter=40
    val path = (1L until 200L).map(i => (i, i + 1))
    val got = ccMap(path)
    assert(got.size == 200 && got.values.forall(_ == 1L))
  }

  test("self loops and duplicate/reversed edges are harmless") {
    val got = ccMap(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L),
      (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  /** Run `body` with the driver local finish disabled (threshold -1),
    * forcing the distributed iterative rounds (the 100-TB path).
    */
  private def forcingIterative[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body
    finally spark.conf.set(key, prev)
  }

  test("random graphs match union-find (local-finish path)") {
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(59)
      val pairs = Seq.fill(1 + rnd.nextInt(80))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      if (pairs.nonEmpty)
        assert(ccMap(pairs) == unionFind(pairs), s"seed=$seed")
    }
  }

  test("iterative rounds match union-find AND the local finish " +
      "(both strategies, same fixpoint)") {
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val n = 2 + rnd.nextInt(59)
      val pairs = Seq.fill(1 + rnd.nextInt(80))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        val local = ccMap(pairs)
        val iterative = forcingIterative(ccMap(pairs))
        assert(iterative == unionFind(pairs), s"seed=$seed")
        assert(local == iterative, s"seed=$seed")
      }
    }
    // path + star, the two adversarial diameters
    val path = (1L until 64L).map(i => (i, i + 1))
    assert(forcingIterative(ccMap(path)) == ccMap(path))
    val star = (2L to 40L).map(i => (i, 1L))
    assert(forcingIterative(ccMap(star)) == ccMap(star))
  }

  test("non-convergence inside maxIter fails loudly, not silently") {
    // force the iterative rounds: the driver local finish (which small
    // graphs take by default) has no convergence loop to exhaust
    val path = (1L until 50L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      forcingIterative {
        Components.connectedComponents(edgesDf(path), "a", "b",
          maxIter = 2).collect()
      }
    }
    assert(e.getMessage.contains("converge"))
  }

  test("reliable checkpoint dir is used when configured (iterative path)") {
    val dir = java.nio.file.Files
      .createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val got = forcingIterative(ccMap(Seq((5L, 3L), (3L, 9L))))
      assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
      // durable round states actually landed in the checkpoint dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("dedupByComponents keeps representatives + untouched rows") {
    val data = df("id BIGINT, v STRING", Seq(
      Row(1L, "a"), Row(2L, "b"), Row(3L, "c"), Row(4L, "d"),
      Row(5L, "e")))
    // 1~2~3 one cluster; 4,5 untouched
    val out = Components.dedupByComponents(data, "id",
      edgesDf(Seq((2L, 1L), (2L, 3L))), "a", "b")
    assert(column(out.orderBy("id"), "id") == Seq(1L, 4L, 5L))
  }

  test("dedupByComponents over driver-held components filters by id: " +
      "an action runs no broadcast job, and the answer (null and int " +
      "ids included) equals the join path's") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(60)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val intIds = df("id INT, v STRING",
      (0 until 100).map(i => Row(if (i % 23 == 0) null else i, s"v$i")))
    val longIds = df("id BIGINT, v STRING",
      (0 until 100).map(i => Row(if (i % 19 == 0) null else i.toLong, s"v$i")))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)).map(_.toString), r.getString(1)))
        .toSeq.sortBy(_._2)
    for (data <- Seq(intIds, longIds)) {
      val kept = Components.dedupByComponents(data, "id", edgesDf(pairs),
        "a", "b")
      val sc = spark.sparkContext
      drainListenerBus()
      val broadcasts = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).flatMap(p => Option(p.getProperty(
              "spark.job.description"))).exists(_.startsWith("broadcast")))
            broadcasts.incrementAndGet()
      }
      sc.addSparkListener(l)
      val got = try { val g = rows(kept); kept.count(); drainListenerBus(); g }
        finally sc.removeSparkListener(l)
      assert(broadcasts.get() === 0)
      val plan = kept.queryExecution.executedPlan
      assert(plan.collect { case j: org.apache.spark.sql.execution.joins
        .BroadcastHashJoinExec => j }.isEmpty, plan.toString)
      val off = "spark.sql.autoBroadcastJoinThreshold"
      val was = spark.conf.get(off)
      spark.conf.set(off, "-1")
      val joined = try rows(Components.dedupByComponents(data, "id",
        edgesDf(pairs), "a", "b")) finally spark.conf.set(off, was)
      assert(got === joined)
      assert(got.exists(_._1.isEmpty))
      assert(got.size < 100)
    }
  }

  test("dedupByComponentsBest: argmax score per cluster, ties -> smallest id, NaN never wins") {
    val data = df("id BIGINT, sc DOUBLE, v STRING", Seq(
      Row(1L, 1.0, "a"), Row(2L, 5.0, "b"), Row(3L, 5.0, "c"),
      Row(4L, 0.5, "d"), Row(5L, Double.NaN, "e"),
      Row(6L, -1.0, "f")))
    // {1,2,3}: max score ties at 2,3 -> smaller id 2 wins;
    // {4,5}: Spark sorts NaN GREATEST, but the guard maps it to
    // -Infinity so the real score 0.5 wins; 6 is untouched
    val out = Components.dedupByComponentsBest(data, "id",
      edgesDf(Seq((1L, 2L), (2L, 3L), (4L, 5L))), "a", "b", "sc")
    assert(column(out.orderBy("id"), "id") == Seq(2L, 4L, 6L))
    // full rows survive, not just ids
    assert(column(out.orderBy("id"), "v") == Seq("b", "d", "f"))
  }

  test("leakageSafeSplit: cluster members share a split; singletons match per-id hashSplit") {
    val data = df("id BIGINT, v STRING", (1L to 40L).map(i =>
      Row(i, s"v$i")))
    // clusters {1,2,3} and {10,11}; the rest are singletons
    val edges = edgesDf(Seq((2L, 1L), (2L, 3L), (10L, 11L)))
    val cuts = Seq("train" -> 80, "val" -> 90, "test" -> 100)
    val got = Components.leakageSafeSplit(data, "id", edges, "a", "b",
      salt = "s1", cuts).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(got.size === 40)
    // no near-dup pair may straddle splits (the leakage property)
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L))
    // cluster members inherit the CANONICAL member's assignment, and
    // singletons are plain hashSplit — so the whole map must equal
    // hashSplit applied to the component-or-self key
    val perKey = graft.text.Sharding.hashSplit(
      data.withColumn("key",
        when(col("id").isin(1L, 2L, 3L), 1L)
          .when(col("id").isin(10L, 11L), 10L).otherwise(col("id"))),
      "key", "s1", cuts).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(got === perKey)
  }

  test("clusterSizeWeights: 1/|cluster|, singletons 1.0, mass conserved") {
    val docs = df("id BIGINT", (1L to 6L).map(Row(_)))
    // {1,2,3} one cluster via chain, {4,5} pair, {6} singleton
    val edges = df("a BIGINT, b BIGINT",
      Seq(Row(1L, 2L), Row(2L, 3L), Row(4L, 5L)))
    val out = graft.dedup.Components
      .clusterSizeWeights(docs, "id", edges, "a", "b")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == Seq(1L -> (1.0 / 3), 2L -> (1.0 / 3), 3L -> (1.0 / 3),
      4L -> 0.5, 5L -> 0.5, 6L -> 1.0))
    // total sampling mass = number of distinct pages (3 clusters)
    assert(math.abs(out.map(_._2).sum - 3.0) < 1e-12)
  }
}

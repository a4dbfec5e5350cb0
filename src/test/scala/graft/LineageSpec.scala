package graft

import graft.core.{Lineage, Stats}
import graft.dedup.{Components, MinhashIndex}
import graft.io.SnapshotStore
import graft.operators.{Behavior, Eval}
import graft.text.{Sharding, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class LineageSpec extends SparkSpec {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def filesUnder(dir: java.nio.file.Path): List[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.toList
      .filterNot(java.nio.file.Files.isDirectory(_))
    finally s.close()
  }

  /** Run `body` with a fresh checkpoint dir set, then unset it. */
  private def withCheckpointDir[A](body: java.nio.file.Path => A): A = {
    val ck = java.nio.file.Files.createTempDirectory("lineage_ck")
    spark.sparkContext.setCheckpointDir(ck.toString)
    try body(ck) finally spark.sparkContext.setCheckpointDir(null)
  }

  test("scoped: releases in reverse order on exception, runs every " +
      "release, and rethrows the body's failure") {
    spark.catalog.clearCache()
    val order = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ex = intercept[IllegalStateException] {
      Lineage.scoped { s =>
        s.persist(spark.range(10).toDF("id"))
        s.onRelease(order += 1)
        s.onRelease(throw new IllegalArgumentException("release 2"))
        s.onRelease(order += 3)
        assert(!cacheEmpty)
        throw new IllegalStateException("body")
      }
    }
    assert(ex.getMessage == "body")
    assert(order == Seq(3, 1))
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("release 2"))
    assert(cacheEmpty)
  }

  test("featuresOver releases its fit-input cache once the fit is done") {
    spark.catalog.clearCache()
    val joined = graft.Flagship.joinedInput(spark, 200L, 2)
    val cached = graft.Flagship.featuresOver(joined)
    assert(cacheEmpty)
    assert(cached.count() == 400L && cacheEmpty)
    assert(digestOf(cached) ==
      digestOf(graft.Flagship.featuresOver(joined, cacheFitInput = false)))
    assert(cacheEmpty)
  }

  // ---- share: one as-of map stage per feature build ----

  private def digestOf(d: DataFrame): Long = d.agg(expr("bit_xor(xxhash64(" +
    d.columns.map(c => s"`$c`").mkString(",") + "))")).head().getLong(0)

  /** A flagship joined input with a planted hot entity, auto-salted. */
  private def hotJoined(): DataFrame = graft.Flagship.joinedInputFrom(
    graft.io.ImageTable.events(spark, 300L, 4, hotFraction = 0.2),
    graft.io.ImageTable.snapshots(spark, 300L),
    graft.io.ImageTable.images(spark, 300L), autoSaltShare = Some(0.05))

  private val HotKey = "img_0000000000"

  /** `body`'s value and the number of stages completed while it ran
    * that wrote shuffle output and whose RDDs include the as-of union.
    */
  private def unionMapStages[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler._
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (i.failureReason.isEmpty &&
            i.taskMetrics.shuffleWriteMetrics.bytesWritten > 0 &&
            i.rddInfos.exists(_.name == "UnionRDD")) n.incrementAndGet()
      }
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      drainListenerBus()
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("share: a feature build runs the as-of union map stage once, " +
      "answers as the unshared plan and caches nothing") {
    spark.catalog.clearCache()
    val joined = hotJoined()
    assert(joined.queryExecution.logical.toString.contains(HotKey),
      "the shared plan no longer names the salted hot key")
    // the fit runs its jobs inside featuresOver; the digest reads every
    // feature column, as a sink does (a bare count needs no as-of match)
    val (digest, stages) =
      unionMapStages(digestOf(graft.Flagship.featuresOver(joined)))
    assert(stages == 1, s"$stages as-of union map stages in one build")
    assert(cacheEmpty)
    val plain = org.apache.spark.sql.graftbridge.SharedFaults.unshared(joined)
    assert(!plain.queryExecution.analyzed.toString.contains("SharedRelation"))
    val (plainDigest, plainStages) =
      unionMapStages(digestOf(graft.Flagship.featuresOver(plain)))
    assert(plainStages == 2 && digest == plainDigest)
    assert(graft.Flagship.featuresOver(joined).count() == 1200L)
    assert(cacheEmpty)
  }

  test("share: the map stages run as one described job when the first " +
      "query reads the frame; one lineage.share line per call") {
    val lines = infoLines(Lineage.getClass, "lineage.share") {
      val joined = hotJoined()
      val (_, jobs) = describedJobs(joined.count())
      assert(jobs.count(_ == "lineage.share flagship.asof") == 1, jobs)
      val (_, again) = describedJobs(joined.count())
      assert(!again.contains("lineage.share flagship.asof"), again)
      val rows = spark.range(10).toDF("id")
      val (same, none) = describedJobs(Lineage.share(rows, "scan"))
      assert((same eq rows) && none.isEmpty)
    }
    assert(lines == Seq(
      "lineage.share op=flagship.asof path=shared shuffles=1 partitions=4",
      "lineage.share op=scan path=plan shuffles=0 partitions=4"))
  }

  test("share: lost map outputs between fit and transform are " +
      "recomputed from lineage, with the same answer") {
    import org.apache.spark.sql.graftbridge.SharedFaults
    val joined = hotJoined()
    val expected = digestOf(graft.Flagship.featuresOver(
      SharedFaults.unshared(joined)))
    val pipe = graft.Flagship.fitPipeline(joined)
    val ids = SharedFaults.shuffleIds(joined)
    assert(ids.size == 1)
    ids.foreach(SharedFaults.loseMapOutputs)
    val (digest, stages) = unionMapStages(digestOf(pipe.transform(joined)))
    assert(stages == 1, "the lost as-of map stage was not recomputed")
    assert(digest == expected)
  }

  test("scoped: releases in reverse order on normal exit and returns " +
      "the body's value") {
    val order = scala.collection.mutable.ArrayBuffer.empty[Int]
    val n = Lineage.scoped { s =>
      s.onRelease(order += 1)
      s.onRelease(order += 2)
      s.materialise(spark.range(7).toDF("id"))._2
    }
    assert(n == 7L && order == Seq(2, 1) && cacheEmpty)
  }

  test("stage: parquet under the checkpoint dir, gone once the scope " +
      "exits; a cache when no dir is set") {
    spark.catalog.clearCache()
    val rows = spark.range(0, 20, 1, 2).toDF("id")
    withCheckpointDir { ck =>
      val got = Lineage.scoped { s =>
        val staged = s.stage(rows)
        assert(filesUnder(ck).exists(_.toString.endsWith(".parquet")))
        assert(cacheEmpty, "a durable stage caches nothing")
        staged.collect().map(_.getLong(0)).sorted.toSeq
      }
      assert(got == (0L until 20L))
      assert(filesUnder(ck).isEmpty, s"left behind: ${filesUnder(ck)}")
    }
    Lineage.scoped { s =>
      assert(s.stage(rows).count() == 20L)
      assert(!cacheEmpty)
    }
    assert(cacheEmpty)
  }

  test("cut stays local with a checkpoint dir set; iterate writes " +
      "there only when one is set") {
    val rows = spark.range(0, 10, 1, 2).toDF("id")
    withCheckpointDir { ck =>
      assert(Lineage.cut(rows).count() == 10L)
      assert(filesUnder(ck).isEmpty)
      assert(Lineage.iterate(rows).count() == 10L)
      assert(filesUnder(ck).nonEmpty)
    }
    val it = Lineage.iterate(rows)
    assert(it.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(it.count() == 10L)
  }

  // ---- every converted op answers as before and leaves no cache ----

  private def longs(d: DataFrame, cols: String*): Seq[Seq[Long]] =
    d.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(r.getLong)).toSeq
      .sortBy(_.mkString(","))

  private def docs(rows: (Long, String)*): DataFrame =
    df("doc_id BIGINT, text STRING", rows.map(r => Row(r._1, r._2)))

  private val opCases: Seq[(String, () => Unit)] = Seq(
    "Sharding.packShards" -> { () =>
      val d = df("id BIGINT, tok BIGINT",
        Seq(Row(1L, 3L), Row(2L, 4L), Row(3L, 5L), Row(4L, 6L)))
      assert(longs(Sharding.packShards(d, "id", "tok", 7L),
        "id", "cum_before", "shard") == Seq(Seq(1L, 0L, 0L),
        Seq(2L, 3L, 0L), Seq(3L, 7L, 1L), Seq(4L, 12L, 1L)))
    },
    "Sharding.packShardsDual" -> { () =>
      val d = df("id BIGINT, bytes BIGINT",
        Seq(Row(1L, 3L), Row(2L, 4L), Row(3L, 5L), Row(4L, 6L)))
      assert(longs(Sharding.packShardsDual(d, "id", "bytes", 7L, 1L),
        "id", "cum_bytes_before", "seq", "byte_shard", "shard_in_span") ==
        Seq(Seq(1L, 0L, 0L, 0L, 0L), Seq(2L, 3L, 1L, 0L, 1L),
          Seq(3L, 7L, 2L, 1L, 0L), Seq(4L, 12L, 3L, 1L, 1L)))
    },
    "Sharding.epochShuffle" -> { () =>
      val d = spark.range(1, 41).toDF("id")
      val byPos = Sharding.epochShuffle(d, "id", 3)
        .select("shuffle_pos", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.map(_._2).toSeq
      val expected = d.select(Sharding.epochHash(col("id"), 3),
          col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.map(_._2).toSeq
      assert(byPos == expected)
    },
    "Sharding.curriculumSchedule" -> { () =>
      val d = df("id BIGINT, score DOUBLE", Seq(Row(1L, 0.5),
        Row(2L, 0.1), Row(3L, 0.9), Row(4L, 0.1)))
      assert(longs(Sharding.curriculumSchedule(d, "score", "id", 2),
        "id", "rank", "phase") == Seq(Seq(1L, 2L, 1L), Seq(2L, 0L, 0L),
        Seq(3L, 3L, 1L), Seq(4L, 1L, 0L)))
    },
    "TextOps.vocabulary" -> { () =>
      val d = df("t STRING", Seq(Row("a b a"), Row("b a c")))
      val v = TextOps.vocabulary(d, "t").collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("count"),
          r.getAs[Long]("id"))).sortBy(_._3).toSeq
      assert(v == Seq(("a", 3L, 0L), ("b", 2L, 1L), ("c", 1L, 2L)))
    },
    "Behavior.rfmScores" -> { () =>
      val d = df("e STRING, ts STRING, v DOUBLE", Seq(
        Row("e1", "2024-01-02", 10.0), Row("e1", "2024-01-03", 10.0),
        Row("e1", "2024-01-04", 10.0), Row("e2", "2024-01-02", 5.0),
        Row("e3", "2024-01-02", 50.0), Row("e3", "2024-01-03", 50.0),
        Row("e4", "2024-01-01", 1.0)))
      val got = Behavior.rfmScores(d, "e", "ts", "v", nBins = 2)
        .collect().map(r => r.getString(0) -> r.getAs[Int]("rfm_score"))
        .toMap
      assert(got == Map("e1" -> 222, "e2" -> 111, "e3" -> 222,
        "e4" -> 111))
    },
    "Eval.rankAuc" -> { () =>
      val d = df("s DOUBLE, y INT", Seq(Row(0.1, 0), Row(0.4, 0),
        Row(0.35, 1), Row(0.8, 1)))
      val r = Eval.rankAuc(d, "s", "y").head()
      assert((r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
        r.getAs[Long]("n_excluded"), r.getAs[Double]("auc")) ==
        ((2L, 2L, 0L, 0.75)))
    },
    "Eval.spearman" -> { () =>
      val d = df("a DOUBLE, b DOUBLE", Seq(Row(1.0, 1.0), Row(2.0, 3.0),
        Row(3.0, 2.0), Row(4.0, 4.0)))
      val r = Eval.spearman(d, "a", "b").head()
      assert(r.getAs[Long]("n") == 4L)
      assert(math.abs(r.getAs[Double]("rho") - 0.8) < 1e-12)
    },
    "Eval.gainsTable" -> { () =>
      val d = df("id BIGINT, s DOUBLE, y INT", Seq(Row(1L, 0.9, 1),
        Row(2L, 0.8, 1), Row(3L, 0.3, 0), Row(4L, 0.1, 1)))
      val g = Eval.gainsTable(d, "s", "y", "id", nBins = 2)
        .collect().map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n"),
          r.getAs[Long]("n_pos"))).sorted.toSeq
      assert(g == Seq((1, 2L, 2L), (2, 2L, 1L)))
    },
    "Stats.weightedQuantilesMelted" -> { () =>
      val d = spark.range(1, 101).select(col("id").cast("double").as("a"))
      assert(Stats.weightedQuantilesMelted(d,
        Map("a" -> Seq(0.1, 0.9)), lit(1.0)) ==
        Map("a" -> Seq(Some(10.0), Some(90.0))))
    },
    "Stats.quantileMap" -> { () =>
      val cur = df("x DOUBLE", (1 to 4).map(i => Row(i.toDouble)))
      val ref = df("r DOUBLE", (1 to 4).map(i => Row(10.0 * i)))
      val m = Stats.quantileMap(cur, "x", ref, "r").collect()
        .map(r => r.getDouble(0) -> r.getAs[Double]("mapped")).toMap
      assert(m == Map(1.0 -> 10.0, 2.0 -> 20.0, 3.0 -> 30.0, 4.0 -> 40.0))
    },
    "Components.connectedComponents (iterative rounds)" -> { () =>
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      val e = df("a BIGINT, b BIGINT",
        Seq(Row(1L, 2L), Row(2L, 3L), Row(5L, 6L)))
      spark.conf.set(key, "-1")
      val cc =
        try longs(Components.connectedComponents(e, "a", "b"), "id",
          "component")
        finally spark.conf.set(key, prev)
      assert(cc == Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L),
        Seq(5L, 5L), Seq(6L, 5L)))
    },
    "MinhashIndex.batchNearDups (threshold -1, shuffle path)" -> { () =>
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      val root = java.nio.file.Files.createTempDirectory("lineage_mh")
        .toString
      val corpus = docs(
        1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "completely different words appear in this one here")
      val batch = docs(
        10L -> "the quick brown fox jumps over the lazy dog",
        11L -> "yet another unrelated caption with its own words")
      MinhashIndex.build(corpus, "doc_id", "text", root)
      spark.conf.set(key, "-1")
      val pairs =
        try MinhashIndex.batchNearDups(batch, corpus, "doc_id", "text",
          root, 0.5).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        finally spark.conf.set(key, prev)
      assert(pairs == Seq((1L, 10L, 1.0)))
    },
    "SnapshotStore.append" -> { () =>
      val root = java.nio.file.Files.createTempDirectory("lineage_ss")
        .toString
      val bucket = SnapshotStore.byKey("id", 4)
      SnapshotStore.write(df("id BIGINT, v STRING",
        Seq(Row(1L, "a"), Row(2L, "b"))), root, bucket)
      val r = SnapshotStore.append(df("id BIGINT, v STRING",
        Seq(Row(2L, "b"), Row(3L, "c"))), root, bucket)
      assert(r.snapshot == 2)
      assert(SnapshotStore.read(spark, root).select("id", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    })

  opCases.foreach { case (name, run) =>
    test(s"$name answers as before and leaves no cache behind") {
      spark.catalog.clearCache()
      run()
      assert(cacheEmpty, s"$name left a cached frame")
    }
  }

  // ---- source discipline ----

  test("source discipline: no persist release, lineage cut, checkpoint " +
      "dir read or `() => Unit` release callback outside Lineage") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val root = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(java.nio.file.Files.isDirectory(_))
      .getOrElse(fail(s"no src/main/scala above $cwd"))
    val lineage = root.resolve("graft/core/Lineage.scala")
    val banned = Seq("localCheckpoint(", ".checkpoint(", "unpersist(",
      "getCheckpointDir", "() => Unit")
    // the bridge may hold an executed RDD; only Lineage may share one
    val bridge = root.resolve("org/apache/spark/sql/graftbridge")
    val bannedOutsideBridge = Seq("queryExecution.toRdd", "SharedRelation")
    val sources = filesUnder(root).filter(_.toString.endsWith(".scala"))
    assert(sources.contains(lineage), s"$lineage not found")
    val hits = for {
      f <- sources if f != lineage
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      b <- banned ++ (if (f.startsWith(bridge)) Nil else bannedOutsideBridge)
      if line.contains(b)
    } yield s"${root.relativize(f)}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

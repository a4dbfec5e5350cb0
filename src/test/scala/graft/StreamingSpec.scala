package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Tagged
import graft.temporal.WindowOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming ops vs their batch counterparts. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming sessionization matches batch gap sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val df = input.toDF().toDF("e", "ts", "v")
    val sessions = StreamingOps.sessionizeStream(df, "e", "ts",
      gap = "30 minutes", valueCol = Some("v"))
    val q = sessions.writeStream.format("memory")
      .queryName("sess").outputMode("complete").start()
    try {
      val rows = Seq(
        ("a", ts("2024-01-01 10:00:00"), 1.0),
        ("a", ts("2024-01-01 10:10:00"), 2.0),
        ("a", ts("2024-01-01 10:20:00"), 3.0),
        ("a", ts("2024-01-01 12:00:00"), 4.0), // gap > 30min: new session
        ("b", ts("2024-01-01 10:00:00"), 5.0),
        ("b", ts("2024-01-01 10:05:00"), 6.0))
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sess")
        .orderBy("e", "session_start")
        .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4)))
        .toSeq
      // batch oracle: same gaps -> sessions (a: 3 events then 1; b: 2)
      assert(got == Seq(("a", 3L, 6.0), ("a", 1L, 4.0), ("b", 2L, 11.0)))

      // batch sessionize agrees on session membership
      val batch = WindowOps.sessionize(
        spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJavaish,
          df.schema), "e", "ts", gapSeconds = 1800)
        .groupBy("e", "session_id").count()
        .orderBy("e", "session_id")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      assert(batch == Seq(("a", 3L), ("a", 1L), ("b", 2L)))
    } finally q.stop()
  }

  private implicit class SeqRowOps(s: Seq[Row]) {
    def asJavaish: java.util.List[Row] = {
      import scala.jdk.CollectionConverters._
      s.asJava
    }
  }

  test("streaming as-of enrich carries latest feature across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tagged]
    val enriched = StreamingOps.asOfEnrichStream(input.toDS())
    val q = enriched.writeStream.format("memory")
      .queryName("enr").outputMode("append").start()
    try {
      // batch 1: one feature, one event after it, one event before it
      input.addData(
        Tagged("a", ts("2024-01-01 10:00:00"), 0, Some(1.5), None),
        Tagged("a", ts("2024-01-01 09:00:00"), 1, None, Some(100.0)),
        Tagged("a", ts("2024-01-01 11:00:00"), 1, None, Some(200.0)))
      q.processAllAvailable()
      // batch 2: newer feature, then event; old-entity state must carry
      input.addData(
        Tagged("a", ts("2024-01-01 12:00:00"), 0, Some(2.5), None),
        Tagged("a", ts("2024-01-01 13:00:00"), 1, None, Some(300.0)),
        Tagged("b", ts("2024-01-01 13:00:00"), 1, None, Some(400.0)))
      q.processAllAvailable()
      val got = spark.table("enr").orderBy("ts", "entity")
        .collect()
        .map(r => (r.getString(0), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .toSeq
      assert(got == Seq(
        ("a", 100.0, None),        // event before any feature
        ("a", 200.0, Some(1.5)),   // first feature carried
        ("a", 300.0, Some(2.5)),   // state updated across batches
        ("b", 400.0, None)))       // unseen entity
    } finally q.stop()
  }

  test("as-of enrich never leaks a FUTURE feature to a late event") {
    // regression: a cross-batch late event (older than the carried
    // feature) used to be enriched with that future feature — a
    // point-in-time violation the batch AsOfJoin would never commit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tagged]
    val q = StreamingOps.asOfEnrichStream(input.toDS())
      .writeStream.format("memory")
      .queryName("enr_late").outputMode("append").start()
    try {
      input.addData(
        Tagged("a", ts("2024-01-01 10:00:00"), 0, Some(1.5), None))
      q.processAllAvailable()
      // batch 2: an event from BEFORE the carried feature
      input.addData(
        Tagged("a", ts("2024-01-01 09:00:00"), 1, None, Some(100.0)),
        Tagged("a", ts("2024-01-01 11:00:00"), 1, None, Some(200.0)))
      q.processAllAvailable()
      val got = spark.table("enr_late").orderBy("ts").collect()
        .map(r => (r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .toSeq
      assert(got == Seq(
        (100.0, None),      // late event: future feature withheld
        (200.0, Some(1.5))))
    } finally q.stop()
  }

  test("dedupIngestBatch: replay of a committed ALL-DOOMED batch is " +
      "a no-op, not a monotonicity violation") {
    // regression: the hwm advanced but no bands snapshot was
    // published, so a replay (standard at-least-once re-delivery)
    // took the redo path and failed `minBatchId > hwm` forever
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i,
      s"corpus document $i sharing many words plus token$i end"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("ingest-replay").toString
    graft.dedup.MinhashIndex.build(corpus, "doc_id", "text", root)
    val doomed = Seq(
      (101L, "document 3 sharing many words plus token3 end"))
      .toDF("doc_id", "text")
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    def run(b: org.apache.spark.sql.DataFrame): Unit =
      StreamingOps.dedupIngestBatch(b, 0L, corpus, "doc_id", "text",
        root, threshold = 0.5,
        emit = d => emitted ++= d.select("doc_id").collect()
          .map(_.getLong(0)))
    run(doomed)
    run(doomed) // replay with the SAME batchId — must not throw
    assert(emitted.isEmpty)
    // and the stream continues: a later fresh batch absorbs normally
    val fresh = Seq(
      (201L, "totally new content aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
    StreamingOps.dedupIngestBatch(fresh, 1L, corpus, "doc_id",
      "text", root, threshold = 0.5,
      emit = d => emitted ++= d.select("doc_id").collect()
        .map(_.getLong(0)))
    assert(emitted.toSet == Set(201L))

    // but a FRESH batchId whose ids sit at/below the high-water mark
    // is an id-reset contract violation and must still fail LOUDLY —
    // the all-doomed replay exit only applies to redos of a KNOWN
    // batchId (regression: the guard used to fire for fresh batches
    // too, silently dropping them with no emit and no error)
    val reset = Seq(
      (150L, "reset id content zz yy xx ww vv uu tt ss"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      StreamingOps.dedupIngestBatch(reset, 2L, corpus, "doc_id",
        "text", root, threshold = 0.5, emit = _ => ())
    }
    assert(ex.getMessage.contains("monotone"))
  }

  test("dedupIngestBatch: a throwing emit leaves no cached batch or " +
      "survivors behind") {
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i,
      s"corpus document $i sharing many words plus token$i end"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("ingest-leak").toString
    graft.dedup.MinhashIndex.build(corpus, "doc_id", "text", root)
    val batch = Seq(
      (201L, "totally new content aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
    spark.catalog.clearCache()
    val ex = intercept[IllegalStateException] {
      StreamingOps.dedupIngestBatch(batch, 0L, corpus, "doc_id", "text",
        root, threshold = 0.5,
        emit = _ => throw new IllegalStateException("emit failed"))
    }
    assert(ex.getMessage == "emit failed")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("as-of enrich carries MICROSECOND feature timestamps exactly") {
    // regression (caught by the q109 oracle): the carry state stored
    // Timestamp.getTime (epoch millis), truncating Spark-native µs on
    // emit and mis-sorting same-millisecond records
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def us(base: String, micros: Int): java.sql.Timestamp = {
      val t = ts(base)
      t.setNanos(micros * 1000); t
    }
    val input = MemoryStream[Tagged]
    val q = StreamingOps.asOfEnrichStream(input.toDS())
      .writeStream.format("memory")
      .queryName("enr_us").outputMode("append").start()
    try {
      input.addData(
        // two features 88µs apart INSIDE the same millisecond: the
        // later one must win for the later event, and its emitted ts
        // must keep the µs digits
        Tagged("a", us("2024-01-01 10:00:00", 81000), 0, Some(1.0), None),
        Tagged("a", us("2024-01-01 10:00:00", 81088), 0, Some(2.0), None),
        Tagged("a", us("2024-01-01 10:00:00", 81044), 1, None, Some(10.0)),
        Tagged("a", us("2024-01-01 10:00:01", 0), 1, None, Some(20.0)))
      q.processAllAvailable()
      val got = spark.table("enr_us").orderBy("ts").collect().map(r =>
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.getTimestamp(4)).map(_.getNanos)))
      assert(got(0) == ((Some(1.0), Some(81000000))),
        s"mid-ms event must see only the earlier feature: ${got.toSeq}")
      assert(got(1) == ((Some(2.0), Some(81088000))),
        s"later event must carry the 88-µs-later feature: ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming exact dedup keeps first occurrence within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val deduped = StreamingOps.dedupStream(df, "ts", Seq("text"))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "the same doc"),
        (2L, ts("2024-01-01 10:01:00"), "the same doc"), // dup content
        (3L, ts("2024-01-01 10:02:00"), "another doc"))
      q.processAllAvailable()
      // dup arriving in a LATER batch within the watermark also drops
      input.addData((4L, ts("2024-01-01 10:03:00"), "another doc"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming rolling window aggregates per entity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double)]
    val df = input.toDF().toDF("e", "ts", "v")
    val rolled = StreamingOps.rollingWindowStream(df, "e", "ts",
      windowLen = "1 hour", slide = "30 minutes", valueCol = "v")
    val q = rolled.writeStream.format("memory")
      .queryName("roll").outputMode("complete").start()
    try {
      input.addData(
        ("a", ts("2024-01-01 10:00:00"), 1.0),
        ("a", ts("2024-01-01 10:20:00"), 3.0))
      q.processAllAvailable()
      val byWindow = spark.table("roll").orderBy("window_start")
        .collect().map(r => (r.getLong(3), r.getDouble(4))).toSeq
      // both events land in the 09:30 and 10:00 windows
      assert(byWindow == Seq((2L, 4.0), (2L, 4.0)))
    } finally q.stop()
  }

  test("streaming phash near-dup matches batch; one pair per match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.PhashImage]
    val pairs = StreamingOps.phashNearDupStream(input.toDS(), maxDist = 3)
    val q = pairs.writeStream.format("memory")
      .queryName("phash_pairs").outputMode("append").start()
    try {
      // b = a with 2 low bits flipped (several shared bands — must
      // still emit exactly once); c far from both; d = b exactly
      // (distance 0, shares ALL bands)
      input.addData(
        StreamingOps.PhashImage("a", ts("2024-01-01 10:00:00"), 0L),
        StreamingOps.PhashImage("b", ts("2024-01-01 10:00:01"), 3L),
        StreamingOps.PhashImage("c", ts("2024-01-01 10:00:02"), -1L))
      q.processAllAvailable()
      // second batch: state must carry across batches
      input.addData(
        StreamingOps.PhashImage("d", ts("2024-01-01 10:00:03"), 3L))
      q.processAllAvailable()
      val got = spark.table("phash_pairs").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got == Set(("a", "b", 2), ("a", "d", 2), ("b", "d", 0)))

      // batch operator agrees on the same corpus
      val batch = graft.multimodal.Multimodal.phashNearDups(
        Seq(("a", 0L), ("b", 3L), ("c", -1L), ("d", 3L))
          .toDF("image_id", "phash"), "image_id", "phash", maxDist = 3)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming range join matches batch point-in-interval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, Timestamp)]
    val ivIn = MemoryStream[(Long, Long, Timestamp, Timestamp)]
    val ev = evIn.toDF().toDF("k", "eid", "ts")
    val iv = ivIn.toDF().toDF("k", "iid", "s", "e")
    val joined = StreamingOps.rangeJoinStream(ev, iv, Seq("k"),
      "ts", "s", "e", maxIntervalSeconds = 7200)
      .select("eid", "iid")
    val q = joined.writeStream.format("memory")
      .queryName("rj").outputMode("append").start()
    try {
      val events = Seq(
        (1L, 1L, ts("2024-01-01 10:30:00")),
        (1L, 2L, ts("2024-01-01 13:00:00")),
        (2L, 3L, ts("2024-01-01 10:30:00")))
      val intervals = Seq(
        (1L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
        (1L, 11L, ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00")),
        (2L, 12L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")))
      evIn.addData(events: _*)
      ivIn.addData(intervals: _*)
      q.processAllAvailable()
      val got = spark.table("rj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // eid 1 in both k=1 intervals; eid 2 after both; eid 3 before 12
      assert(got == Set((1L, 10L), (1L, 11L)))

      // batch operator agrees on the same data
      val evB = df("k BIGINT, eid BIGINT, ts TIMESTAMP",
        events.map(t => Row(t._1, t._2, t._3)))
      val ivB = df("k BIGINT, iid BIGINT, s TIMESTAMP, e TIMESTAMP",
        intervals.map(t => Row(t._1, t._2, t._3, t._4)))
      val batch = graft.temporal.RangeJoin.pointInInterval(
        evB, ivB, Seq("k"), "ts", "s", "e", bucketSeconds = 3600)
        .select("eid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("windowed top-k stream finalizes per window in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = StreamingOps.windowedTopKStream(
      input.toDF().toDF("g", "ts", "s", "id"),
      "g", "ts", "s", "id", k = 2, windowLen = "10 minutes",
      watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wtk")
      .outputMode("append").start()
    try {
      input.addData(
        ("a", ts("2024-01-01 10:01:00"), 3.0, 1L),
        ("a", ts("2024-01-01 10:02:00"), 9.0, 2L),
        ("a", ts("2024-01-01 10:03:00"), 5.0, 3L))
      q.processAllAvailable()
      // advance watermark past the 10:00-10:10 window
      input.addData(("a", ts("2024-01-01 10:30:00"), 1.0, 4L))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 11:00:00"), 1.0, 5L))
      q.processAllAvailable()
      val rows = spark.table("wtk")
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .orderBy("rank")
        .collect().map(r => (r.getAs[Int]("rank"),
          r.getAs[Double]("score"), r.getAs[Long]("id"))).toSeq
      assert(rows == Seq((1, 9.0, 2L), (2, 5.0, 3L)))
    } finally q.stop()
  }

  test("snapshotSink: micro-batches become lineage-diffed snapshots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("snapsink").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.snapshotSink(
      input.toDF().toDF("doc_id", "text"), root,
      graft.io.SnapshotStore.byKey("doc_id", 4))
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("snapsink-ckpt").toString)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      val v1 = graft.io.SnapshotStore.latestSnapshot(root).get
      assert(graft.io.SnapshotStore.read(spark, root).count() == 2)

      input.addData((3L, "c"))
      q.processAllAvailable()
      val v2 = graft.io.SnapshotStore.latestSnapshot(root).get
      assert(v2 > v1)
      assert(graft.io.SnapshotStore.read(spark, root).count() == 3)
      // incremental read between the stream's snapshots sees only the
      // bucket batch 2 touched
      val changed = graft.io.SnapshotStore
        .changedBuckets(root, Some(v1), v2)
      assert(changed.size == 1)
      val inc = graft.io.SnapshotStore
        .readChanges(spark, root, Some(v1), v2)
      assert(inc.filter(col("doc_id") === 3L).count() == 1)
      // lineage verifies against storage
      assert(graft.io.SnapshotStore.verify(spark, root).isEmpty)
    } finally q.stop()
  }

  test("dedupIngestSink: streaming near-dup ingestion against the " +
      "persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 20L).map(i => (i,
      s"corpus document $i on subject ${i % 4} sharing many words " +
        s"plus token$i marker suffix end")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("ingest-idx").toString
    graft.dedup.MinhashIndex.build(corpus, "doc_id", "text", root)

    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupIngestSink(
      input.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text",
      root, threshold = 0.5,
      emit = d => emitted ++= d.select("doc_id").collect()
        .map(_.getLong(0)))
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("ingest-ckpt").toString)
      .start()
    try {
      // batch 1: a near-dup of corpus doc 3 (dropped first word) + a
      // fresh doc
      input.addData(
        (101L, "document 3 on subject 3 sharing many words " +
          "plus token3 marker suffix end"),
        (102L, "totally new content aa bb cc dd ee ff gg hh ii jj"))
      q.processAllAvailable()
      assert(emitted.toSet == Set(102L),
        s"dup of corpus must die, fresh survives: $emitted")
      // batch 2: near-dup of the batch-1 SURVIVOR (found via the
      // index growth, not the base corpus) + fresh
      input.addData(
        (201L, "totally new content aa bb cc dd ee ff gg hh ii kk"),
        (202L, "another unrelated thing zz yy xx ww vv uu tt ss"))
      q.processAllAvailable()
      assert(emitted.toSet == Set(102L, 202L),
        s"dup of an absorbed survivor must die: $emitted")
    } finally q.stop()
  }

  test("dedupIngestSink: an ALL-DOOMED batch leaves the index intact " +
      "and the next batch still processes") {
    // regression: an empty survivors frame used to publish a
    // zero-bucket texts snapshot whose later read crashed with a
    // missing basePath — the sink must skip the writes instead
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 10L).map(i => (i,
      s"corpus document $i on subject ${i % 3} sharing many words " +
        s"plus token$i marker suffix end")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("ingest-doomed").toString
    graft.dedup.MinhashIndex.build(corpus, "doc_id", "text", root)
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupIngestSink(
      input.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text",
      root, threshold = 0.5,
      emit = d => emitted ++= d.select("doc_id").collect()
        .map(_.getLong(0)))
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("ingest-doomed-ckpt").toString)
      .start()
    try {
      // batch 1: ONLY near-dups of corpus docs -> zero survivors
      input.addData(
        (101L, "document 3 on subject 0 sharing many words " +
          "plus token3 marker suffix end"),
        (102L, "document 5 on subject 2 sharing many words " +
          "plus token5 marker suffix end"))
      q.processAllAvailable()
      assert(emitted.isEmpty, s"all dups must die: $emitted")
      // batch 2 must still dedup + absorb normally
      input.addData(
        (201L, "totally new content aa bb cc dd ee ff gg hh ii jj"),
        (202L, "document 7 on subject 1 sharing many words " +
          "plus token7 marker suffix end"))
      q.processAllAvailable()
      assert(emitted.toSet == Set(201L),
        s"fresh survives, dup dies after a doomed batch: $emitted")
    } finally q.stop()
  }

  test("decontaminateStream drops eval-overlapping docs, passes clean") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val testSet = Seq(
      (900L, "the secret benchmark question about unusual topics " +
        "that must never appear in training data"))
      .toDF("doc_id", "text")
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), testSet, "doc_id", "text",
      minShared = 3, emit = d => emitted ++= d.select("doc_id")
        .collect().map(_.getLong(0)))
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("decon-ckpt").toString)
      .start()
    try {
      input.addData(
        // contaminated: contains the benchmark text verbatim
        (1L, "prefix words then the secret benchmark question about " +
          "unusual topics that must never appear in training data"),
        (2L, "a perfectly ordinary clean document about cooking " +
          "rice and vegetables slowly"))
      q.processAllAvailable()
      assert(emitted.toSet == Set(2L), s"got $emitted")
    } finally q.stop()
  }

  test("snapshotSink batch replay is a no-op (write-ahead marker)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("snapsink-replay").toString
    val bucket = graft.io.SnapshotStore.byKey("doc_id", 4)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    StreamingOps.snapshotSinkBatch(b0, 0L, root, bucket)
    assert(graft.io.SnapshotStore.read(spark, root).count() == 2)
    // foreachBatch re-delivery of an already-committed batch: the
    // lineage diff alone would union b0 AGAIN (doubling rows); the
    // intent marker must short-circuit it
    StreamingOps.snapshotSinkBatch(b0, 0L, root, bucket)
    assert(graft.io.SnapshotStore.read(spark, root).count() == 2)
    // an intent marker WITHOUT a committed snapshot (crash between
    // marker and manifest) redoes the write
    val commits = java.nio.file.Paths.get(root, "_stream_commits")
    java.nio.file.Files.writeString(commits.resolve("batch-1"),
      graft.io.SnapshotStore.latestSnapshot(root).get.toString)
    StreamingOps.snapshotSinkBatch(
      Seq((3L, "c")).toDF("doc_id", "text"), 1L, root, bucket)
    assert(graft.io.SnapshotStore.read(spark, root).count() == 3)
  }

  test("top_k_by aggregates incrementally over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the bounded-heap TypedImperativeAggregate must survive the state
    // store's serialize/merge cycle: feed batches whose later elements
    // displace earlier leaders, compare with the batch result
    val input = MemoryStream[(String, Long, Double)]
    val agg = input.toDF().toDF("g", "id", "s")
      .groupBy("g")
      .agg(graft.functions.TopKBy.topKBy(col("s"), col("id"), 2)
        .as("topk"))
    val q = agg.writeStream.format("memory").queryName("tks")
      .outputMode("complete").start()
    try {
      input.addData(("a", 1L, 5.0), ("a", 2L, 9.0), ("b", 3L, 1.0))
      q.processAllAvailable()
      input.addData(("a", 4L, 9.0), ("a", 5L, 20.0), ("b", 6L, 0.5))
      q.processAllAvailable()
      val got = spark.table("tks").orderBy("g")
        .collect().map(r => (r.getString(0),
          r.getSeq[Row](1).map(e => (e.getDouble(0), e.getLong(1)))))
        .toSeq
      assert(got == Seq(
        ("a", Seq((20.0, 5L), (9.0, 2L))), // id 2 beats id 4 on the tie
        ("b", Seq((1.0, 3L), (0.5, 6L)))))
    } finally q.stop()
  }

  test("annEnrichStream: chunking-invariant and equal to the batch " +
      "IVF query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ann.Knn
    // clustered corpus (5 directions + noise) like DedupKnnSpec
    val corpus = spark.range(0, 200).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        i => ((pmod(xxhash64(col("id") % 5, i), lit(2000))
          .cast("double") / 1000.0 - 1.0) +
          (pmod(xxhash64(col("id"), i), lit(200)).cast("double")
            / 1000.0 - 0.1)).cast("float")).as("embedding"))
    val model = Knn.ivfBuild(corpus, "id", "embedding", nlist = 8,
      iters = 2)
    val lists = Knn.ivfLists(model, corpus, "id", "embedding")
    val queries = corpus.filter(col("id") < 6)
    val want = Knn.ivfQuery(model, lists, queries, "id", "embedding",
      k = 5, nprobe = 4)
      .select("query_id", "rank", "item_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val rows = queries.select(col("id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def run(nChunks: Int): Set[(Long, Int, Long, Double)] = {
      val input = MemoryStream[(Long, Seq[Float])]
      val out = scala.collection.mutable
        .ArrayBuffer[(Long, Int, Long, Double)]()
      val q = StreamingOps.annEnrichStream(
        input.toDF().toDF("id", "embedding"), model, lists, "id",
        "embedding", k = 5, nprobe = 4,
        emit = b => {
          out ++= b.select("query_id", "rank", "item_id", "cosine")
            .collect().map(r => (r.getLong(0), r.getInt(1),
              r.getLong(2), r.getDouble(3)))
          ()
        }, queryName = s"ann-enrich-$nChunks").start()
      try {
        val sz = math.max(1, (rows.length + nChunks - 1) / nChunks)
        rows.grouped(sz).foreach { chunk =>
          input.addData(chunk: _*); q.processAllAvailable()
        }
      } finally q.stop()
      out.toSet
    }
    val one = run(1)
    val three = run(3)
    assert(one == want, "single-batch stream diverged from batch IVF")
    assert(three == want, "chunked stream diverged from batch IVF")
  }

  test("streaming grouped quantile sketch: chunked stream's final " +
      "estimates equal the one-shot fold (associative bin merge) and " +
      "track the exact quantile within a bin width") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{QRow, QuantEstimate}
    val rnd = new scala.util.Random(17)
    val data = (0 until 1200).map(i =>
      QRow(s"k${i % 3}", rnd.nextDouble() * 10))
    val (mn, mx, bins) = (0.0, 10.0, 200)
    val probs = Seq(0.1, 0.5, 0.9)

    // brute-force mirror of the documented rule
    def mirror(vs: Seq[Double], p: Double): Double = {
      val width = (mx - mn) / bins
      val counts = new Array[Double](bins)
      vs.foreach { v =>
        val b = math.min(math.max(
          math.floor((v - mn) / width).toLong, 0L), bins - 1L).toInt
        counts(b) += 1.0
      }
      val target = p * counts.sum
      var cum = 0.0
      val hit = counts.indices.find { b =>
        cum += counts(b); counts(b) > 0 && cum >= target
      }.get
      val frac = math.min(math.max(
        (target - (cum - counts(hit))) / counts(hit), 0.0), 1.0)
      mn + (hit + frac) * width
    }

    def run(nChunks: Int): Map[(String, Double), Double] = {
      val input = MemoryStream[QRow]
      val latest = scala.collection.mutable
        .Map[(String, Double), Double]()
      val q = graft.streaming.StreamingOps
        .groupedQuantileSketchStream(input.toDS(), probs, mn, mx, bins)
        .writeStream.outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[QuantEstimate], _: Long) =>
          b.collect().foreach(e =>
            latest((e.key, e.prob)) = e.value)
          ()
        }.queryName(s"qsketch$nChunks").start()
      try {
        val sz = math.max(1, (data.length + nChunks - 1) / nChunks)
        data.grouped(sz).foreach { c =>
          input.addData(c: _*); q.processAllAvailable()
        }
      } finally q.stop()
      latest.toMap
    }

    val one = run(1)
    val four = run(4)
    assert(one == four, "bin merge must be chunk-invariant")
    val byKey = data.groupBy(_.key)
    for (k <- byKey.keys; p <- probs) {
      val vs = byKey(k).map(_.value)
      assert(math.abs(one((k, p)) - mirror(vs, p)) < 1e-12,
        s"key=$k p=$p diverged from the documented rule")
      // and the estimate brackets the exact empirical quantile
      val exact = vs.sorted.apply(
        math.min((p * vs.size).toInt, vs.size - 1))
      assert(math.abs(one((k, p)) - exact) <= (mx - mn) / bins + 0.06,
        s"key=$k p=$p est=${one((k, p))} exact=$exact")
    }
  }

  test("payload audit gates a stream: corrupt images quarantined per " +
      "micro-batch, verdicts match the batch audit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = graft.io.ImageTable.imagesReal(spark, 40).collect()
    val bIdx = base.head.schema.fieldIndex("bytes")
    val idIdx = base.head.schema.fieldIndex("image_id")
    // corrupt every 5th payload (truncate) before streaming
    val rows = base.zipWithIndex.map { case (r, i) =>
      val bytes = r.getAs[Array[Byte]](bIdx)
      (r.getString(idIdx),
        if (i % 5 == 0) bytes.take(3) else bytes,
        r.getInt(2), r.getInt(3), r.getString(4), r.getString(5),
        r.getLong(6))
    }.toSeq
    val input =
      MemoryStream[(String, Array[Byte], Int, Int, String, String, Long)]
    val df = input.toDF().toDF("image_id", "bytes", "w", "h", "fmt",
      "caption", "phash")
    // the audit is a stateless mapPartitions: it runs unchanged on a
    // streaming frame, so the SAME operator is the ingest gate
    val gated = graft.multimodal.Multimodal
      .auditPayloads(df, seed = 42)
      .filter(col("pixels_ok")).select("image_id")
    val q = gated.writeStream.format("memory")
      .queryName("audit_gate").outputMode("append").start()
    try {
      rows.grouped(15).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val kept = spark.table("audit_gate")
        .collect().map(_.getString(0)).toSet
      val expected = rows.zipWithIndex
        .collect { case (r, i) if i % 5 != 0 => r._1 }.toSet
      assert(kept == expected,
        s"missing=${expected -- kept} extra=${kept -- expected}")
    } finally q.stop()
  }

  test("decayed feature stream carries exact recurrence across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hl = 3600.0 // 1h half-life
    val ev = Seq(
      StreamingOps.DecayEvent(1L, 1L, ts("2024-01-01 10:00:00"), 4.0),
      StreamingOps.DecayEvent(1L, 2L, ts("2024-01-01 11:00:00"), 1.0),
      StreamingOps.DecayEvent(2L, 3L, ts("2024-01-01 10:30:00"), 8.0),
      // duplicate ts: dt=0 -> s = x + s_prev
      StreamingOps.DecayEvent(1L, 4L, ts("2024-01-01 11:00:00"), 2.0),
      StreamingOps.DecayEvent(1L, 5L, ts("2024-01-01 13:00:00"), 0.5),
      StreamingOps.DecayEvent(2L, 6L, ts("2024-01-01 12:30:00"), 1.0))
    val input = MemoryStream[StreamingOps.DecayEvent]
    val q = StreamingOps.decayedFeatureStream(input.toDS(), hl)
      .writeStream.format("memory").queryName("decay_s")
      .outputMode("append").start()
    try {
      // 3 micro-batches splitting BOTH entities' sequences, so the
      // state really crosses the batch boundary
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("decay_s").orderBy("eventId")
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      // hand-replayed fold (same operand order)
      val s1 = 4.0
      val s2 = 1.0 + s1 * math.pow(0.5, 1.0) // 3.0
      val s4 = 2.0 + s2 * math.pow(0.5, 0.0) // 5.0
      val s5 = 0.5 + s4 * math.pow(0.5, 2.0) // 1.75
      val t3 = 8.0
      val t6 = 1.0 + t3 * math.pow(0.5, 2.0) // 3.0
      assert(got == Seq((1L, s1), (2L, s2), (3L, t3), (4L, s4),
        (5L, s5), (6L, t6)))
    } finally q.stop()
  }

  test("decayed feature stream fails loudly on per-entity time regression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.DecayEvent]
    val q = StreamingOps.decayedFeatureStream(input.toDS(), 3600.0)
      .writeStream.format("memory").queryName("decay_bad")
      .outputMode("append").start()
    try {
      input.addData(
        StreamingOps.DecayEvent(1L, 1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // second batch regresses entity 1's clock: contract violation
      // must surface as a query error, not silent state corruption
      input.addData(
        StreamingOps.DecayEvent(1L, 2L, ts("2024-01-01 09:00:00"), 1.0))
      val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q.processAllAvailable() }
      assert(err.getMessage.contains("ts-nondecreasing") ||
        Option(err.getCause).exists(
          _.getMessage.contains("ts-nondecreasing")))
    } finally q.stop()
  }

  test("cusum stream: state carries across batches and equals the " +
      "batch secondary-sort scan; null value is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.CusumEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(12.0)),
      StreamingOps.CusumEvent(1L, 2L, ts("2024-01-01 10:10:00"), Some(5.0)),
      StreamingOps.CusumEvent(2L, 3L, ts("2024-01-01 10:00:00"), Some(100.0)),
      StreamingOps.CusumEvent(1L, 4L, ts("2024-01-01 10:20:00"), None),
      StreamingOps.CusumEvent(1L, 5L, ts("2024-01-01 10:30:00"), Some(20.0)))
    val input = MemoryStream[StreamingOps.CusumEvent]
    val q = StreamingOps.cusumStream(input.toDS(),
      target = 10.0, slack = 0.0, threshold = 8.0)
      .writeStream.format("memory").queryName("cusum_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("cusum_s").orderBy("eventId")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toSeq
      // hand fold: +2 -> (0, 5) after x=5 -> null no-op -> +10
      assert(got == Seq(
        (1L, 2.0, 0.0, false), (2L, 0.0, 5.0, false),
        (3L, 90.0, 0.0, true), (4L, 0.0, 5.0, false),
        (5L, 10.0, 0.0, true)))
      // batch scan over the same rows must agree exactly
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = graft.temporal.Sequential.cusum(d, "e", "ts", "id",
        "v", 10.0, 0.0, 8.0).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getBoolean(3))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("transition score stream: fitted matrix scoring with one " +
      "prev-type register equals the batch broadcast join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.TrEvent(1L, 1L, ts("2024-01-01 10:00:00"), "a"),
      StreamingOps.TrEvent(1L, 2L, ts("2024-01-01 10:00:10"), "b"),
      StreamingOps.TrEvent(2L, 3L, ts("2024-01-01 10:00:00"), "a"),
      StreamingOps.TrEvent(2L, 4L, ts("2024-01-01 10:00:10"), "a"),
      StreamingOps.TrEvent(1L, 5L, ts("2024-01-01 10:00:20"), "a"))
    val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, t STRING",
      ev.map(x => org.apache.spark.sql.Row(x.entity, x.ts,
        x.eventId, x.eventType)))
    val batchDf = graft.operators.Behavior.transitionFeatures(
      d, "e", "ts", "t", Seq("id"))
    val m = batchDf.filter(col("trans_n").isNotNull)
      .select("prev_t", "t", "trans_n", "prev_n").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val input = MemoryStream[StreamingOps.TrEvent]
    val q = StreamingOps.transitionScoreStream(input.toDS(), m)
      .writeStream.format("memory").queryName("tr_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      def opt(r: org.apache.spark.sql.Row, i: Int): Any =
        if (r.isNullAt(i)) null else r.get(i)
      val got = spark.table("tr_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0), opt(r, 3), r.getString(4),
          opt(r, 5), opt(r, 6), opt(r, 7))).toSeq
      // matrix: a->b 1/2, a->a 1/2, b->a 1/1
      assert(got == Seq(
        (1L, null, "a", null, null, null),
        (2L, "a", "b", 1L, 2L, 0.5),
        (3L, null, "a", null, null, null),
        (4L, "a", "a", 1L, 2L, 0.5),
        (5L, "b", "a", 1L, 1L, 1.0)))
      val batch = batchDf.orderBy("id").collect()
        .map(r => (r.getLong(2), opt(r, r.fieldIndex("prev_t")),
          r.getString(r.fieldIndex("t")),
          opt(r, r.fieldIndex("trans_n")),
          opt(r, r.fieldIndex("prev_n")),
          opt(r, r.fieldIndex("trans_p")))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("distinct types stream: seen-set carries across batches, " +
      "equals the batch op, maxTypes guard fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.DtEvent(1L, 1L, ts("2024-01-01 10:00:00"),
        Some("view")),
      StreamingOps.DtEvent(1L, 2L, ts("2024-01-01 10:00:10"),
        Some("click")),
      StreamingOps.DtEvent(1L, 3L, ts("2024-01-01 10:00:20"), None),
      StreamingOps.DtEvent(1L, 4L, ts("2024-01-01 10:00:30"),
        Some("view")),
      StreamingOps.DtEvent(1L, 5L, ts("2024-01-01 10:00:40"),
        Some("buy")))
    val input = MemoryStream[StreamingOps.DtEvent]
    val q = StreamingOps.distinctTypesStream(input.toDS())
      .writeStream.format("memory").queryName("dt_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("dt_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(got == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 2L),
        (5L, 2L)))
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, t STRING",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts,
          e.eventId, e.eventType.orNull)))
      val batch = graft.temporal.WindowOps.expandingDistinctTypes(
        d, "e", "ts", "t", Seq("id")).orderBy("id").collect()
        .map(r => (r.getLong(2),
          r.getLong(r.fieldIndex("prior_n_types")))).toSeq
      assert(batch == got)
    } finally q.stop()
    // the guard: a 3rd distinct type with maxTypes = 2 fails loudly
    val input2 = MemoryStream[StreamingOps.DtEvent]
    val q2 = StreamingOps.distinctTypesStream(input2.toDS(),
      maxTypes = 2)
      .writeStream.format("memory").queryName("dt_s2")
      .outputMode("append").start()
    try {
      input2.addData(ev: _*)
      val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q2.processAllAvailable() }
      assert(err.getMessage.contains("distinct types") ||
        Option(err.getCause).exists(
          _.getMessage.contains("distinct types")))
    } finally q2.stop()
  }

  test("type counts stream: counter registers carry across " +
      "batches and equal the batch window op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.TcEvent(1L, 1L, ts("2024-01-01 10:00:00"),
        Some("view")),
      StreamingOps.TcEvent(1L, 2L, ts("2024-01-01 10:00:10"),
        Some("purchase")),
      StreamingOps.TcEvent(2L, 3L, ts("2024-01-01 10:00:00"), None),
      StreamingOps.TcEvent(1L, 4L, ts("2024-01-01 10:00:20"),
        Some("scroll")),
      StreamingOps.TcEvent(1L, 5L, ts("2024-01-01 10:00:30"),
        Some("view")))
    val input = MemoryStream[StreamingOps.TcEvent]
    val q = StreamingOps.typeCountsStream(input.toDS(),
      Seq("view", "purchase"))
      .writeStream.format("memory").queryName("tc_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("tc_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](3).toList,
          r.getLong(4))).toSeq
      assert(got == Seq(
        (1L, List(0L, 0L), 0L),
        (2L, List(1L, 0L), 1L),
        (3L, List(0L, 0L), 0L),
        (4L, List(1L, 1L), 2L),
        (5L, List(1L, 1L), 3L))) // scroll advanced total only
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, t STRING",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts,
          e.eventId, e.eventType.orNull)))
      val batch = graft.temporal.WindowOps.expandingTypeCounts(
        d, "e", "ts", "t", Seq("view", "purchase"), Seq("id"))
        .orderBy("id").collect()
        .map(r => (r.getLong(2), List(r.getLong(4), r.getLong(5)),
          r.getLong(6))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("gap surprise stream: one (lastTs, n, sum) triple carries " +
      "across batches and equals the batch window op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.GapEvent(1L, 1L, ts("2024-01-01 10:00:00")),
      StreamingOps.GapEvent(1L, 2L, ts("2024-01-01 10:00:10")),
      StreamingOps.GapEvent(2L, 3L, ts("2024-01-01 10:00:00")),
      StreamingOps.GapEvent(1L, 4L, ts("2024-01-01 10:00:30")),
      StreamingOps.GapEvent(1L, 5L, ts("2024-01-01 10:01:30")))
    val input = MemoryStream[StreamingOps.GapEvent]
    val q = StreamingOps.gapSurpriseStream(input.toDS())
      .writeStream.format("memory").queryName("gap_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      def opt(r: org.apache.spark.sql.Row, i: Int): Any =
        if (r.isNullAt(i)) null else r.get(i)
      val got = spark.table("gap_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0), opt(r, 3), r.getLong(4), opt(r, 5),
          opt(r, 6))).toSeq
      assert(got == Seq(
        (1L, null, 0L, null, null),
        (2L, 10000000L, 0L, null, null), // a gap but no prior gaps
        (3L, null, 0L, null, null),
        (4L, 20000000L, 1L, 1e7, 2.0),
        (5L, 60000000L, 2L, 1.5e7, 4.0)))
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts,
          e.eventId)))
      val batch = graft.temporal.WindowOps
        .gapSurprise(d, "e", "ts", Seq("id"))
        .orderBy("id").collect()
        .map(r => (r.getLong(2), opt(r, 3), r.getLong(4), opt(r, 5),
          opt(r, 6))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("cusum stream fails loudly on per-entity time regression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.CusumEvent]
    val q = StreamingOps.cusumStream(input.toDS(), 10.0, 0.0, 8.0)
      .writeStream.format("memory").queryName("cusum_bad")
      .outputMode("append").start()
    try {
      input.addData(StreamingOps.CusumEvent(1L, 1L,
        ts("2024-01-01 12:00:00"), Some(1.0)))
      q.processAllAvailable()
      input.addData(StreamingOps.CusumEvent(1L, 2L,
        ts("2024-01-01 09:00:00"), Some(1.0)))
      val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q.processAllAvailable() }
      assert(err.getMessage.contains("ts-nondecreasing") ||
        Option(err.getCause).exists(
          _.getMessage.contains("ts-nondecreasing")))
    } finally q.stop()
  }

  test("z-score stream: ring carries across batches, missing rows " +
      "occupy frame slots, equals the batch window op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.ZEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(10.0)),
      StreamingOps.ZEvent(1L, 2L, ts("2024-01-01 10:10:00"), Some(12.0)),
      StreamingOps.ZEvent(1L, 3L, ts("2024-01-01 10:20:00"), None),
      StreamingOps.ZEvent(1L, 4L, ts("2024-01-01 10:30:00"), Some(11.0)),
      StreamingOps.ZEvent(1L, 5L, ts("2024-01-01 10:40:00"), Some(100.0)),
      StreamingOps.ZEvent(2L, 6L, ts("2024-01-01 10:00:00"), Some(5.0)))
    val input = MemoryStream[StreamingOps.ZEvent]
    val q = StreamingOps.zScoreStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("z_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("z_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getDouble(3),
          r.getBoolean(4))).toSeq
      // batch mirror over the same rows (k=3 prior ROWS)
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = graft.temporal.WindowOps.rollingZScore(
        d, "e", "ts", "v", k = 3).orderBy("id").collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(4)) null else r.getDouble(4),
          r.getBoolean(5))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      // the missing reading itself emits null/no-flag...
      assert(got(2)._2 == null && !got(2)._3)
      // ...but occupies a ring slot: id=5's frame is {12, None, 11}
      // (10.0 evicted), n=2, and the spike flags against it
      assert(got(4)._2 != null && got(4)._3)
    } finally q.stop()
  }

  test("rolling corr stream: pair ring carries across batches, " +
      "incomplete pairs occupy frame slots, equals the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.CorrEvent(1L, 1L, ts("2024-01-01 10:00:00"),
        Some(1.0), Some(2.0)),
      StreamingOps.CorrEvent(1L, 2L, ts("2024-01-01 10:10:00"),
        Some(2.0), Some(4.0)),
      StreamingOps.CorrEvent(1L, 3L, ts("2024-01-01 10:20:00"),
        Some(5.0), None), // incomplete: occupies a slot, adds no pair
      StreamingOps.CorrEvent(1L, 4L, ts("2024-01-01 10:30:00"),
        Some(3.0), Some(7.0)),
      StreamingOps.CorrEvent(1L, 5L, ts("2024-01-01 10:40:00"),
        Some(4.0), Some(6.0)),
      StreamingOps.CorrEvent(2L, 6L, ts("2024-01-01 10:00:00"),
        Some(5.0), Some(1.0)))
    val input = MemoryStream[StreamingOps.CorrEvent]
    val q = StreamingOps.rollingCorrStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("corr_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("corr_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4))).toSeq
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, x DOUBLE, y DOUBLE",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts, e.eventId,
          e.x.map(Double.box).orNull, e.y.map(Double.box).orNull)))
      val batch = graft.temporal.WindowOps.rollingCorr(
        d, "e", "ts", "x", "y", k = 3).orderBy("id").collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(5)) null else r.getDouble(5),
          if (r.isNullAt(6)) null else r.getDouble(6))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      // 0/1 prior pairs refuse; the perfect-line priors read exactly 1
      assert(got(0)._2 == null && got(1)._2 == null)
      assert(got(2)._2 == 1.0 && got(2)._3 == 2.0)
      // id=4's ring is {(1,2),(2,4),None}: still the two line pairs
      assert(got(3)._2 == 1.0 && got(3)._3 == 2.0)
      // id=5's ring evicted (1,2): priors {(2,4),None,(3,7)}
      assert(got(4)._2 == 1.0 && got(4)._3 == 3.0)
    } finally q.stop()
  }

  test("holt stream: level+trend carry across batches, missing rows " +
      "emit null and freeze the state, equals the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.HoltEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(10.0)),
      StreamingOps.HoltEvent(1L, 2L, ts("2024-01-01 10:10:00"), Some(14.0)),
      StreamingOps.HoltEvent(1L, 3L, ts("2024-01-01 10:20:00"), None),
      StreamingOps.HoltEvent(1L, 4L, ts("2024-01-01 10:30:00"), Some(18.0)),
      StreamingOps.HoltEvent(2L, 5L, ts("2024-01-01 10:00:00"), Some(7.0)))
    val input = MemoryStream[StreamingOps.HoltEvent]
    val q = StreamingOps.holtSmoothStream(input.toDS(), 0.5, 0.2)
      .writeStream.format("memory").queryName("holt_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("holt_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4))).toSeq
      // same golden values as the batch SequentialSpec case
      assert(got(0) == ((1L, 10.0, 0.0)))
      assert(got(1) == ((2L, 12.0, 0.4)))
      assert(got(2)._2 == null && got(2)._3 == null)
      assert(got(3)._2 == 15.2.asInstanceOf[AnyRef])
      assert(got(4) == ((5L, 7.0, 0.0)))
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = graft.temporal.Sequential.holtSmooth(
        d, "e", "ts", "id", "v", 0.5, 0.2).orderBy("id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("rolling min/max stream: deques carry across batches, nulls " +
      "occupy slots, equals the batch rollingRows frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.MinMaxEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(5.0)),
      StreamingOps.MinMaxEvent(1L, 2L, ts("2024-01-01 10:10:00"), Some(3.0)),
      StreamingOps.MinMaxEvent(1L, 3L, ts("2024-01-01 10:20:00"), None),
      StreamingOps.MinMaxEvent(1L, 4L, ts("2024-01-01 10:30:00"), Some(8.0)),
      StreamingOps.MinMaxEvent(1L, 5L, ts("2024-01-01 10:40:00"), Some(1.0)),
      StreamingOps.MinMaxEvent(1L, 6L, ts("2024-01-01 10:50:00"), Some(4.0)),
      StreamingOps.MinMaxEvent(2L, 7L, ts("2024-01-01 10:00:00"), None))
    val input = MemoryStream[StreamingOps.MinMaxEvent]
    val q = StreamingOps.rollingMinMaxStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("mm_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 5), ev.drop(5)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("mm_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4),
          r.getLong(5))).toSeq
      // frames (k=3, incl current): {5} {5,3} {5,3,_} {3,_,8}
      // {_,8,1} {8,1,4}; entity 2: {_}
      assert(got == Seq(
        (1L, 5.0, 5.0, 1L), (2L, 3.0, 5.0, 2L), (3L, 3.0, 5.0, 2L),
        (4L, 3.0, 8.0, 2L), (5L, 1.0, 8.0, 2L), (6L, 1.0, 8.0, 3L),
        (7L, null, null, 0L)), got.toString)
      // cross-check against the batch window op on the same rows
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = graft.temporal.WindowOps.rollingRows(
        d, "e", "ts", Seq("v"), k = 3,
        aggs = Seq("min", "max", "count")).orderBy("id").collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(4)) null else r.getDouble(4),
          if (r.isNullAt(5)) null else r.getDouble(5),
          r.getLong(6))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("rolling min/max stream fails loudly on per-entity time " +
      "regression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.MinMaxEvent]
    val q = StreamingOps.rollingMinMaxStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("mm_reg")
      .outputMode("append").start()
    try {
      input.addData(StreamingOps.MinMaxEvent(1L, 1L,
        ts("2024-01-01 10:00:00"), Some(1.0)))
      q.processAllAvailable()
      input.addData(StreamingOps.MinMaxEvent(1L, 2L,
        ts("2024-01-01 09:00:00"), Some(2.0)))
      val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q.processAllAvailable() }
      assert(ex.getMessage.contains("ts-nondecreasing")
        || Option(ex.getCause).exists(
          _.getMessage.contains("ts-nondecreasing")))
    } finally q.stop()
  }

  test("rolling corr stream fails loudly on per-entity time regression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.CorrEvent]
    val q = StreamingOps.rollingCorrStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("corr_reg")
      .outputMode("append").start()
    try {
      input.addData(StreamingOps.CorrEvent(1L, 1L,
        ts("2024-01-01 10:00:00"), Some(1.0), Some(1.0)))
      q.processAllAvailable()
      input.addData(StreamingOps.CorrEvent(1L, 2L,
        ts("2024-01-01 09:00:00"), Some(2.0), Some(2.0)))
      val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q.processAllAvailable() }
      assert(ex.getMessage.contains("ts-nondecreasing")
        || Option(ex.getCause).exists(
          _.getMessage.contains("ts-nondecreasing")))
    } finally q.stop()
  }

  test("ewm mean stream: level carries across batches, missing rows " +
      "emit null and freeze the decay clock, equals the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.EwmEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(10.0)),
      StreamingOps.EwmEvent(1L, 2L, ts("2024-01-01 16:00:00"), Some(20.0)),
      StreamingOps.EwmEvent(1L, 3L, ts("2024-01-01 18:00:00"), None),
      StreamingOps.EwmEvent(1L, 4L, ts("2024-01-02 04:00:00"), Some(14.0)),
      StreamingOps.EwmEvent(2L, 5L, ts("2024-01-01 10:00:00"), Some(5.0)),
      StreamingOps.EwmEvent(2L, 6L, ts("2024-01-01 11:00:00"), Some(7.0)))
    val input = MemoryStream[StreamingOps.EwmEvent]
    val q = StreamingOps.ewmMeanStream(input.toDS(),
      halfLifeSeconds = 21600.0)
      .writeStream.format("memory").queryName("ewm_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("ewm_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => org.apache.spark.sql.Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = graft.temporal.Sequential.ewmMean(
        d, "e", "ts", "id", "v", halfLifeSeconds = 21600.0)
        .orderBy("id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      // hand math: one half-life 10->20 lands at 15; the missing row
      // emits null; the 6h gap id=4 decays from the id=2 OBSERVATION
      // (clock frozen over the missing row: dt = 12h not 10h)
      assert(got(1)._2 == 15.0)
      assert(got(2)._2 == null)
      val dt12h = 1.0 - math.pow(0.5, 2.0) // 12h / 6h half-life
      assert(math.abs(got(3)._2.asInstanceOf[Double] -
        (15.0 + dt12h * (14.0 - 15.0))) < 1e-12)
      // time regression within an entity fails loudly
      input.addData(StreamingOps.EwmEvent(1L, 9L,
        ts("2024-01-01 00:00:00"), Some(1.0)))
      val e = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("ts-nondecreasing") ||
        Option(e.getCause).exists(_.getMessage
          .contains("ts-nondecreasing")))
    } finally q.stop()
  }

  test("state-version guard: restart over a same-version checkpoint " +
      "resumes; an old-version or unstamped checkpoint fails with the " +
      "typed error, not an encoder crash") {
    import graft.streaming.{StreamVersion, StateVersionMismatchException}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("zscore-vguard").toString

    // first start stamps the checkpoint and runs normally
    // (foreachBatch sink: the memory sink cannot recover a checkpoint)
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    // ONE source instance across restarts: recovery resumes from the
    // committed offsets of the same source
    val input = MemoryStream[StreamingOps.ZEvent]
    def run(events: StreamingOps.ZEvent*): Unit = {
      val q = StreamingOps.zScoreStream(input.toDS(), k = 3)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamingOps.ZOut],
           _: Long) =>
            seen ++= b.collect().map(_.eventId); ()
        }
        .outputMode("append")
        .option("checkpointLocation",
          StreamVersion.guardedCheckpoint(ckpt, "zScoreStream"))
        .start()
      try {
        input.addData(events: _*); q.processAllAvailable()
      } finally q.stop()
    }
    run(StreamingOps.ZEvent(1L, 1L, ts("2024-01-01 10:00:00"),
      Some(10.0)))
    // same-version restart: guard is idempotent, stream resumes
    run(StreamingOps.ZEvent(1L, 2L, ts("2024-01-01 10:10:00"),
      Some(12.0)))
    assert(seen.contains(1L) && seen.contains(2L))

    // a checkpoint stamped by an older build (v1 sentinel rings)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ckpt,
      "_graft_state_version"), "zScoreStream/v1\n")
    val e = intercept[StateVersionMismatchException] {
      StreamVersion.guardedCheckpoint(ckpt, "zScoreStream")
    }
    assert(e.found == "zScoreStream/v1" &&
      e.expected == "zScoreStream/v2")

    // a pre-guard checkpoint with state but no stamp is equally
    // unknowable -> same typed failure
    val old = java.nio.file.Files
      .createTempDirectory("zscore-unstamped")
    java.nio.file.Files.createDirectory(old.resolve("state"))
    val e2 = intercept[StateVersionMismatchException] {
      StreamVersion.guardedCheckpoint(old.toString, "zScoreStream")
    }
    assert(e2.found.contains("unstamped"))

    // unknown operator names fail loudly (typo guard)
    intercept[IllegalArgumentException] {
      StreamVersion.guardedCheckpoint(ckpt, "nopeStream")
    }
  }

  test("decayed feature stream TTL: idle state evicts with the 2^-k " +
    "error bound; fresh restart after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hl = 3600.0
    val input = MemoryStream[StreamingOps.DecayEvent]
    // small k=2 so eviction is OBSERVABLE: the post-gap event reads
    // exactly its own value (fresh state) instead of value + s*2^-dt
    val q = StreamingOps.decayedFeatureStream(
      input.toDS().withWatermark("ts", "0 seconds")
        .as[StreamingOps.DecayEvent],
      hl, evictAfterHalfLives = Some(2.0))
      .writeStream.format("memory").queryName("decay_ttl")
      .outputMode("append").start()
    try {
      input.addData(
        StreamingOps.DecayEvent(1L, 1L, ts("2024-01-01 10:00:00"), 8.0))
      q.processAllAvailable()
      // watermark advances past 10:00 + 2 half-lives via a second
      // entity's much-later event -> entity 1's state times out
      input.addData(
        StreamingOps.DecayEvent(2L, 2L, ts("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
      input.addData( // another batch so the timeout fires before this
        StreamingOps.DecayEvent(2L, 3L, ts("2024-01-01 21:00:00"), 1.0))
      q.processAllAvailable()
      // entity 1 reappears 12h (12 half-lives) later: state was
      // evicted, so the emission is exactly 5.0 (fresh), where the
      // exact recurrence would add 8 * 2^-12 ~ 0.00195
      input.addData(
        StreamingOps.DecayEvent(1L, 4L, ts("2024-01-01 22:00:00"), 5.0))
      q.processAllAvailable()
      val got = spark.table("decay_ttl").orderBy("eventId")
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      val e4 = got.find(_._1 == 4L).get._2
      assert(e4 == 5.0, s"expected fresh restart 5.0, got $e4")
      // the truncation error the eviction introduced is bounded by
      // s_carried * 2^-(half-lives elapsed at re-arrival), and the
      // REAL bound at eviction time is s * 2^-k: both tiny vs 5.0
      val exact = 5.0 + 8.0 * math.pow(0.5, 12.0)
      assert(math.abs(exact - e4) <= 8.0 * math.pow(0.5, 2.0),
        s"eviction error ${math.abs(exact - e4)} above the 2^-k bound")
    } finally q.stop()
  }

  test("ohlcBarsStream: bars match resampleBars' non-empty grid " +
      "across chunked batches; an all-missing bucket emits n=0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("a", ts("2024-01-01 00:00:10"), Some(1.0)),
      ("a", ts("2024-01-01 00:00:20"), Option.empty[Double]),
      ("a", ts("2024-01-01 00:00:50"), Some(3.0)),
      ("a", ts("2024-01-01 00:02:05"), Some(Double.NaN)), // all-missing
      ("a", ts("2024-01-01 00:05:30"), Some(7.0)),
      ("b", ts("2024-01-01 00:03:00"), Some(2.0)))
    val input = MemoryStream[(String, Timestamp, Option[Double])]
    val df = input.toDF().toDF("e", "ts", "v")
    val q = StreamingOps.ohlcBarsStream(df, "e", "ts", "v",
      widthSeconds = 60L, watermark = "1 second")
      .writeStream.format("memory").queryName("ohlc")
      .outputMode("append").start()
    try {
      rows.grouped(2).foreach { c =>
        input.addData(c: _*); q.processAllAvailable()
      }
      input.addData(("z", ts("2024-02-01 00:00:00"), None)) // flush
      q.processAllAvailable()
      val got = spark.table("ohlc").filter(col("e") =!= "z")
        .orderBy("e", "bar_start_s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
          Option(r.get(6)))).toSeq
      // the all-NaN bucket is EMITTED (its events opened the bar)
      // with n=0 and null OHLC — distinguishable from "no events"
      assert(got == Seq(
        ("a", 1704067200L, 2L, Some(1.0), Some(3.0), Some(1.0),
          Some(3.0)),
        ("a", 1704067320L, 0L, None, None, None, None),
        ("a", 1704067500L, 1L, Some(7.0), Some(7.0), Some(7.0),
          Some(7.0)),
        ("b", 1704067380L, 1L, Some(2.0), Some(2.0), Some(2.0),
          Some(2.0))))
      // batch twin: the same buckets' non-empty bars (close without
      // the carry — a finalized streaming bar has no later context)
      val batch = WindowOps.resampleBars(
        spark.createDataFrame(rows.map(r =>
          Row(r._1, r._2, r._3.map(Double.box).orNull)).asJavaish,
          df.schema),
        "e", "ts", "v", widthSeconds = 60L)
        .filter(col("n") > 0)
        .orderBy("e", "bar_start_s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
          Option(r.get(6)))).toSeq
      assert(batch == got.filter(_._3 > 0))
    } finally q.stop()
  }

  test("monotone-run stream: sign/streak recurrence across batches " +
      "equals the batch monotoneRun carries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.MonoEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(1.0)),
      StreamingOps.MonoEvent(1L, 2L, ts("2024-01-01 10:00:01"), Some(2.0)),
      StreamingOps.MonoEvent(1L, 3L, ts("2024-01-01 10:00:02"), Some(3.0)),
      StreamingOps.MonoEvent(1L, 4L, ts("2024-01-01 10:00:03"), None),
      StreamingOps.MonoEvent(1L, 5L, ts("2024-01-01 10:00:04"), Some(2.0)),
      StreamingOps.MonoEvent(1L, 6L, ts("2024-01-01 10:00:05"), Some(2.0)),
      StreamingOps.MonoEvent(1L, 7L, ts("2024-01-01 10:00:06"), Some(5.0)),
      StreamingOps.MonoEvent(2L, 8L, ts("2024-01-01 10:00:00"), Some(9.0)))
    val input = MemoryStream[StreamingOps.MonoEvent]
    val q = StreamingOps.monotoneRunStream(input.toDS())
      .writeStream.format("memory").queryName("mono_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(3), ev.slice(3, 6), ev.drop(6)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("mono_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getInt(3),
          if (r.isNullAt(4)) null else r.getLong(4))).toSeq
      assert(got == Seq(
        (1L, null, null), (2L, 1, 1L), (3L, 1, 2L),
        (4L, null, null), (5L, -1, 1L), (6L, 0, 1L),
        (7L, 1, 1L), (8L, null, null)), got.toString)
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = WindowOps.monotoneRun(d, "e", "ts", "v",
        tieBreak = Seq("id")).orderBy("id").collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(4)) null else r.getInt(4),
          if (r.isNullAt(5)) null else r.getLong(5))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("session-position stream: gap counter across batches equals " +
      "the batch sessionPosition, strict-gap boundary exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.PosEvent(1L, 1L, ts("2024-01-01 10:00:00")),
      StreamingOps.PosEvent(1L, 2L, ts("2024-01-01 10:00:05")),
      // exactly gap seconds later: NOT a new session (> rule)
      StreamingOps.PosEvent(1L, 3L, ts("2024-01-01 10:30:05")),
      StreamingOps.PosEvent(1L, 4L, ts("2024-01-01 11:30:00")),
      StreamingOps.PosEvent(2L, 5L, ts("2024-01-01 10:00:00")))
    val input = MemoryStream[StreamingOps.PosEvent]
    val q = StreamingOps.sessionPositionStream(input.toDS(), 1800L)
      .writeStream.format("memory").queryName("pos_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 4), ev.drop(4)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("pos_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
      assert(got == Seq(
        (1L, 1L, 0L), (2L, 2L, 5000000L), (3L, 3L, 1805000000L),
        (4L, 1L, 0L), (5L, 1L, 0L)), got.toString)
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT",
        ev.map(e => Row(e.entity, e.ts, e.eventId)))
      val batch = WindowOps.sessionPosition(d, "e", "ts", 1800L,
        tieBreak = Seq("id")).orderBy("id").collect()
        .map(r => (r.getLong(2),
          r.getLong(r.fieldIndex("session_event_seq")),
          r.getLong(r.fieldIndex("us_into_session")))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("day-streak stream: two-long register across batches equals " +
      "the batch activeDayStreak islands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.DayEvent(1L, 1L, ts("2024-01-01 10:00:00")),
      StreamingOps.DayEvent(1L, 2L, ts("2024-01-02 09:00:00")),
      StreamingOps.DayEvent(1L, 3L, ts("2024-01-02 23:00:00")),
      StreamingOps.DayEvent(1L, 4L, ts("2024-01-03 00:30:00")),
      StreamingOps.DayEvent(1L, 5L, ts("2024-01-05 10:00:00")),
      StreamingOps.DayEvent(1L, 6L, ts("2024-01-06 10:00:00")),
      StreamingOps.DayEvent(2L, 7L, ts("2024-01-04 10:00:00")))
    val input = MemoryStream[StreamingOps.DayEvent]
    val q = StreamingOps.activeDayStreakStream(input.toDS())
      .writeStream.format("memory").queryName("day_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(3), ev.slice(3, 5), ev.drop(5)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("day_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(got == Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L),
        (5L, 1L), (6L, 2L), (7L, 1L)), got.toString)
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT",
        ev.map(e => Row(e.entity, e.ts, e.eventId)))
      val batch = graft.operators.Behavior
        .activeDayStreak(d, "e", "ts").orderBy("id").collect()
        .map(r => (r.getLong(2),
          r.getLong(r.fieldIndex("streak_days")))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("expanding-trend stream: BigInt OLS registers across " +
      "batches equal the batch expandingTrend, bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.TrendEvent(1L, 1L, ts("2024-01-01 10:00:00"), Some(1.0)),
      StreamingOps.TrendEvent(1L, 2L, ts("2024-01-01 10:00:10"), Some(2.0)),
      StreamingOps.TrendEvent(1L, 3L, ts("2024-01-01 10:00:20"), None),
      StreamingOps.TrendEvent(1L, 4L, ts("2024-01-01 10:00:30"), Some(4.7)),
      StreamingOps.TrendEvent(1L, 5L, ts("2024-01-01 10:00:40"), Some(3.3)),
      StreamingOps.TrendEvent(2L, 6L, ts("2024-01-01 10:00:00"), Some(9.0)))
    val input = MemoryStream[StreamingOps.TrendEvent]
    val q = StreamingOps.expandingTrendStream(input.toDS())
      .writeStream.format("memory").queryName("tr_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 5), ev.drop(5)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("tr_s").orderBy("eventId").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE",
        ev.map(e => Row(e.entity, e.ts, e.eventId,
          e.value.map(Double.box).orNull)))
      val batch = WindowOps.expandingTrend(d, "e", "ts", "v",
        tieBreak = Seq("id")).orderBy("id").collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(4)) null else r.getDouble(4))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(math.abs(got(1)._2.asInstanceOf[Double] - 0.1) < 1e-12)
    } finally q.stop()
  }

  test("feature-matrix stream: one state row per entity lands " +
      "every register exactly on the composed batch matrix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.FmEvent(1L, 1L, ts("2024-01-01 10:00:00"), "view", Some(1.0)),
      StreamingOps.FmEvent(1L, 2L, ts("2024-01-01 10:00:10"), "purchase", Some(2.0)),
      StreamingOps.FmEvent(1L, 3L, ts("2024-01-01 10:00:20"), "view", None),
      StreamingOps.FmEvent(1L, 4L, ts("2024-01-01 11:00:00"), "purchase", Some(5.0)),
      StreamingOps.FmEvent(1L, 5L, ts("2024-01-01 11:00:05"), "view", Some(4.0)),
      StreamingOps.FmEvent(2L, 6L, ts("2024-01-01 10:00:00"), "view", Some(7.0)))
    val input = MemoryStream[StreamingOps.FmEvent]
    val q = StreamingOps.featureMatrixStream(input.toDS(),
      Seq("purchase"), gapSeconds = 1800L)
      .writeStream.format("memory").queryName("fm_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 5), ev.drop(5)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("fm_s").orderBy("eventId").collect()
        .map { r =>
          val sinceArr = r.getSeq[Any](5)
          (r.getLong(0), r.getLong(3), r.getLong(4),
            Option(sinceArr(0)).map(_.asInstanceOf[Long]),
            if (r.isNullAt(6)) null else r.getInt(6),
            if (r.isNullAt(7)) null else r.getLong(7),
            if (r.isNullAt(8)) null else r.getDouble(8))
        }.toSeq
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, t STRING, " +
        "v DOUBLE", ev.map(e => Row(e.entity, e.ts, e.eventId,
          e.eventType, e.value.map(Double.box).orNull)))
      val batch = WindowOps.featureMatrix(d, "e", "ts", "v", "t",
        Seq("purchase"), 1800L, Seq("id")).orderBy("id").collect()
        .map { r =>
          def gl(c: String) = r.fieldIndex(c)
          (r.getLong(2), r.getLong(gl("session_event_seq")),
            r.getLong(gl("us_into_session")),
            if (r.isNullAt(gl("us_since_purchase"))) None
            else Some(r.getLong(gl("us_since_purchase"))),
            if (r.isNullAt(gl("v_dir"))) null
            else r.getInt(gl("v_dir")),
            if (r.isNullAt(gl("v_dir_run"))) null
            else r.getLong(gl("v_dir_run")),
            if (r.isNullAt(gl("v_trend"))) null
            else r.getDouble(gl("v_trend")))
        }.toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("recency-by-type stream: strictly-prior registers across " +
      "batches equal the batch recencyByType carries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Seq(
      StreamingOps.TypeEvent(1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      StreamingOps.TypeEvent(1L, 2L, ts("2024-01-01 10:00:10"), "purchase"),
      StreamingOps.TypeEvent(1L, 3L, ts("2024-01-01 10:00:20"), "view"),
      StreamingOps.TypeEvent(1L, 4L, ts("2024-01-01 10:00:30"), "purchase"),
      StreamingOps.TypeEvent(1L, 5L, ts("2024-01-01 10:00:40"), "other"),
      StreamingOps.TypeEvent(2L, 6L, ts("2024-01-01 10:00:00"), "view"))
    val input = MemoryStream[StreamingOps.TypeEvent]
    val q = StreamingOps.recencyByTypeStream(input.toDS(),
      Seq("view", "purchase"))
      .writeStream.format("memory").queryName("rec_s")
      .outputMode("append").start()
    try {
      Seq(ev.take(2), ev.slice(2, 5), ev.drop(5)).foreach { chunk =>
        input.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("rec_s").orderBy("eventId").collect()
        .map { r =>
          val s = r.getSeq[Any](3)
          (r.getLong(0), Option(s(0)).map(_.asInstanceOf[Long]),
            Option(s(1)).map(_.asInstanceOf[Long]))
        }.toSeq
      assert(got == Seq(
        (1L, None, None),
        (2L, Some(10000000L), None),
        (3L, Some(20000000L), Some(10000000L)),
        (4L, Some(10000000L), Some(20000000L)),
        (5L, Some(20000000L), Some(10000000L)),
        (6L, None, None)), got.toString)
      val d = df("e BIGINT, ts TIMESTAMP, id BIGINT, t STRING",
        ev.map(e => Row(e.entity, e.ts, e.eventId, e.eventType)))
      val batch = WindowOps.recencyByType(d, "e", "ts", "t",
        Seq("view", "purchase"), tieBreak = Seq("id"))
        .orderBy("id").collect()
        .map(r => (r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }
}

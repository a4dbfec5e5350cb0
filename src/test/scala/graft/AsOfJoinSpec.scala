package graft

import graft.temporal.AsOfJoin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** As-of join correctness incl. the temporal-leakage oracle
  * (BASELINE.json north_rule: "zero temporal leakage") and strategy
  * equivalence (union/window vs broadcast vs salted).
  */
class AsOfJoinSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def left() = df("e STRING, ts TIMESTAMP, lv BIGINT", Seq(
    Row("a", ts("2024-01-01 10:00:00"), 1L),
    Row("a", ts("2024-01-01 12:00:00"), 2L),
    Row("a", ts("2024-01-01 14:00:00"), 3L),
    Row("b", ts("2024-01-01 10:00:00"), 4L),
    Row("c", ts("2024-01-01 10:00:00"), 5L)))

  private def right() = df("e STRING, ts TIMESTAMP, f DOUBLE", Seq(
    Row("a", ts("2024-01-01 09:00:00"), 1.0),
    Row("a", ts("2024-01-01 12:00:00"), 2.0), // same instant as a left row
    Row("a", ts("2024-01-01 13:00:00"), 3.0),
    Row("b", ts("2024-01-01 11:00:00"), 4.0))) // only AFTER b's event

  test("latest right row at-or-before each left ts (<=)") {
    val out = AsOfJoin.join(left(), right(), "e").orderBy("lv")
    assert(column(out, "f") == Seq(1.0, 2.0, 3.0, null, null))
  }

  test("strict < skips same-instant rows") {
    val out = AsOfJoin.join(left(), right(), "e", strict = true)
      .orderBy("lv")
    assert(column(out, "f") == Seq(1.0, 1.0, 3.0, null, null))
  }

  test("tolerance nulls stale matches") {
    val out = AsOfJoin.join(left(), right(), "e",
      toleranceSeconds = Some(3600)).orderBy("lv")
    // lv=1 matched 09:00 (1h) ok; lv=2 matched 12:00 (0) ok; lv=3 13:00 (1h) ok
    assert(column(out, "f") == Seq(1.0, 2.0, 3.0, null, null))
    val tight = AsOfJoin.join(left(), right(), "e",
      toleranceSeconds = Some(1800)).orderBy("lv")
    assert(column(tight, "f") == Seq(null, 2.0, null, null, null))
  }

  test("joinWithFallback: entity within tolerance wins (even a null " +
      "value), stale/absent entity falls to group, provenance kept") {
    val spine = df("e STRING, g STRING, ts TIMESTAMP, id BIGINT", Seq(
      Row("a", "g1", ts("2024-01-01 10:00:00"), 1L), // entity fresh
      Row("a", "g1", ts("2024-01-01 14:00:00"), 2L), // entity stale
      Row("x", "g1", ts("2024-01-01 14:00:00"), 3L), // no entity rows
      Row("x", "g2", ts("2024-01-01 10:00:00"), 4L), // neither level
      Row("n", "g1", ts("2024-01-01 10:00:00"), 5L))) // matched NULL
    val ef = df("e STRING, ts TIMESTAMP, f DOUBLE", Seq(
      Row("a", ts("2024-01-01 09:30:00"), 1.0),
      Row("n", ts("2024-01-01 09:45:00"), null)))
    val gf = df("g STRING, ts TIMESTAMP, f DOUBLE", Seq(
      Row("g1", ts("2024-01-01 09:00:00"), 8.0),
      Row("g1", ts("2024-01-01 13:00:00"), 9.0),
      Row("g2", ts("2024-01-01 12:00:00"), 7.0))) // after the event
    val out = AsOfJoin.joinWithFallback(spine, ef, gf, "e", "g",
      Seq("f"), toleranceSeconds = Some(3600)).orderBy("id")
    assert(column(out, "f") === Seq(1.0, 9.0, 9.0, null, null))
    assert(column(out, "feature_source") ===
      Seq("entity", "group", "group", null, "entity"))
    assert(column(out, "matched_ts") === Seq(
      ts("2024-01-01 09:30:00"), ts("2024-01-01 13:00:00"),
      ts("2024-01-01 13:00:00"), null, ts("2024-01-01 09:45:00")))
    // zero leakage at BOTH levels: no matched_ts after the event
    assert(out.filter(col("matched_ts") > col("ts")).count() === 0)
    intercept[IllegalArgumentException] { // output collision
      AsOfJoin.joinWithFallback(
        spine.withColumn("feature_source", lit("x")),
        ef, gf, "e", "g", Seq("f"))
    }
    intercept[IllegalArgumentException] { // value col missing in feed
      AsOfJoin.joinWithFallback(spine, ef,
        gf.withColumnRenamed("f", "h"), "e", "g", Seq("f"))
    }
  }

  test("temporal leakage oracle: no matched_ts after left ts, ever") {
    val strategies = Seq(
      AsOfJoin.join(left(), right(), "e"),
      AsOfJoin.join(left(), right(), "e", broadcastRight = true),
      AsOfJoin.join(left(), right(), "e",
        hotEntities = Seq("a"), saltBuckets = 4))
    strategies.foreach { out =>
      val leaks = out.filter(col("matched_ts") > col("ts")).count()
      assert(leaks == 0, "leaked future rows")
    }
    val strict = AsOfJoin.join(left(), right(), "e", strict = true)
    assert(strict.filter(col("matched_ts") >= col("ts")).count() == 0)
  }

  test("broadcast strategy == union strategy") {
    val a = AsOfJoin.join(left(), right(), "e").orderBy("lv")
    val b = AsOfJoin.join(left(), right(), "e", broadcastRight = true)
      .orderBy("lv")
    assert(a.collect().toSeq == b.collect().toSeq)
  }

  test("joinNearest: closest match either side, same-instant wins") {
    val out = AsOfJoin.joinNearest(left(), right(), "e").orderBy("lv")
    // lv=4 (b@10:00) now matches b@11:00 — the forward row the
    // backward join cannot see
    assert(column(out, "f") == Seq(1.0, 2.0, 3.0, 4.0, null))
    assert(column(out, "matched_ts") == Seq(
      ts("2024-01-01 09:00:00"), ts("2024-01-01 12:00:00"),
      ts("2024-01-01 13:00:00"), ts("2024-01-01 11:00:00"), null))
  }

  test("joinNearest: tolerance bounds BOTH directions") {
    val out = AsOfJoin.joinNearest(left(), right(), "e",
      toleranceSeconds = Some(1800)).orderBy("lv")
    assert(column(out, "f") == Seq(null, 2.0, null, null, null))
    assert(column(out, "matched_ts") ==
      Seq(null, ts("2024-01-01 12:00:00"), null, null, null))
  }

  test("joinNearest: equidistant tie goes backward") {
    val l = df("e STRING, ts TIMESTAMP, lv BIGINT",
      Seq(Row("x", ts("2024-01-01 10:00:00"), 1L)))
    val r = df("e STRING, ts TIMESTAMP, f DOUBLE", Seq(
      Row("x", ts("2024-01-01 09:00:00"), 1.0),
      Row("x", ts("2024-01-01 11:00:00"), 2.0)))
    assert(column(AsOfJoin.joinNearest(l, r, "e"), "f") == Seq(1.0))
    assert(column(
      AsOfJoin.joinNearest(l, r, "e", broadcastRight = true), "f") ==
      Seq(1.0))
  }

  test("joinNearest: broadcast == union == salted") {
    val a = AsOfJoin.joinNearest(left(), right(), "e").orderBy("lv")
    val b = AsOfJoin.joinNearest(left(), right(), "e",
      broadcastRight = true).orderBy("lv")
    val sa = AsOfJoin.joinNearest(left(), right(), "e",
      hotEntities = Seq("a", "b"), saltBuckets = 3).orderBy("lv")
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(a.collect().toSeq == sa.collect().toSeq)
  }

  test("joinNearest: null right entity/ts rows never match") {
    val r = right().unionByName(df("e STRING, ts TIMESTAMP, f DOUBLE",
      Seq(Row(null, ts("2024-01-01 10:00:00"), 9.0),
        Row("c", null, 9.9))))
    val out = AsOfJoin.joinNearest(left(), r, "e").orderBy("lv")
    assert(column(out, "f") == Seq(1.0, 2.0, 3.0, 4.0, null))
  }

  test("salted hot entities == unsalted result") {
    val base = AsOfJoin.join(left(), right(), "e").orderBy("lv")
    val salted = AsOfJoin.join(left(), right(), "e",
      hotEntities = Seq("a", "b"), saltBuckets = 3).orderBy("lv")
    assert(base.collect().toSeq == salted.collect().toSeq)
  }

  test("salted equivalence on a bigger randomized-shape table") {
    val spark0 = spark
    import spark0.implicits._
    val l = spark.range(0, 2000)
      .select(concat(lit("e"), (col("id") % 7).cast("string")).as("e"),
        timestamp_micros(lit(1700000000000000L) +
          xxhash64(col("id")) % 100000000L).as("ts"),
        col("id").as("lv"))
    val r = spark.range(0, 500)
      .select(concat(lit("e"), (col("id") % 7).cast("string")).as("e"),
        timestamp_micros(lit(1700000000000000L) +
          xxhash64(col("id"), lit(1)) % 100000000L).as("ts"),
        (col("id") * 2).cast("double").as("f"))
    val base = AsOfJoin.join(l, r, "e").orderBy("lv").collect().toSeq
    val salted = AsOfJoin.join(l, r, "e",
      hotEntities = Seq("e0", "e1"), saltBuckets = 5)
      .orderBy("lv").collect().toSeq
    val bcast = AsOfJoin.join(l, r, "e", broadcastRight = true)
      .orderBy("lv").collect().toSeq
    assert(base == salted)
    assert(base == bcast)
  }

  test("detectHotEntities: sampled key-frequency pass promotes " +
      "exactly the keys above the row-share threshold") {
    // 10k rows: "hot" holds 60%, "warm" 25%, 15 cold keys ~1% each
    val keys = spark.range(0, 10000).select(
      when(col("id") < 6000, lit("hot"))
        .when(col("id") < 8500, lit("warm"))
        .otherwise(concat(lit("cold"), (col("id") % 15).cast("string")))
        .as("e"),
      col("id").as("ts"))
    val exact = AsOfJoin.detectHotEntities(keys, "e", rowShare = 0.10)
    assert(exact == Seq("hot", "warm")) // heaviest first
    // a 5% sample still resolves a 60/25% key against a 10% threshold
    val sampled = AsOfJoin.detectHotEntities(keys, "e",
      rowShare = 0.10, sampleFraction = 0.05)
    assert(sampled == Seq("hot", "warm"))
    // determinism: the fixed seed makes repeat calls identical
    assert(sampled == AsOfJoin.detectHotEntities(keys, "e",
      rowShare = 0.10, sampleFraction = 0.05))
    // maxKeys caps the list at the heaviest keys
    assert(AsOfJoin.detectHotEntities(keys, "e", rowShare = 0.10,
      maxKeys = 1) == Seq("hot"))
    // nothing above 70% -> empty; empty input -> empty
    assert(AsOfJoin.detectHotEntities(keys, "e", rowShare = 0.70).isEmpty)
    assert(AsOfJoin.detectHotEntities(
      keys.filter(lit(false)), "e").isEmpty)
    // null keys are ignored, not promoted
    val withNulls = keys.select(
      when(col("e") === "warm", lit(null)).otherwise(col("e")).as("e"),
      col("ts"))
    assert(AsOfJoin.detectHotEntities(withNulls, "e", rowShare = 0.10)
      == Seq("hot"))
    intercept[IllegalArgumentException] {
      AsOfJoin.detectHotEntities(keys, "e", rowShare = 0.0)
    }
  }

  /** The `asof.plan` lines `AsOfJoin` logs at INFO while `body` runs. */
  private def planLines(body: => Unit): Seq[String] =
    infoLines(AsOfJoin.getClass, "asof.plan")(body)

  test("asof.plan: one INFO line per join names its strategy, salt, " +
      "shipped and rebuilt columns; the hot-key pass is described") {
    val l = df("id INT, e STRING, ts BIGINT",
      (0 until 40).map(i => Row(i, if (i % 4 == 0) "b" else "a", i * 10L)))
      .withColumn("ts", timestamp_seconds(col("ts")))
    val r = df("e STRING, ts BIGINT, v DOUBLE",
      Seq(Row("a", 5L, 1.0), Row("b", 15L, 2.0)))
      .withColumn("ts", timestamp_seconds(col("ts")))
    val lInt = l.withColumn("e", when(col("e") === "a", 1).otherwise(2))
    val rLong = r.withColumn("e", when(col("e") === "a", 1L).otherwise(2L))
    val lines = planLines {
      AsOfJoin.join(l, r, "e", hotEntities = Seq("a"), saltBuckets = 4)
      AsOfJoin.joinForward(l, r, "e", broadcastRight = true)
      AsOfJoin.joinNearest(lInt, rLong, "e")
    }
    assert(lines == Seq(
      "asof.plan op=join strategy=union hot=1 buckets=4 shipped=id " +
        "rebuilt=e,ts",
      "asof.plan op=forward strategy=broadcast hot=0 buckets=1 shipped=id " +
        "rebuilt=e,ts",
      "asof.plan op=nearest strategy=union hot=0 buckets=1 shipped=id,e " +
        "rebuilt=ts"))
    val (hot, jobs) = describedJobs(AsOfJoin.detectHotEntities(l, "e", 0.5))
    assert(hot == Seq("a"))
    assert(jobs.nonEmpty && jobs.forall(_ == "asof.hot_keys"), jobs)
  }

  test("auto-salted join (runtime hot-key detection, no explicit " +
      "list) == unsalted result") {
    val l = spark.range(0, 2000)
      .select(
        // 80% of left rows on ONE entity, rest spread over 6
        when(col("id") % 5 =!= 0, lit("e0"))
          .otherwise(concat(lit("e"),
            (col("id") % 7).cast("string"))).as("e"),
        timestamp_micros(lit(1700000000000000L) +
          xxhash64(col("id")) % 100000000L).as("ts"),
        col("id").as("lv"))
    val r = spark.range(0, 500)
      .select(concat(lit("e"), (col("id") % 7).cast("string")).as("e"),
        timestamp_micros(lit(1700000000000000L) +
          xxhash64(col("id"), lit(1)) % 100000000L).as("ts"),
        (col("id") * 2).cast("double").as("f"))
    // the detection pass must actually find the hot key...
    assert(AsOfJoin.detectHotEntities(l, "e", rowShare = 0.1)
      == Seq("e0"))
    // ...and the auto-salted plan must produce the unsalted answer
    val base = AsOfJoin.join(l, r, "e").orderBy("lv").collect().toSeq
    val auto = AsOfJoin.join(l, r, "e",
      autoSaltShare = Some(0.1), autoSaltSample = 1.0)
      .orderBy("lv").collect().toSeq
    val autoSampled = AsOfJoin.join(l, r, "e",
      autoSaltShare = Some(0.1), autoSaltSample = 0.25)
      .orderBy("lv").collect().toSeq
    val autoForward = AsOfJoin.joinForward(l, r, "e",
      autoSaltShare = Some(0.1), autoSaltSample = 1.0)
      .orderBy("lv").collect().toSeq
    val baseForward = AsOfJoin.joinForward(l, r, "e")
      .orderBy("lv").collect().toSeq
    assert(base == auto)
    assert(base == autoSampled)
    assert(baseForward == autoForward)
    // an explicit hot list takes precedence over detection (no
    // detection job runs: equivalence is the observable contract)
    val explicitWins = AsOfJoin.join(l, r, "e",
      hotEntities = Seq("e0"), autoSaltShare = Some(0.1))
      .orderBy("lv").collect().toSeq
    assert(base == explicitWins)
  }

  test("dirty right rows (null entity / null ts) never match, and " +
      "both strategies agree on it") {
    // regression: a null right-ts row sorted FIRST in the union
    // window and became a minus-infinity pseudo-match (value columns
    // populated, matched_ts null); null entities matched each other
    // through the window partition while the broadcast equi-join
    // never matches null — the strategies diverged
    val dirtyRight = df("e STRING, ts TIMESTAMP, f DOUBLE", Seq(
      Row("a", ts("2024-01-01 09:00:00"), 1.0),
      Row("b", null, 99.0), // null ts
      Row(null, ts("2024-01-01 08:00:00"), 77.0))) // null entity
    val dirtyLeft = left().unionByName(
      df("e STRING, ts TIMESTAMP, lv BIGINT", Seq(
        Row(null, ts("2024-01-01 10:00:00"), 6L))))
    val union = AsOfJoin.join(dirtyLeft, dirtyRight, "e")
      .orderBy("lv")
    val bcast = AsOfJoin.join(dirtyLeft, dirtyRight, "e",
      broadcastRight = true).orderBy("lv")
    assert(column(union, "f") == column(bcast, "f"))
    // b never matches (its only right row has a null ts) and the
    // null-entity left row never matches the null-entity right row
    val byLv = union.collect()
      .map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(byLv(4L).isEmpty && byLv(6L).isEmpty)
    // the matched_ts-iff-matched invariant holds everywhere
    val broken = union.filter(
      (col("f").isNotNull && col("matched_ts").isNull) ||
      (col("f").isNull && col("matched_ts").isNotNull)).count()
    assert(broken == 0)
  }

  test("left row count is always preserved") {
    val out = AsOfJoin.join(left(), right(), "e",
      hotEntities = Seq("a"), saltBuckets = 4)
    assert(out.count() == 5)
  }

  test("joinMulti: each feed matches independently with prefixed " +
      "outputs; row count preserved") {
    val feedB = df("e STRING, ts TIMESTAMP, g DOUBLE", Seq(
      Row("a", ts("2024-01-01 11:00:00"), 10.0),
      Row("b", ts("2024-01-01 09:00:00"), 20.0)))
    val out = AsOfJoin.joinMulti(left(), "e", "ts", Seq(
      AsOfJoin.Feed("r1", right(), valueCols = Seq("f")),
      AsOfJoin.Feed("r2", feedB, valueCols = Seq("g"))))
      .orderBy("lv")
    assert(out.count() == 5)
    assert(Seq("r1_f", "r1_matched_ts", "r2_g", "r2_matched_ts")
      .forall(out.columns.contains))
    assert(column(out, "r1_f") == Seq(1.0, 2.0, 3.0, null, null))
    assert(column(out, "r2_g") == Seq(null, 10.0, 10.0, 20.0, null))
  }

  test("joinMulti: duplicate feed names and shadowed spine columns " +
      "are rejected up front") {
    intercept[IllegalArgumentException] {
      AsOfJoin.joinMulti(left(), "e", "ts", Seq(
        AsOfJoin.Feed("x", right()), AsOfJoin.Feed("x", right())))
    }
    // feed value column "lv" collides with the spine's lv
    val bad = df("e STRING, ts TIMESTAMP, lv DOUBLE", Seq(
      Row("a", ts("2024-01-01 09:00:00"), 1.0)))
    intercept[IllegalArgumentException] {
      AsOfJoin.joinMulti(left(), "e", "ts", Seq(
        AsOfJoin.Feed("x", bad, valueCols = Seq("lv"))))
    }
  }

  test("intervalFeatures: (t-w, t] counts and exact sums — ties at " +
      "one instant all count, empty windows count 0 with null sum, " +
      "an all-null-value window sums null but still counts") {
    val feed = df("e STRING, ts TIMESTAMP, v DOUBLE", Seq(
      Row("a", ts("2024-01-01 09:30:00"), 1.5),
      Row("a", ts("2024-01-01 09:30:00"), 2.25), // tie: same instant
      Row("a", ts("2024-01-01 08:00:00"), 100.0), // outside 1h window
      Row("b", ts("2024-01-01 09:00:00"), null))) // null value
    val spine = df("e STRING, ts TIMESTAMP, k BIGINT", Seq(
      Row("a", ts("2024-01-01 10:00:00"), 1L), // 1h window: the tie pair
      Row("a", ts("2024-01-01 08:30:00"), 2L), // 1h window: the 08:00 row
      Row("b", ts("2024-01-01 09:30:00"), 3L), // null-valued row counts
      Row("c", ts("2024-01-01 10:00:00"), 4L))) // nothing ever
    val out = AsOfJoin.intervalFeatures(spine, feed, "e", "ts",
      windowsSeconds = Seq(3600L), valueCol = Some("v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(2), r.getAs[Long]("w3600_count"),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 2L, 3.75), (2L, 1L, 100.0),
      (3L, 1L, null), (4L, 0L, null)))
    intercept[IllegalArgumentException] {
      AsOfJoin.intervalFeatures(spine, feed, "e", "ts", Seq(0L))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.intervalFeatures(
        spine.withColumn("w60_count", lit(0L)), feed, "e", "ts",
        Seq(60L))
    }
  }

  test("multiHorizon: per-horizon as-of values, zero leakage at " +
      "every horizon, negative/duplicate horizons rejected") {
    // horizons 0 and 3600s over the shared fixture. At t=12:00 the
    // h0 join sees the same-instant 12:00 row (<= semantics); the
    // 1h-back join at 11:00 sees only 09:00's value.
    val out = AsOfJoin.multiHorizon(left(), right(), "e", "ts",
      horizonsSeconds = Seq(0L, 3600L), rightValueCols = Seq("f"))
      .orderBy("lv")
    assert(column(out, "h0_f") == Seq(1.0, 2.0, 3.0, null, null))
    assert(column(out, "h3600_f") == Seq(1.0, 1.0, 3.0, null, null))
    // leakage property at both horizons: matched_ts <= ts - horizon
    out.collect().foreach { r =>
      val t = r.getAs[java.sql.Timestamp]("ts")
      val m0 = r.getAs[java.sql.Timestamp]("h0_matched_ts")
      val m1 = r.getAs[java.sql.Timestamp]("h3600_matched_ts")
      if (m0 != null) assert(!m0.after(t), s"h0 leaked: $r")
      if (m1 != null)
        assert(m1.getTime <= t.getTime - 3600000L, s"h3600 leaked: $r")
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.multiHorizon(left(), right(), "e", "ts", Seq(-60L))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.multiHorizon(left(), right(), "e", "ts", Seq(0L, 0L))
    }
  }

  test("replayParity: a feed update landing between the training and " +
      "serving instants flags stale; quiet windows do not; " +
      "serve < train is loud; collisions rejected") {
    // entity a: trained at 10:00 (sees f=1.0 @09:00), served at 13:30
    // (sees f=3.0 @13:00) -> STALE. lv=2 row: trained 12:00 (f=2.0),
    // served 12:30 (still f=2.0, next update 13:00 is later... use
    // serve=12:30 so nothing lands between) -> not stale. entity c:
    // never matches at either instant -> null==null, not stale.
    val spine = df("e STRING, ts TIMESTAMP, serve_ts TIMESTAMP, lv BIGINT",
      Seq(
        Row("a", ts("2024-01-01 10:00:00"), ts("2024-01-01 13:30:00"), 1L),
        Row("a", ts("2024-01-01 12:00:00"), ts("2024-01-01 12:30:00"), 2L),
        Row("c", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 5L)))
    val out = AsOfJoin.replayParity(spine, right(), "e",
      "ts", "serve_ts", "ts", Seq("f")).orderBy("lv")
    assert(column(out, "f_train") == Seq(1.0, 2.0, null))
    assert(column(out, "f_serve") == Seq(3.0, 2.0, null))
    assert(column(out, "f_stale") == Seq(true, false, false))
    // serving before training = upstream clock skew, loud
    val skewed = df("e STRING, ts TIMESTAMP, serve_ts TIMESTAMP", Seq(
      Row("a", ts("2024-01-01 10:00:00"), ts("2024-01-01 09:00:00"))))
    val e = intercept[Exception] {
      AsOfJoin.replayParity(skewed, right(), "e",
        "ts", "serve_ts", "ts", Seq("f")).collect()
    }
    assert(e.getMessage.contains("replayParity") ||
      Option(e.getCause).exists(_.getMessage.contains("replayParity")))
    // spine already carrying an output name is rejected up front
    val clash = df("e STRING, ts TIMESTAMP, serve_ts TIMESTAMP," +
      " f_train DOUBLE", Seq(
      Row("a", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 0.0)))
    intercept[IllegalArgumentException] {
      AsOfJoin.replayParity(clash, right(), "e",
        "ts", "serve_ts", "ts", Seq("f"))
    }
  }
}

package graft

import graft.text.Sharding
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ShardingSpec extends SparkSpec {

  test("packShards: exclusive cumsum + starting-shard assignment") {
    val d = df("id BIGINT, tok BIGINT", Seq(
      Row(1L, 400L), Row(2L, 700L), Row(3L, 100L), Row(4L, 900L),
      Row(5L, 50L)))
    val out = Sharding.packShards(d, "id", "tok", budget = 1000L)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // cum_before: 0, 400, 1100, 1200, 2100
    assert(out.toSeq == Seq((1L, 0L, 0L), (2L, 400L, 0L),
      (3L, 1100L, 1L), (4L, 1200L, 1L), (5L, 2100L, 2L)))
  }

  test("packContextBlocks: span boundaries, offsets, zero-token docs, " +
    "integer div past 2^53") {
    val d = df("id BIGINT, tok BIGINT", Seq(
      Row(1L, 400L), Row(2L, 700L), Row(3L, 0L), Row(4L, 100L),
      Row(5L, 1300L)))
    val out = Sharding.packContextBlocks(d, "id", "tok", blockSize = 512L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // cum_before: 0, 400, 1100, 1100, 1200
    // doc1 tokens [0,399]    -> block 0..0, offset 0
    // doc2 tokens [400,1099] -> block 0..2 (spans 2 boundaries), off 400
    // doc3 zero tokens at 1100 -> collapses to start block 2
    // doc4 tokens [1100,1199] -> block 2..2, offset 76
    // doc5 tokens [1200,2499] -> block 2..4, offset 176
    assert(out == Seq(
      (1L, 0L, 0L, 0L, 0L), (2L, 400L, 0L, 400L, 2L),
      (3L, 1100L, 2L, 76L, 2L), (4L, 1100L, 2L, 76L, 2L),
      (5L, 1200L, 2L, 176L, 4L)))
    // conservation: every non-empty doc covers exactly n_tok tokens of
    // the stream — sum over docs of (cum_before+n-1 span) == total
    val total = out.map { case (id, _, _, _, _) => id }.size
    assert(total == 5)
    // integer div stays exact where floor(double /) would not: a
    // cum_before past 2^53 with a 1-token doc must land in the TRUE
    // block, not the double-rounded one
    val big = (1L << 53) + 3L // rounds UP to 2^53+4 as a double
    val d2 = df("id BIGINT, tok BIGINT", Seq(Row(1L, big), Row(2L, 1L)))
    val r2 = Sharding.packContextBlocks(d2, "id", "tok", blockSize = 2L)
      .filter(col("id") === 2L).head()
    assert(r2.getLong(2) == big) // cum_before exact in int64
    assert(r2.getLong(3) == big / 2L) // true integer block index
    // the double path would have misplaced it by one block
    assert(math.floor(big.toDouble / 2.0).toLong != big / 2L)
  }

  test("packShards is partition-count invariant (two-phase cumsum)") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 1000L).map(i => Row(i, rnd.nextInt(50).toLong))
    def run(parts: Int) = {
      val d = df("id BIGINT, tok BIGINT", rows).repartition(parts)
      Sharding.packShards(d, "id", "tok", budget = 500L)
        .select("id", "cum_before", "shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(run(1) == run(7))
  }

  test("two-phase cumsum plans with NO single-partition exchange " +
      "(asserted PRE-checkpoint, where the plan is visible)") {
    val d = df("id BIGINT, tok BIGINT",
      (1L to 100L).map(i => Row(i, 10L)))
    // single-key path (packShards' shape)
    graft.core.Lineage.scoped { s =>
      val f1 = Sharding.exclusiveCumSumRaw(s, d, Seq(col("id")),
        col("tok") -> "c")
      val p1 = f1.queryExecution.executedPlan.toString
      assert(!p1.contains("SinglePartition"), p1.take(800))
    }
    // multi-sort-key path (vocabulary's dense-rank shape)
    graft.core.Lineage.scoped { s =>
      val f2 = Sharding.exclusiveCumSumRaw(s, d,
        Seq(col("tok").desc, col("id")), lit(1L) -> "rank")
      val p2 = f2.queryExecution.executedPlan.toString
      assert(!p2.contains("SinglePartition"), p2.take(800))
    }
  }

  test("sampleExactPerStratum: exact counts, matches the sort rule, " +
      "short strata") {
    val rows = (1L to 900L).map(i =>
      Row(i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
    val d = df("id BIGINT, lang STRING", rows)
    val out = Sharding.sampleExactPerStratum(d, "lang", "id", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out.groupBy(_._1).view.mapValues(_.size).toMap ==
      Map("en" -> 10, "de" -> 10, "xx" -> 10))
    // reference: sort by (mixHash, id), take 10 per stratum
    val exp = d.withColumn("h", Sharding.mixHash(col("id")))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (l, a) =>
        a.sortBy(t => (t._3, t._2)).take(10).map(t => (l, t._2))
      }.toSet
    assert(out == exp)
    // stratum smaller than n -> the whole stratum
    val tiny = df("id BIGINT, lang STRING",
      Seq(Row(1L, "a"), Row(2L, "a"), Row(3L, "b")))
    assert(Sharding.sampleExactPerStratum(tiny, "lang", "id", 5)
      .count() == 3)
  }

  test("stratifiedSample: deterministic, dyadic rates exact, " +
      "unlisted strata dropped") {
    val rows = (1L to 4000L).map(i =>
      Row(i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
    val d = df("id BIGINT, lang STRING", rows)
    val out = Sharding.stratifiedSample(d, "lang", "id",
      Map("en" -> 0.5, "de" -> 1.0))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("xx"))
    assert(byLang("de") == 1334) // rate 1.0 keeps every row
    val en = byLang("en").toDouble / 1333.0
    assert(en > 0.4 && en < 0.6, s"en rate $en")
    // determinism: same rows kept on re-run
    val a = column(out.orderBy("id"), "id")
    val b = column(Sharding.stratifiedSample(d, "lang", "id",
      Map("en" -> 0.5, "de" -> 1.0)).orderBy("id"), "id")
    assert(a == b)
  }

  test("epochShuffle: a dense permutation per epoch, stable on " +
      "re-run, different across epochs, hash-order exact") {
    val n = 500
    val d = spark.range(n).toDF("id")
    val e1 = Sharding.epochShuffle(d, "id", epoch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a permutation: every position 0..n-1 exactly once
    assert(e1.values.toSeq.sorted == (0L until n).toSeq)
    // exact rank of the documented two-round mix, id tiebreak
    def eh(id: Long, epoch: Long): Long = {
      val m1 = (id % 2147483648L) * 2654435761L % 4294967296L
      val m2 = (m1 + epoch * 2246822519L % 4294967296L) % 4294967296L
      (m2 % 2147483648L) * 2654435761L % 4294967296L
    }
    val expected = (0L until n).sortBy(id => (eh(id, 1), id))
      .zipWithIndex.map { case (id, p) => id -> p.toLong }.toMap
    assert(e1 == expected)
    // stable on re-run; a different epoch is a different order
    val e1b = Sharding.epochShuffle(d, "id", epoch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e1b == e1)
    val e2 = Sharding.epochShuffle(d, "id", epoch = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e2 != e1)
    // guards
    intercept[IllegalArgumentException] {
      Sharding.epochShuffle(
        d.withColumn("shuffle_pos", lit(0L)), "id", 1)
    }
    intercept[IllegalArgumentException] {
      Sharding.epochShuffle(d.selectExpr("CAST(id AS STRING) AS id"),
        "id", 1)
    }
    intercept[IllegalArgumentException] { // reserved scratch column
      Sharding.epochShuffle(d.withColumn("__eh", lit(1L)), "id", 1)
    }
    // pairPartners validates collisions BEFORE paying the shuffle
    intercept[IllegalArgumentException] {
      Sharding.pairPartners(d.withColumn("pair_id", lit(0L)), "id", 1)
    }
  }

  test("packShardsDual: byte spans cut at the budget, rows re-counted " +
      "and capped within each span; straddling row starts its span; " +
      "binary rejected") {
    // byteBudget 1000, maxRows 3
    val d = df("id BIGINT, sz BIGINT", Seq(
      Row(1L, 400L), Row(2L, 700L),   // bytes cut: cum 1100 at row 3
      Row(3L, 100L), Row(4L, 100L), Row(5L, 100L),
      Row(6L, 100L),                  // 5 rows land in byte span 1 ->
      Row(7L, 2000L),                 //   row cap splits it 3 + 2
      Row(8L, 100L)))                 // big row 7 jumps cum to span 3
    val out = Sharding.packShardsDual(d, "id", "sz",
      byteBudget = 1000L, maxRows = 3L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // cum_bytes: 0,400,1100,1200,1300,1400,1500,3500
    // byte_shard: 0,0,1,1,1,1,1,3 ; within-span rows: 0,1|0,1,2,3,4|0
    assert(out == Seq(
      (1L, 0L, 0L, 0L, 0L), (2L, 400L, 1L, 0L, 0L),
      (3L, 1100L, 2L, 1L, 0L), (4L, 1200L, 3L, 1L, 0L),
      (5L, 1300L, 4L, 1L, 0L), (6L, 1400L, 5L, 1L, 1L),
      (7L, 1500L, 6L, 1L, 1L), (8L, 3500L, 7L, 3L, 0L)))
    // every final shard honors the row cap exactly, and stays within
    // one byte span
    out.groupBy(t => (t._4, t._5)).foreach { case (_, rows) =>
      assert(rows.size <= 3)
      assert(rows.map(_._4).distinct.size == 1)
    }
    intercept[IllegalArgumentException] {
      Sharding.packShardsDual(
        d.withColumn("bytes", lit(Array[Byte](1))), "id", "sz", 10L, 3L)
    }
  }

  test("shardMemberOffsets + shardManifest: in-shard seek offsets " +
      "from the group min (no window), manifest totals and " +
      "engine-portable fingerprint, guards") {
    // same fixture as the packShardsDual golden above
    val d = df("id BIGINT, sz BIGINT", Seq(
      Row(1L, 400L), Row(2L, 700L), Row(3L, 100L), Row(4L, 100L),
      Row(5L, 100L), Row(6L, 100L), Row(7L, 2000L), Row(8L, 100L)))
    val packed = Sharding.packShardsDual(d, "id", "sz",
      byteBudget = 1000L, maxRows = 3L)
    val keys = Seq("byte_shard", "shard_in_span")
    val off = Sharding.shardMemberOffsets(packed,
      "cum_bytes_before", keys)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("member_offset")).toMap
    // shard (1,0) = ids 3,4,5 with cum 1100,1200,1300 -> offsets
    // 0,100,200; shard (1,1) = ids 6,7 -> 0,100; singletons -> 0
    assert(off == Map(1L -> 0L, 2L -> 400L, 3L -> 0L, 4L -> 100L,
      5L -> 200L, 6L -> 0L, 7L -> 100L, 8L -> 0L))
    val man = Sharding.shardManifest(packed, "id", "sz", keys)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(man((1L, 0L)) == ((3L, 300L, 3L, 5L)))
    assert(man((1L, 1L)) == ((2L, 2100L, 6L, 7L)))
    assert(man((0L, 0L)) == ((2L, 1100L, 1L, 2L)))
    // fingerprint: deterministic and order-independent — the same
    // shard content permuted yields the identical fp
    val fp1 = Sharding.shardManifest(packed, "id", "sz", keys)
      .orderBy("byte_shard", "shard_in_span").collect()
      .map(_.getLong(6)).toSeq
    val fp2 = Sharding.shardManifest(
      packed.orderBy(col("id").desc).repartition(5), "id", "sz", keys)
      .orderBy("byte_shard", "shard_in_span").collect()
      .map(_.getLong(6)).toSeq
    assert(fp1 == fp2 && fp1.distinct.size == fp1.size)
    intercept[IllegalArgumentException] { // binary payloads rejected
      Sharding.shardMemberOffsets(
        packed.withColumn("bytes", lit(Array[Byte](1))),
        "cum_bytes_before", keys)
    }
    intercept[IllegalArgumentException] { // output collision
      Sharding.shardMemberOffsets(
        packed.withColumn("member_offset", lit(0L)),
        "cum_bytes_before", keys)
    }
  }

  test("pairPartners: even-odd pairing is symmetric, odd tail " +
      "unpaired, pair_id = pos div 2, epochs differ") {
    val d = df("id BIGINT", (1L to 7L).map(Row(_)))
    val out = Sharding.pairPartners(d, "id", epoch = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2), r.getLong(3))).toSeq
    assert(out.size == 7)
    val byId = out.map(t => t._1 -> t).toMap
    out.foreach { case (id, pos, partner, pairId) =>
      assert(pairId == pos / 2)
      if (pos == 6) assert(partner == null)   // odd tail (7 rows)
      else {
        val p = byId(partner.asInstanceOf[Long])
        assert(p._3 == id)                     // symmetric
        assert(p._4 == pairId)                 // same pair
        assert((pos ^ p._2) == 1L)             // adjacent even-odd
      }
    }
    // a different epoch produces a different pairing for 7 ids
    val out3 = Sharding.pairPartners(d, "id", epoch = 3)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else r.getLong(2))).toMap
    val out2 = out.map(t => t._1 -> t._3).toMap
    assert(out2 != out3)
  }
}

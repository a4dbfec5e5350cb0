package graft

import graft.ann.Knn
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class DedupKnnSpec extends SparkSpec {

  private def docs() = df("doc_id BIGINT, text STRING", Seq(
    Row(1L, "the quick brown fox jumps over the lazy dog today"),
    Row(2L, "the quick brown fox jumps over the lazy dog today"), // exact dup
    Row(3L, "quick brown fox jumps over the lazy dog today"), // near dup
    Row(4L, "completely different content about spark engines"),
    Row(5L, "short")))

  test("editDistancePairs: substitution, insertion, deletion and " +
      "equal pairs all recovered; distance-2 pairs never appear") {
    val d = df("id BIGINT, s STRING", Seq(
      Row(1L, "abc"), Row(2L, "abd"),   // substitution
      Row(3L, "abcd"),                   // insertion vs abc/abd
      Row(4L, "xyz"),                    // far from everything
      Row(5L, "abc"),                    // exact duplicate of 1
      Row(6L, ""), Row(7L, "a"),         // empty vs one-char
      Row(null, "abc"), Row(8L, null)))  // null id/string excluded
    val got = Dedup.editDistancePairs(d, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(got == Set(
      (1L, 2L, 1), (1L, 3L, 1), (1L, 5L, 0),
      (2L, 3L, 1), (2L, 5L, 1), (3L, 5L, 1), (6L, 7L, 1)))
  }

  test("exact dedup keeps smallest id per content group") {
    val out = Dedup.exact(docs(), Seq("text"), "doc_id")
    assert(column(out.orderBy("doc_id"), "doc_id") ==
      Seq(1L, 3L, 4L, 5L))
  }

  test("exact dedup: hot content key collapses map-side, no window") {
    // one text duplicated 10k times (the boilerplate/empty-page case):
    // the plan must be a partial-aggregated groupBy + semi join — a
    // PARTITION BY content window would buffer the whole hot group in
    // one task
    val hot = spark.range(0, 10000)
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 100 = 7 THEN concat('unique ', id) " +
          "ELSE 'same boilerplate text' END AS text")
    val out = Dedup.exact(hot, Seq("text"), "doc_id")
    assert(out.count() === 101) // 100 uniques + 1 boilerplate survivor
    assert(out.filter(col("text") === "same boilerplate text")
      .head().getLong(0) === 0L) // smallest id survives
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window crept back in:\n$plan")
    // partial agg before the exchange = map-side combine of hot keys
    // (min_by over a struct buffers via SortAggregate — the sort is a
    // local per-partition sort, NOT a per-group single-task buffer)
    assert(plan.contains("partial_min_by"), plan.take(900))
  }

  /** Independent REFERENCE shingle implementation (interpreted HOF,
    * O(tokens^3) — test-only; the engine's relational
    * shingleRowsOf/shingleSetsOf are the production path and are
    * cross-checked against this).
    */
  private def refShingles(text: org.apache.spark.sql.Column, n: Int) = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  test("shingles: n-grams, distinct, short text -> empty") {
    val first = docs().filter(col("doc_id") === 1)
      .select(refShingles(col("text"), 3).as("s"))
      .head().getSeq[String](0)
    assert(first.contains("the quick brown"))
    assert(first.contains("over the lazy"))
    val short = docs().filter(col("doc_id") === 5)
      .select(refShingles(col("text"), 3).as("s")).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("relational shingle rows/sets match the array shingles") {
    val rel = Dedup.shingleRowsOf(docs(), "doc_id", "text", 3)
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val arr = docs().select(col("doc_id"),
        explode(refShingles(col("text"), 3)).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rel == arr)
    val sets = Dedup.shingleSetsOf(docs(), "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sets(1L) == arr.filter(_._1 == 1L).map(_._2))
    assert(!sets.contains(5L)) // "short" has no 3-gram
  }

  test("kernel minhash signatures match the relational " +
      "min(xxhash64(xxhash64(shingle), seed)) formulation bit-for-bit") {
    // the round-6 per-partition kernel must reproduce the previous
    // relational aggregation exactly — the banding (and so the
    // candidate pair set) is derived from these longs
    val rel = Dedup.shingleRowsOf(docs(), "doc_id", "text", 3)
      .select(col("__id"), xxhash64(col("__s")).as("__u"))
      .groupBy(col("__id"))
      .agg((0 until 32).map(s =>
        min(xxhash64(col("__u"), lit(s))).as(s"mh$s")).head,
        (0 until 32).map(s =>
          min(xxhash64(col("__u"), lit(s))).as(s"mh$s")).tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 32).map(r.getLong).toVector).toMap
    val ker = Dedup.minhashSignatures(docs(), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (1 to 32).map(r.getLong).toVector).toMap
    assert(ker == rel)
  }

  test("minhash LSH finds exact and near duplicates") {
    val pairs = Dedup.minhashNearDups(docs(), "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("identical text -> identical simhash; different text differs") {
    val byId = Dedup.simhashes(docs(), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L))
    assert(byId(1L) != byId(4L))
  }

  test("quantized cosine is exact for known vectors") {
    val d = df("id BIGINT, v ARRAY<FLOAT>", Seq(
      Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(0.0f, 1.0f)),
      Row(3L, Seq(1.0f, 1.0f))))
    val q = d.select(col("id"), Dedup.quantize(col("v")).as("q"))
    val pairs = q.as("a").crossJoin(q.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        Dedup.cosineQ(col("a.q"), col("b.q")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(pairs((1L, 1L)) == 1.0)
    assert(pairs((1L, 2L)) == 0.0)
    assert(math.abs(pairs((1L, 3L)) - 1.0 / math.sqrt(2)) < 1e-9)
  }

  test("ngram containment: embedded doc scores ~1, asymmetric, df-pruned") {
    val d = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      Row(2L, "beta gamma delta epsilon zeta eta theta"), // suffix of 1
      Row(3L, "totally unrelated words appear here now")))
    val out = Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      threshold = 0.0, maxDf = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc2's 5 shingles all appear among doc1's 6 -> fully contained
    assert(out((2L, 1L)) == 1.0)
    assert(math.abs(out((1L, 2L)) - 5.0 / 6.0) < 1e-12) // NOT symmetric
    assert(!out.contains((3L, 1L)) && !out.contains((1L, 3L))) // no shared
  }

  test("ngram containment: over-df shingles generate no candidates") {
    // 4 docs share ONLY one boilerplate shingle; with maxDf=3 the
    // shingle is pruned, so no candidate pair exists (the explicit
    // skew/boilerplate tradeoff in the containmentPairs contract)
    val d = df("doc_id BIGINT, text STRING", (0 until 4).map(i =>
      Row(i.toLong, s"common boiler plate u$i v$i w$i")))
    val out = Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      threshold = 0.0, maxDf = 3)
    assert(out.count() === 0)
    // raising the cap to 4 admits the shingle -> all 6 pairs, both ways
    val loose = Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      threshold = 0.0, maxDf = 4)
    assert(loose.count() === 12)
    assert(loose.filter(col("containment") =!= 0.25).count() === 0)
  }

  test("embedding IVF near-dup: fold cells == window-argmax reference") {
    // the engine assigns cells via a strict-> fold over seed literals;
    // the reference (and the DuckDB oracle) uses crossJoin + window
    // row_number(cos DESC, sid ASC) — same tie rule, different shape
    import org.apache.spark.sql.expressions.Window
    val e = vecs(60)
    val cells = Dedup.ivfCells(e, "id", "embedding", nSeeds = 4)
      .select(col("__id"), col("__blk")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = e.select(col("id"), Dedup.quantize(col("embedding")).as("v"))
    val seeds = q.orderBy("id").limit(4)
      .select(col("id").as("sid"), col("v").as("sv"))
    val w = Window.partitionBy("id")
      .orderBy(col("c").desc, col("sid"))
    val ref = q.crossJoin(seeds)
      .withColumn("c", Dedup.cosineQ(col("v"), col("sv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("id"), col("sid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.size === 60)
    assert(cells === ref)
  }

  test("embedding IVF near-dup: exact subset of all-pairs, complete within cells, shuffle-free assignment") {
    val e = vecs(60)
    val out = Dedup.embeddingNearDupsIvf(e, "id", "embedding",
      nSeeds = 4, threshold = 0.8)
    def pairSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairSet(out)
    // all-pairs truth (single block) with IDENTICAL cosine math
    val all = pairSet(Dedup.embeddingNearDups(
      e.withColumn("blk", lit(1)), "id", "embedding", "blk", 0.8))
    assert(got.nonEmpty)
    assert(got.subsetOf(all)) // same cosines bit-exactly on shared pairs
    // completeness within cells: every all-pairs hit whose two ids
    // share a cell must be present
    val cells = Dedup.ivfCells(e, "id", "embedding", 4)
      .select(col("__id"), col("__blk")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = all.filter(p => cells(p._1) == cells(p._2))
    assert(got === expected)
    // plan discipline: no cartesian/BNLJ anywhere (the seed fetch is a
    // bounded collect, assignment a projection, the pair join an
    // equi-join on the cell id)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(900))
  }

  test("embedding IVF near-dup: every whole-stage codegen subtree " +
      "compiles, within the 64 KB method limit") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object plans extends AdaptiveSparkPlanHelper
    // the q142 shape: 8 seed cells over 64-dim embeddings
    val e = spark.range(0, 500).select(col("id"),
      transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id") % 7, i), lit(2000)).cast("double")
          / 1000.0 - 1.0).cast("float")).as("embedding"))
    val out = Dedup.embeddingNearDupsIvf(e, "id", "embedding",
      nSeeds = 8, threshold = 0.25)
    out.collect()
    val stages = plans.collect(out.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty)
    stages.foreach { w =>
      val (_, code) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize <= 65535,
        s"${stats.maxMethodCodeSize} B method in ${w.child.nodeName}")
    }
  }

  /** Clustered vectors: 5 cluster directions + small per-id noise —
    * the regime LSH is built for (random uniform vectors have
    * near-orthogonal neighbors and defeat any hyperplane scheme).
    */
  private def vecs(n: Int) = {
    spark.range(0, n).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        i => ((pmod(xxhash64(col("id") % 5, i), lit(2000)).cast("double")
          / 1000.0 - 1.0) +
          (pmod(xxhash64(col("id"), i), lit(200)).cast("double")
            / 1000.0 - 0.1)).cast("float")).as("embedding"))
  }

  test("brute-force top-k: self is rank 1 with cosine 1") {
    val e = vecs(100)
    val out = Knn.bruteForceTopK(e, e.filter(col("id") < 3), "id",
      "embedding", "id", 5)
    val r1 = out.filter(col("rank") === 1).orderBy("query_id")
      .collect()
    r1.foreach { r =>
      assert(r.getAs[Long]("query_id") == r.getAs[Long]("item_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    }
  }

  test("IVF top-k: measured recall vs brute force; sane ranks") {
    val e = vecs(300)
    val q = e.filter(col("id") < 5)
    def keyset(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "item_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = keyset(Knn.bruteForceTopK(e, q, "id", "embedding", "id", 10))
    val ivf = keyset(Knn.ivfTopK(e, q, "id", "embedding", "id", 10,
      nlist = 8, nprobe = 4))
    val recall = (bf & ivf).size.toDouble / bf.size
    info(f"IVF recall@10 = $recall%.2f (nlist=8, nprobe=4, 300 vectors)")
    assert(recall >= 0.7, s"IVF recall $recall too low")
    // IVF returns only true corpus neighbours (exact rerank inside lists)
    assert(ivf.subsetOf(keyset(
      Knn.bruteForceTopK(e, q, "id", "embedding", "id", 300))))
  }

  test("LSH top-k hits >= 80% recall vs brute force at k=10") {
    val e = vecs(300)
    val q = e.filter(col("id") < 5)
    def keyset(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "item_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = keyset(Knn.bruteForceTopK(e, q, "id", "embedding", "id", 10))
    val lsh = keyset(Knn.lshTopK(e, q, "id", "embedding", "id", 10))
    val recall = (bf & lsh).size.toDouble / bf.size
    info(f"LSH recall@10 = $recall%.2f (8 bits x 4 tables, 300 vectors)")
    assert(recall >= 0.8, s"LSH recall $recall too low (measured 0.96)")
    // and LSH never invents higher-cosine results than brute force allows:
    // every LSH pair at rank r has cosine <= brute-force rank-r cosine
    assert(lsh.subsetOf(keyset(
      Knn.bruteForceTopK(e, q, "id", "embedding", "id", 300))))
  }

  test("IVF save/load round-trip: persisted index answers identically") {
    val e = vecs(300)
    val q = e.filter(col("id") < 5)
    val model = Knn.ivfBuild(e, "id", "embedding", nlist = 8)
    val lists = Knn.ivfLists(model, e, "id", "embedding")
    val direct = Knn.ivfQuery(model, lists, q, "id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString
    Knn.ivfSave(model, lists, root)
    assert(graft.io.SnapshotStore.verify(spark, s"$root/lists").isEmpty,
      "persisted inverted lists failed lineage verify")
    val (m2, lists2) = Knn.ivfLoad(spark, root)
    assert(m2.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
    val loaded = Knn.ivfQuery(m2, lists2, q, "id", "embedding", k = 10)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(loaded == direct,
      "loaded index must answer exactly like the in-memory one")
  }

  test("IVF-PQ save/load round-trip: persisted index answers " +
      "identically") {
    val e = vecs(300)
    val q = e.filter(col("id") < 5)
    val ivf = Knn.ivfBuild(e, "id", "embedding", nlist = 8)
    val pq = Knn.pqBuild(e, "id", "embedding", m = 4, ksub = 8)
    val idx = Knn.ivfPqIndex(ivf, pq, e, "id", "embedding")
    def run(i: Knn.IvfModel, p: Knn.PqModel,
        x: org.apache.spark.sql.DataFrame) =
      Knn.ivfPqTopK(i, p, e, q, "id", "embedding", "id", 10,
        nprobe = 4, shortlist = 64, index = Some(x))
        .select("query_id", "rank", "item_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq.sorted
    val direct = run(ivf, pq, idx)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq").toString
    Knn.ivfPqSave(ivf, pq, idx, root)
    assert(graft.io.SnapshotStore
      .verify(spark, s"$root/ivfpq_index").isEmpty,
      "persisted IVF-PQ index failed lineage verify")
    val (ivf2, pq2, idx2) = Knn.ivfPqLoad(spark, root)
    assert(ivf2.centroids.map(_.toSeq).toSeq ==
      ivf.centroids.map(_.toSeq).toSeq)
    assert(pq2.m == pq.m && pq2.dsub == pq.dsub &&
      pq2.centroids.map(_.map(_.toSeq).toSeq).toSeq ==
        pq.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    assert(run(ivf2, pq2, idx2) == direct,
      "loaded IVF-PQ index must answer exactly like the in-memory one")
  }

  private def mhCorpus = df("doc_id BIGINT, text STRING",
    (1L to 40L).map(i =>
      Row(i, s"document number $i about topic ${i % 7} with shared " +
        s"words and unique token token$i suffix tail words here")))

  // near-dups of corpus docs (drop first word), an internal dup pair,
  // and fresh docs
  private def mhBatch = df("doc_id BIGINT, text STRING",
    (1L to 5L).map(i => Row(100L + i,
      s"number $i about topic ${i % 7} with shared " +
        s"words and unique token token$i suffix tail words here")) ++
      Seq(Row(200L, "completely fresh content alpha beta gamma " +
        "delta epsilon zeta eta theta"),
        Row(201L, "completely fresh content alpha beta gamma " +
          "delta epsilon zeta eta theta iota"),
        Row(202L, "nothing like anything else entirely novel " +
          "words qq ww ee rr tt yy uu")))

  /** Inputs the index probe must answer exactly, as (name, corpus,
    * batch): the mixed batch, an empty batch, a batch with no band rows
    * (null or shorter-than-a-shingle captions), and a redo of a batch
    * the corpus and the index already hold.
    */
  private def mhCases: Seq[(String, DataFrame, DataFrame)] = Seq(
    ("mixed", mhCorpus, mhBatch),
    ("empty", mhCorpus, df("doc_id BIGINT, text STRING", Seq.empty)),
    ("no band rows", mhCorpus, df("doc_id BIGINT, text STRING", Seq(
      Row(300L, null), Row(301L, "too short"), Row(302L, "")))),
    ("redo", mhCorpus.unionByName(mhBatch), mhBatch))

  /** The indexed pairs touching `batch` against a fresh index of
    * `corpus`, and the one-shot near-dups over the distinct documents
    * of corpus+batch restricted to pairs touching the batch (the ground
    * truth), both as sorted (id_a, id_b, jaccard) rows. The two frames
    * must also have the same schema.
    */
  private def mhIncAndOneShot(root: String, corpus: DataFrame = mhCorpus,
      batch: DataFrame = mhBatch)
      : (Seq[(Long, Long, Double)], Seq[(Long, Long, Double)]) = {
    import graft.dedup.MinhashIndex
    MinhashIndex.build(corpus, "doc_id", "text", root)
    val incDf = MinhashIndex.batchNearDups(batch, corpus, "doc_id",
      "text", root, threshold = 0.5)
    val oneShotDf = Dedup.minhashNearDups(
      corpus.unionByName(batch).dropDuplicates("doc_id"), "doc_id", "text",
      threshold = 0.5)
    assert(incDf.schema == oneShotDf.schema,
      s"${incDf.schema} != ${oneShotDf.schema}")
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    (rows(incDf), rows(oneShotDf).filter { case (a, b, _) =>
      batchIds(a) || batchIds(b) })
  }

  /** [[mhIncAndOneShot]] over every case of [[mhCases]]: the mixed
    * batch's result, after asserting each case's equality.
    */
  private def mhAllCasesExact(label: String): Seq[(Long, Long, Double)] =
    mhCases.map { case (name, corpus, batch) =>
      val (inc, oneShot) = mhIncAndOneShot(java.nio.file.Files
        .createTempDirectory(s"mhidx_$label").toString, corpus, batch)
      assert(inc == oneShot, s"$name: inc=$inc oneShot=$oneShot")
      if (name == "redo") assert(inc.nonEmpty, "redo must find pairs")
      inc
    }.head

  test("MinhashIndex: incremental batch dedup == one-shot over union") {
    import graft.dedup.MinhashIndex
    val corpus = mhCorpus
    val batch = mhBatch
    val root = java.nio.file.Files
      .createTempDirectory("mhidx").toString
    val inc = mhAllCasesExact("default").map(t => (t._1, t._2))
    assert(inc.exists { case (a, b) => a <= 40L && b > 100L },
      "must find batch-vs-corpus dups via the stored index")
    assert(inc.contains((200L, 201L)),
      "must find batch-internal dups")

    // absorb survivors; next batch sees them through the index
    MinhashIndex.build(corpus, "doc_id", "text", root)
    MinhashIndex.appendBatch(batch.filter(col("doc_id") === 202L),
      "doc_id", "text", root)
    val batch3 = df("doc_id BIGINT, text STRING", Seq(
      Row(300L, "nothing like anything else entirely novel " +
        "words qq ww ee rr tt yy zz")))
    val inc3 = MinhashIndex.batchNearDups(batch3,
      corpus.unionByName(batch), "doc_id", "text", root, 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(inc3.map(_._2).contains(202L) || inc3.map(_._1).contains(202L),
      s"appended doc must be findable: $inc3")
  }

  test("MinhashIndex: incremental == one-shot when nothing may " +
      "broadcast (the shuffle-join fallback of a large batch)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val inc = try {
      spark.conf.set(key, "-1")
      mhAllCasesExact("nobc")
    } finally spark.conf.set(key, prev)
    assert(inc.nonEmpty)
  }

  test("MinhashIndex: with a checkpoint dir set, the probe answers " +
      "exactly and nothing is left there once it returns, on both paths") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    for (limit <- Seq(prev, "-1")) {
      val ck = java.nio.file.Files.createTempDirectory("mhidx_ck")
      spark.sparkContext.setCheckpointDir(ck.toString)
      try { spark.conf.set(key, limit); mhAllCasesExact("durable") }
      finally {
        spark.sparkContext.setCheckpointDir(null)
        spark.conf.set(key, prev)
      }
      // neither the candidate copy nor the returned pairs stay behind
      val s = java.nio.file.Files.walk(ck)
      val files = try s.iterator().asScala.toList
        .filterNot(java.nio.file.Files.isDirectory(_)) finally s.close()
      assert(files.isEmpty, s"files left in the checkpoint dir: $files")
    }
  }

  test("MinhashIndex: a small batch's probe runs at most 3 jobs, named, " +
      "with no shuffle write from a stage reading stored bands or corpus " +
      "text, and restores the caller's job description") {
    import graft.dedup.MinhashIndex
    import org.apache.spark.scheduler._
    val dir = java.nio.file.Files.createTempDirectory("mhidx_jobs").toString
    mhCorpus.write.parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    MinhashIndex.build(corpus, "doc_id", "text", s"$dir/index")
    val sc = spark.sparkContext
    // counts the batch rows the probe's plans evaluate
    val seen = sc.longAccumulator("batch rows read")
    val tap = udf((id: Long) => { seen.add(1L); id }).asNondeterministic()
    val batch = mhBatch.withColumn("doc_id", tap(col("doc_id")))
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val shuffleFromScans =
      new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(DrainKey) == null)
          .foreach(p => descs.add(
            String.valueOf(p.getProperty("spark.job.description"))))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.inputMetrics.bytesRead > 0 &&
            m.shuffleWriteMetrics.bytesWritten > 0)
          shuffleFromScans.add(e.stageInfo.name)
      }
    }
    sc.setJobDescription("caller")
    val (pairs, stats) = try {
      sc.addSparkListener(l)
      try {
        val r = MinhashIndex.probe(batch, corpus, "doc_id", "text",
          s"$dir/index", 0.5)
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        drainListenerBus()
        r
      } finally sc.removeSparkListener(l)
    } finally sc.setJobDescription(null)
    assert(stats.path == "local" && stats.bandRows == 8L * 8,
      stats.toString)
    assert(stats.verified == pairs.count() && stats.candidates >= stats.verified,
      stats.toString)
    val jobs = descs.asScala.toList
    assert(jobs.size <= 3, s"jobs: $jobs")
    assert(jobs.toSet == Set("minhash.probe: batch bands",
      "minhash.probe: stored bands", "minhash.probe: verify"), s"$jobs")
    assert(shuffleFromScans.isEmpty,
      s"stages reading files wrote shuffle: $shuffleFromScans")
    assert(seen.value == mhBatch.count(),
      s"${seen.value} batch rows evaluated for ${mhBatch.count()} rows")
  }

  test("MinhashIndex: a batch over the limit takes the shuffle path " +
      "and still answers exactly") {
    import graft.dedup.MinhashIndex
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val root = java.nio.file.Files.createTempDirectory("mhidx_small").toString
    MinhashIndex.build(mhCorpus, "doc_id", "text", root)
    val (pairs, stats) = try {
      // the batch's 64 band rows take 2048 bytes
      spark.conf.set(key, "1000")
      MinhashIndex.probe(mhBatch, mhCorpus, "doc_id", "text", root, 0.5)
    } finally spark.conf.set(key, prev)
    assert(stats.path == "shuffle" && stats.reason == "batch_bands" &&
      stats.bandRows == 64L, stats.toString)
    val (inc, _) = mhIncAndOneShot(java.nio.file.Files
      .createTempDirectory("mhidx_small_ref").toString)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSeq.sorted == inc)
  }

  test("MinhashIndex: appendBatch writes only the batch's band rows " +
      "and a replayed append converges") {
    import graft.dedup.MinhashIndex
    val root = java.nio.file.Files.createTempDirectory("mhidx_app").toString
    MinhashIndex.build(mhCorpus, "doc_id", "text", root)
    val p = MinhashIndex.params(root)
    val before = MinhashIndex.bands(spark, root).count()
    val built = graft.io.SnapshotStore.manifest(s"$root/bands", 1)
      .map(e => e.bucket -> e.paths).toMap
    val r = MinhashIndex.appendBatch(mhBatch, "doc_id", "text", root)
    assert(MinhashIndex.bands(spark, root).count() ===
      before + 8L * p.bands)
    // stored files are never rewritten: a touched bucket keeps its
    // files and gains one directory, the others carry by reference
    graft.io.SnapshotStore.manifest(s"$root/bands", r.snapshot)
      .foreach { e =>
        val kept = built.getOrElse(e.bucket, Seq.empty)
        if (r.written.contains(e.bucket)) {
          assert(e.paths.init === kept)
          assert(e.paths.last.contains(s"run=${r.snapshot}/"))
        } else assert(e.paths === kept)
      }
    val replay = MinhashIndex.appendBatch(mhBatch, "doc_id", "text", root)
    assert(replay.snapshot === r.snapshot && replay.written.isEmpty)
    // a batch half replayed, half new adds only the new half
    val more = df("doc_id BIGINT, text STRING", Seq(
      Row(300L, "another fresh document with its own words here")))
    MinhashIndex.appendBatch(mhBatch.unionByName(more), "doc_id", "text",
      root)
    assert(MinhashIndex.bands(spark, root).count() ===
      before + 9L * p.bands)
    assert(graft.io.SnapshotStore.verify(spark, s"$root/bands").isEmpty)
  }

  test("PQ: codes match a driver-side reference argmin; ADC recall") {
    val e = vecs(300)
    val model = Knn.pqBuild(e, "id", "embedding", m = 4, ksub = 8,
      iters = 2)
    assert(model.centroids.length == 4 &&
      model.centroids.forall(_.length == 8))

    // codes parity: recompute the per-subspace argmin on the driver
    // over the same quantized arithmetic
    val raw = e.select(col("id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000)))
      .toMap
    val got = Knn.pqCodes(model, e, "id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    raw.foreach { case (id, qv) =>
      val exp = (0 until 4).map { i =>
        val sub = qv.slice(i * model.dsub, (i + 1) * model.dsub)
        val dists = model.centroids(i).map { c =>
          val cq = c.map(x => math.round(x * 1000))
          cq.map(v => v * v).sum - 2L *
            cq.zip(sub).map { case (a, b) => a * b }.sum
        }
        dists.indexOf(dists.min)
      }
      assert(got(id) == exp, s"codes mismatch for id $id")
    }

    // ADC alone cannot rank within a quantization cell (same codes =>
    // same score), but it MUST retrieve the right neighborhood: every
    // ADC top-10 item belongs to the query's cluster (id % 5)
    val q = e.filter(col("id") < 5)
    val codes = Knn.pqCodes(model, e, "id", "embedding")
    val adc = Knn.pqTopK(model, codes, q, "id", "embedding", 10)
      .select("query_id", "item_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.nonEmpty)
    val clusterHits = adc.count { case (qi, ii) => qi % 5 == ii % 5 }
    info(f"PQ ADC cluster purity = ${clusterHits.toDouble / adc.length}%.2f")
    assert(clusterHits.toDouble / adc.length >= 0.9,
      "ADC shortlist left the query's cluster")

    // the production path: ADC shortlist + exact re-rank ~ brute force
    def keyset(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "item_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = keyset(Knn.bruteForceTopK(e, q, "id", "embedding", "id", 10))
    val rr = keyset(Knn.pqTopKRerank(model, codes, e, q, "id",
      "embedding", "id", k = 10, shortlist = 64))
    val recall = (bf & rr).size.toDouble / bf.size
    info(f"PQ+rerank recall@10 = $recall%.2f (m=4, ksub=8, shortlist=64)")
    assert(recall >= 0.9, s"PQ rerank recall $recall too low")
  }

  test("IVF-PQ: composed index recall; degenerate settings == brute " +
      "force exactly") {
    val e = vecs(300)
    val q = e.filter(col("id") < 5)
    def keyset(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "item_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Knn.ivfBuild(e, "id", "embedding", nlist = 8, iters = 2)
    val pq = Knn.pqBuild(e, "id", "embedding", m = 4, ksub = 8,
      iters = 2)
    // the index rows carry NO raw vectors — by schema the ADC scan
    // cannot touch embeddings, only (item_id, __list, codes)
    val idx = Knn.ivfPqIndex(ivf, pq, e, "id", "embedding")
    assert(idx.columns.toSeq == Seq("item_id", "__list", "codes"))
    val bf = keyset(Knn.bruteForceTopK(e, q, "id", "embedding", "id",
      10))
    val got = keyset(Knn.ivfPqTopK(ivf, pq, e, q, "id", "embedding",
      "id", 10, nprobe = 4, shortlist = 64, index = Some(idx)))
    val recall = (bf & got).size.toDouble / bf.size
    info(f"IVF-PQ recall@10 = $recall%.2f " +
      "(nlist=8 nprobe=4 m=4 shortlist=64)")
    assert(recall >= 0.7, s"IVF-PQ recall $recall too low")
    // only true corpus items with exact cosines can be returned
    assert(got.subsetOf(keyset(
      Knn.bruteForceTopK(e, q, "id", "embedding", "id", 300))))
    // probe every list + shortlist the whole corpus => the approximate
    // machinery passes everything through and the exact rerank must
    // reproduce brute force BIT-FOR-BIT (ranks and cosines)
    val all = Knn.ivfPqTopK(ivf, pq, e, q, "id", "embedding", "id",
      10, nprobe = 8, shortlist = 300)
      .select("query_id", "rank", "item_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val bfFull = Knn.bruteForceTopK(e, q, "id", "embedding", "id", 10)
      .select("query_id", "rank", "item_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(all == bfFull,
      "degenerate IVF-PQ diverged from brute force")
  }
}

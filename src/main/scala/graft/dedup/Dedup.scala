package graft.dedup

import graft.core.DriverFinish
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication for web-scale corpora: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: everything is one-shuffle shapes —
  *   - exact: hash-partition on the content key, keep rank-1;
  *   - MinHash: signatures are per-row projections (no shuffle), the
  *     LSH band join shuffles only (band, bandHash) pairs — tiny vs the
  *     corpus — and candidate verification joins back by id. A batch
  *     whose band rows fit the driver bound skips both shuffles: ONE
  *     bounded collect each for the band rows and the candidates' texts
  *     ([[graft.core.DriverFinish]]), then the driver pairs and
  *     verifies (see [[lshCandidates]], [[verifyJaccard]]); past the
  *     bound, the joins run as they always did;
  *   - SimHash: per-row 64-bit signature, near-dup candidates via
  *     banded equality on signature quarters (Hamming<=3 within bands).
  */
object Dedup {

  /** Ensure a kernel input has enough partitions to use the cluster:
    * the per-partition kernels are MAP-ONLY, so they inherit the
    * scan's split count — a generated or single-file input can arrive
    * in one partition and serialize a hashing-heavy pass on one core
    * (the old window shapes were immune only because their exchange
    * incidentally spread the rows). Round-robin repartition to
    * defaultParallelism ONLY when the input is clearly narrower —
    * scale-adaptive (derived from the session's parallelism, never a
    * constant) and a no-op on real multi-split tables. The partition
    * count is read only from a plain input, one whose physical plan has
    * no exchange and no cached relation: counting those partitions
    * builds the scan's splits and executes nothing. Any other input (a
    * join, an aggregate, a cached frame) is returned as it is, since
    * reading its partition count would run its stages (AQE) or build
    * its cache. The cheap kernels (minhash/shingle-set/winnow/signals)
    * skip the spread; the md5-heavy span gram kernel is the one
    * measured to need it (sf1 span 4.8 s single-core -> 2.5 s spread).
    */
  private[graft] def spreadForKernel(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plain = !df.queryExecution.executedPlan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange |
          _: InMemoryTableScanExec => true
      case _ => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plain && df.rdd.getNumPartitions * 2 <= target)
      df.repartition(target)
    else df
  }

  /** Exact dedup by content columns, keeping the smallest `idCol` per
    * duplicate group.
    *
    * NOT `row_number() OVER (PARTITION BY content)`: web corpora have
    * massively hot content keys (empty pages, boilerplate, license
    * headers — one text duplicated 10^7 times), and a window buffers
    * and sorts each content group inside ONE task. This is ONE
    * map-side-combined aggregation instead: `min_by(struct(*), id)`
    * keeps the smallest-id candidate row per content per map
    * partition, so the exchange carries at most |distinct contents| x
    * |partitions| rows however hot a key is, and no join, sort, or
    * second pass exists at all. Content equality is exact (the agg
    * groups on the real columns, not a hash). Ids must be unique and
    * non-null — the keep-the-smallest-id contract is meaningless
    * otherwise.
    */
  def exact(df: DataFrame, contentCols: Seq[String], idCol: String)
      : DataFrame = {
    val allCols = df.columns.toSeq
    df.groupBy(contentCols.map(col): _*)
      .agg(min_by(struct(allCols.map(col): _*), col(idCol)).as("__row"))
      .select(allCols.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** `(__id, __s)` shingle ROWS, fully relational: posexplode tokens
    * (split evaluated ONCE per document, generate is codegen'd), then a
    * window `lead` per offset within the document builds each n-gram.
    * Work is O(total_tokens * n) characters — no interpreted lambdas,
    * no quadratic re-splitting. One exchange on `__id` (the window),
    * which downstream per-id aggregations then reuse.
    * Duplicate shingles are kept (min-hash is dup-insensitive; set
    * consumers dedup via collect_set in [[shingleSetsOf]]).
    */
  private[graft] def shingleRowsOf(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__t")))
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val parts = (0 until n).map(k =>
      if (k == 0) col("__t") else lead(col("__t"), k).over(w))
    toks
      .select(col("__id"), parts.last.isNotNull.as("__full"),
        concat_ws(" ", parts: _*).as("__s"))
      .filter(col("__full"))
      .select(col("__id"), col("__s"))
  }

  /** A document's distinct word `n`-gram shingles, in first-seen
    * order; empty when the text is null or has fewer than `n` tokens.
    * The one definition behind [[shingleSetsOf]] and the index probe's
    * driver-side verification ([[MinhashIndex.batchNearDups]]).
    */
  private[graft] def shingleSet(text: String, n: Int): Array[String] =
    if (text == null) Array.empty
    else {
      val toks = text.split(" ", -1)
      if (toks.length < n) Array.empty
      else {
        val seen = new java.util.LinkedHashSet[String]
        val sb = new java.lang.StringBuilder
        var p = 0
        while (p <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(p + j)); j += 1
          }
          seen.add(sb.toString); p += 1
        }
        val arr = new Array[String](seen.size)
        seen.toArray(arr)
        arr
      }
    }

  /** `(__id, __sh)` distinct shingle SETS per document (for exact
    * Jaccard verification) — computed by the per-partition JVM kernel
    * (round 6): each document's shingles are built and deduped inside
    * one tight loop in its scan task, so the op is a MAP-ONLY pass
    * with no posexplode, no window exchange/sort, and no collect_set
    * shuffle at all (the previous shape shuffled every token row).
    * Same output: one row per document with >= 1 shingle; set order
    * is unspecified (all consumers are order-insensitive
    * array_intersect/size).
    */
  private[graft] def shingleSetsOf(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val idf = in.schema.head
    val schema = StructType(Seq(
      StructField("__id", idf.dataType, idf.nullable),
      StructField("__sh", ArrayType(StringType, containsNull = false))))
    in.mapPartitions { it =>
      it.flatMap { r =>
        val sh = shingleSet(if (r.isNullAt(1)) null else r.getString(1), n)
        if (sh.isEmpty) Iterator.empty
        else Iterator.single(Row(r.get(0), sh.toSeq))
      }
    }(Encoders.row(schema))
  }

  /** Per-document MinHash signature table `(id, mh0..mh{numHashes-1})`,
    * computed by a PER-PARTITION JVM KERNEL (round 6): each document's
    * shingles, hashes and running minima are produced in one tight
    * loop inside its scan task — a map-only stage with a |docs|-row
    * output and NO shuffle at all.
    *
    * Bit-compatibility: each shingle STRING is hashed exactly once
    * with the evaluator behind the SQL `xxhash64` (`XxHash64Function`,
    * seed 42); the `numHashes` slots re-hash that 64-bit value with
    * the slot seed exactly as `xxhash64(u, lit(seed))` folds
    * (`hashInt(seed, hashLong(u, 42))`), so the signatures equal the
    * previous relational `min(xxhash64(xxhash64(shingle), seed))`
    * aggregation digit-for-digit (spec-asserted).
    *
    * Why a kernel and not expressions: the relational shape paid a
    * full posexplode + per-doc window exchange/sort just to assemble
    * shingles (~0.5 s of the 1.0 s q41 at sf0.1 — measured round 6),
    * and the higher-order-function projection alternative is
    * interpreted per element (no codegen, no subexpression
    * elimination — measured 20-40% SLOWER than the window). The
    * kernel does the same O(tokens * n) work with zero exchanges;
    * per-task memory is bounded by one document's tokens.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
    import org.apache.spark.unsafe.types.UTF8String
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val idf = in.schema.head
    val schema = StructType(
      StructField("__id", idf.dataType, idf.nullable) +:
        (0 until numHashes).map(s =>
          StructField(s"mh$s", LongType, nullable = false)))
    val (n, k) = (shingleSize, numHashes)
    in.mapPartitions { it =>
      it.flatMap { r =>
        val text = if (r.isNullAt(1)) null else r.getString(1)
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1)
          if (toks.length < n) Iterator.empty
          else {
            // per-document kernel (round 6): shingle strings, one
            // xxhash64 per shingle, k seed-rehashes folding into
            // running minima — bit-identical to the relational
            // min(xxhash64(xxhash64(shingle), seed)) aggregation
            // (XxHash64Function/XXH64 are the exact evaluators behind
            // the SQL xxhash64), but with no posexplode, no window
            // exchange/sort, and a |docs|-row output instead of a
            // token-row shuffle.
            val mins = Array.fill(k)(Long.MaxValue)
            val sb = new java.lang.StringBuilder
            var p = 0
            while (p <= toks.length - n) {
              sb.setLength(0)
              var j = 0
              while (j < n) {
                if (j > 0) sb.append(' ')
                sb.append(toks(p + j)); j += 1
              }
              val u = XxHash64Function.hash(
                UTF8String.fromString(sb.toString), StringType, 42L)
              val hu = XXH64.hashLong(u, 42L)
              var s = 0
              while (s < k) {
                val h = XXH64.hashInt(s, hu)
                if (h < mins(s)) mins(s) = h
                s += 1
              }
              p += 1
            }
            val vals = new Array[Any](1 + k)
            vals(0) = r.get(0)
            var s = 0
            while (s < k) { vals(1 + s) = mins(s); s += 1 }
            Iterator.single(Row.fromSeq(vals.toIndexedSeq))
          }
        }
      }
    }(Encoders.row(schema))
  }

  /** `(__id, band, bh)` LSH band-bucket rows: each `rows`-wide
    * signature band hashed to a bucket — the per-document index
    * entries both the one-shot self-join and the persisted incremental
    * index ([[MinhashIndex]]) are built from.
    */
  def bandRows(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, shingleSize,
      numHashes)
    val bandCols = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(s => col(s"mh$s"))
      struct(lit(b).as("band"),
        xxhash64(slice: _*).as("bh"))
    }
    sigs
      .select(col("__id"), explode(array(bandCols: _*)).as("bucket"))
      .select(col("__id"), col("bucket.band"), col("bucket.bh"))
  }

  /** LSH candidate pairs: self-join the band rows on (band, bucket).
    * Returns (id_a, id_b), id_a < id_b, distinct.
    *
    * Scale shape: each document yields at most `bands` band rows of 32
    * UnsafeRow bytes, so the input's row count
    * ([[graft.core.DriverFinish.rowCount]]: no job for a cached or local
    * input, else one) bounds them before any signature is computed. When
    * that bound fits `spark.sql.autoBroadcastJoinThreshold` (~40k
    * documents at 8 bands under the 10 MB default) and the ids are
    * integral, ONE bounded collect ([[graft.core.DriverFinish]]) brings
    * the band rows to the driver, which pairs up each bucket
    * ([[Buckets]]) and returns a local frame with the distributed path's
    * schema and rows. The pairs are capped at the same bound (24 B
    * each), so a hot bucket falls back (computing the signatures of this
    * small input again). Otherwise the self-join runs: its
    * two sides alias the SAME pre-partitioned plan, so Spark reuses one
    * shuffle (ReusedExchange) instead of computing signatures twice. An
    * input over the bound thus has its signatures computed once, by the
    * self-join; nothing is cached. With the threshold at -1, or
    * non-integral ids, the self-join is returned as it is, with no job.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    val spark = df.sparkSession
    val rows = bandRows(df, idCol, textCol, shingleSize, numHashes, bands)
    val parted = rows.repartition(col("band"), col("bh"))
    val a = parted.select(col("__id").as("id_a"), col("band"), col("bh"))
    val b = parted.select(col("__id").as("id_b"), col("band"), col("bh"))
    val selfJoin = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val idType = rows.schema("__id").dataType
    val lim = DriverFinish.limit(spark)
    if (lim <= 0 || !DriverFinish.isIntegral(idType)) selfJoin
    else DriverFinish.described(spark, "dedup.candidates") {
      DriverFinish.collectAtMost(rows, "dedup.candidates",
          DriverFinish.rowCount(df) * bands * 32)
        .flatMap { got =>
          val found = new Pairs(lim / 24)
          val full = !new Buckets(bands, got.iterator.filter(!_.isNullAt(0))
            .map(r => (r.getInt(1), r.getLong(2),
              DriverFinish.keyAt(r, 0, idType)))).pairUp(found)
          if (full) None else Some(found.all)
        }
        .fold(selfJoin)(ps => DriverFinish.frame(spark, selfJoin.schema,
          ps.toSeq.map { case (a, b) =>
            InternalRow(DriverFinish.key(a, idType),
              DriverFinish.key(b, idType)) }))
    }
  }

  /** Distinct candidate pairs `(a, b)`, `a < b`, built on the driver;
    * [[add]] answers false once there are more than `max`.
    */
  private[graft] final class Pairs(max: Long) {
    private val set = scala.collection.mutable.HashSet.empty[(Long, Long)]

    def add(a: Long, b: Long): Boolean = {
      if (a != b) set += (if (a < b) (a, b) else (b, a))
      set.size <= max
    }

    /** The pairs, sorted by `a` then `b`. */
    def all: Array[(Long, Long)] = set.toArray.sorted
  }

  /** `(band, bh, id)` band rows on the driver, per band sorted by `bh`
    * then id (`bhs(band)` and `ids(band)` aligned): a bucket is a run of
    * equal `bh`.
    */
  private[graft] final class Buckets(bands: Int,
      rows: Iterator[(Int, Long, Long)]) {
    val (bhs, ids): (Array[Array[Long]], Array[Array[Long]]) = {
      val byBand = Array.fill(bands)(
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long)])
      rows.foreach { case (band, bh, id) => byBand(band) += ((bh, id)) }
      val sorted = byBand.map(_.toArray.sorted)
      (sorted.map(_.map(_._1)), sorted.map(_.map(_._2)))
    }

    /** Adds every pair within one bucket to `to`; false once it is full. */
    def pairUp(to: Pairs): Boolean =
      (0 until bands).forall { band =>
        val (bh, id) = (bhs(band), ids(band))
        bh.indices.forall { i =>
          var j = i + 1
          var room = true
          while (room && j < bh.length && bh(j) == bh(i)) {
            room = to.add(id(i), id(j))
            j += 1
          }
          room
        }
      }

    /** Adds `id` paired with each row of bucket `(band, bh)` to `to`;
      * false once it is full.
      */
    def pairWith(band: Int, bh: Long, id: Long, to: Pairs): Boolean = {
      val b = bhs(band)
      var (lo, hi) = (0, b.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (b(mid) < bh) lo = mid + 1 else hi = mid
      }
      var room = true
      while (room && lo < b.length && b(lo) == bh) {
        room = to.add(id, ids(band)(lo))
        lo += 1
      }
      room
    }
  }

  /** Verified near-dups: LSH candidates with true shingle-set Jaccard
    * >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val cands = lshCandidates(df, idCol, textCol, shingleSize,
      numHashes, bands)
    verifyJaccard(cands, df, idCol, textCol, threshold, shingleSize)
  }

  /** Exact Jaccard of two distinct shingle sets:
    * `|inter| / (|a| + |b| - |inter|)`, the intersection counted by
    * one hash-set probe of the larger set against the smaller. The one
    * definition behind [[jaccardOfPairs]] and the index probe's
    * driver-side verification, so both give bit-identical values.
    */
  private[graft] def jaccard(a: collection.Seq[String],
      b: collection.Seq[String]): Double = {
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    val set = new java.util.HashSet[String](small.size * 2)
    small.foreach(set.add)
    var inter = 0
    large.foreach(t => if (set.contains(t)) inter += 1)
    val i = inter.toDouble
    i / ((a.size + b.size) - i)
  }

  /** Per-pair exact Jaccard from two shingle-set columns — the shared
    * PAIR-VERIFY KERNEL (round 6): the per-pair intersection runs as a
    * JVM hash-set probe inside `mapPartitions` ([[jaccard]]) instead
    * of the `array_intersect` expression (which builds its set per
    * evaluation and dominated the blocked all-pairs paths). Input must
    * expose (id_a, sh_a, id_b, sh_b); output (id_a, id_b, jaccard).
    */
  private[graft] def jaccardOfPairs(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val in = pairs.select(col("id_a"), col("id_b"),
      col("sh_a"), col("sh_b"))
    val schema = StructType(Seq(
      in.schema("id_a"), in.schema("id_b"),
      StructField("jaccard", DoubleType, nullable = true)))
    in.mapPartitions { it =>
      it.map { r =>
        Row(r.get(0), r.get(1),
          jaccard(r.getSeq[String](2), r.getSeq[String](3)))
      }
    }(Encoders.row(schema))
  }

  /** Exact shingle-Jaccard verification of candidate pairs against a
    * `(id, text)` source; shared by the one-shot near-dup path and the
    * incremental index.
    *
    * Scale shape: candidates already held on the driver (a local
    * relation, as [[lshCandidates]]' small path returns) with integral
    * ids are verified there: ONE bounded collect ([[textsOf]]) brings the
    * texts of the candidate ids, and the driver scores each pair
    * ([[jaccardLocal]]), returning a local frame with the distributed
    * path's schema and rows. When those texts do not fit, or the
    * candidates are a distributed frame, both shingle sets join to the
    * pairs and a map-side kernel scores them.
    */
  def verifyJaccard(cands: DataFrame, texts: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int)
      : DataFrame = {
    val sh = shingleSetsOf(texts, idCol, textCol, shingleSize)
    val dist = jaccardOfPairs(cands
      .join(sh.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      // verification is CPU-bound, and AQE coalesces/broadcasts by
      // DATA size, which would funnel all pairs into one task on
      // modest inputs — spread pairs explicitly
      .repartition(
        texts.sparkSession.sessionState.conf.numShufflePartitions))
      .filter(col("jaccard") >= threshold)
    val (ia, ib) = (cands.schema.fieldIndex("id_a"),
      cands.schema.fieldIndex("id_b"))
    val (ta, tb) = (cands.schema(ia).dataType, cands.schema(ib).dataType)
    val held =
      if (Seq(ta, tb, texts.schema(idCol).dataType)
          .forall(DriverFinish.isIntegral)) DriverFinish.held(cands)
      else None
    held.fold(dist)(rows =>
      DriverFinish.described(texts.sparkSession, "dedup.verify") {
        val pairs = rows.iterator
          .filter(r => !r.isNullAt(ia) && !r.isNullAt(ib))
          .map(r => (DriverFinish.keyAt(r, ia, ta),
            DriverFinish.keyAt(r, ib, tb))).toArray.sorted
        val ids = pairs.flatMap(p => Array(p._1, p._2)).distinct.sorted
        textsOf(texts, idCol, textCol, ids, "dedup.verify")
          .fold(dist)(found => DriverFinish.frame(texts.sparkSession,
            dist.schema, jaccardLocal(pairs, found, shingleSize, threshold)
              .map { case (a, b, j) =>
                InternalRow(DriverFinish.key(a, ta), DriverFinish.key(b, tb),
                  j) }))
      })
  }

  /** The texts of `texts` whose integral id is one of the sorted `ids`,
    * per id (a repeated id keeps each of its texts), brought to the
    * driver by ONE bounded collect ([[graft.core.DriverFinish]]) of a
    * map-side filter; None when they do not fit.
    */
  private[graft] def textsOf(texts: DataFrame, idCol: String,
      textCol: String, ids: Array[Long], op: String)
      : Option[Map[Long, List[String]]] =
    if (ids.isEmpty) Some(Map.empty)
    else {
      // the sorted ids travel in the task closure
      val wanted = udf((id: Long) =>
        java.util.Arrays.binarySearch(ids, id) >= 0)
      DriverFinish.collect(texts
        .select(col(idCol).cast("long").as("id"), col(textCol).cast("string"))
        .filter(wanted(col("id"))), op)
        .map(_.foldLeft(Map.empty[Long, List[String]]) { (m, r) =>
          val t = if (r.isNullAt(1)) null else r.getUTF8String(1).toString
          m.updated(r.getLong(0), t :: m.getOrElse(r.getLong(0), Nil))
        })
    }

  /** [[jaccardOfPairs]] on the driver: each of the `pairs`, sorted by
    * `a`, scored with [[shingleSet]] and [[jaccard]] over every text of
    * its two ids (a repeated id pairs once per copy, as the joins do; an
    * empty shingle set pairs with nothing), kept at `threshold`. One
    * `a`'s shingle sets are held at a time, not every candidate's.
    */
  private[graft] def jaccardLocal(pairs: Array[(Long, Long)],
      texts: Map[Long, List[String]], shingleSize: Int, threshold: Double)
      : Seq[(Long, Long, Double)] = {
    def sets(id: Long) = texts.getOrElse(id, Nil)
      .map(shingleSet(_, shingleSize)).filter(_.nonEmpty)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var curA = 0L
    var shA: List[Array[String]] = null
    for ((a, b) <- pairs) {
      if (shA == null || a != curA) { curA = a; shA = sets(a) }
      for (sa <- shA; sb <- sets(b)) {
        val j = jaccard(sa, sb)
        if (j >= threshold) out += ((a, b, j))
      }
    }
    out.toSeq
  }

  /** Pairwise token-set Jaccard within candidate blocks (same
    * `blockCol` value) — the simple, oracle-checkable n-gram Jaccard
    * dedup. Blocks bound the quadratic term; at scale the block column
    * is an LSH bucket or length band.
    */
  def blockedJaccard(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3): DataFrame = {
    val sh = df.select(col(blockCol).as("__blk"), col(idCol).as("__id"))
      .join(shingleSetsOf(df, idCol, textCol, n), Seq("__id"))
    val a = sh.select(col("__blk"), col("__id").as("id_a"),
      col("__sh").as("sh_a"))
    val b = sh.select(col("__blk"), col("__id").as("id_b"),
      col("__sh").as("sh_b"))
    jaccardOfPairs(a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      // same AQE-vs-CPU consideration as minhashNearDups: pair
      // verification must not collapse onto one task
      .repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions))
  }

  /** Per-document SimHash table `(id, simhash)`, computed relationally
    * like [[minhashSignatures]]: explode tokens, ONE groupBy(id) with 64
    * codegen'd bit-vote sums (xxhash64(token) is shared across the 64
    * update expressions by codegen subexpression elimination), then a
    * small projection folds votes into the 64-bit signature. Map-side
    * combine keeps the shuffle at one 64-int row per id per partition.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_), nBits: Int = 64)
      : DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits must be 1..64, got $nBits")
    val tokRows = df.select(col(idCol).as("__id"),
      explode(split(col(textCol), " ")).as("__t"))
    val h = tokenHash(col("__t"))
    val votes = (0 until nBits).map(k =>
      sum(when(shiftright(h, k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$k"))
    val agged = tokRows.groupBy(col("__id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until nBits).map(k =>
      when(col(s"v$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
    agged.select(col("__id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** 60-bit md5-derived token hash (top 15 hex digits): a few times
    * the CPU of xxhash64, but reproducible in any SQL engine — the
    * oracle-checkable [[simhashes]] variant. The fold rule lives in
    * [[graft.core.Hashing.md5Hash60]] (one definition for every
    * portable-hash consumer); this name stays as the dedup-side API.
    */
  def md5Hash60(t: Column): Column = graft.core.Hashing.md5Hash60(t)

  /** Embedding near-dup pairs via quantized cosine within blocks.
    * Embeddings are quantized to int (round(x*1000)) so dot products
    * are exact integer sums — deterministic across engines and the
    * standard int8-style quantization trick at scale.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val q = df.select(col(blockCol).as("__blk"), col(idCol).as("__id"),
      quantize(col(vecCol)).as("__q"))
    val a = q.select(col("__blk"), col("__id").as("id_a"),
      col("__q").as("q_a"))
    val b = q.select(col("__blk"), col("__id").as("id_b"),
      col("__q").as("q_b"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineQ(col("q_a"), col("q_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** ASYMMETRIC near-dup: n-gram containment pairs. For each directed
    * pair, `containment(src -> dst) = |sh(src) n sh(dst)| / |sh(src)|`
    * over distinct n-gram shingle sets — the signal Jaccard cannot
    * see: a short document fully embedded in a longer one (quoted
    * posts, wrapper/boilerplate pages, article + comment dumps) has
    * containment ~1 while Jaccard stays arbitrarily low.
    *
    * Scale shape:
    *   - candidates come from a DOCUMENT-FREQUENCY-PRUNED inverted
    *     index: one distinct (doc, shingle) row per set element, keep
    *     shingles with df in [2, maxDf], self-join on the shingle.
    *     The df cap is the skew guard — a boilerplate shingle in 10^6
    *     docs would otherwise emit 10^12 candidate rows; with the cap,
    *     candidates are <= sum_g C(df_g, 2) <= |pruned rows| * maxDf/2
    *     — LINEAR in corpus size for fixed maxDf. The tradeoff is
    *     explicit: a pair sharing ONLY ultra-common shingles is
    *     missed, and such pairs are boilerplate matches by definition;
    *   - verification is EXACT and restricted to candidates: shingle
    *     sets are joined to candidate ids only (never all-pairs), the
    *     true intersection comes from ONE JVM hash-set probe per pair
    *     (the round-6 pair-verify kernel), and both directions are
    *     derived from the one shared count — integer/integer division,
    *     engine-portable.
    *
    * Returns `(src_id, dst_id, containment)`, both directions of every
    * candidate pair passing `threshold`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Long = 100L): DataFrame = {
    require(maxDf >= 2, s"containment: maxDf >= 2 required, got $maxDf")
    // persisted: the shingle-set kernel pass is the dominant scan cost
    // and has THREE consumers (the inverted index + both verify joins)
    // — same contract as SpanDedup's gram cache: registered until
    // clearCache()
    val sets = shingleSetsOf(df, idCol, textCol, n) // (__id, __sh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = sets.select(col("__id"), explode(col("__sh")).as("__g"))
    val rare = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select(col("__g"))
    val pruned = rows.join(rare, Seq("__g"))
    val cand = pruned.select(col("__g"), col("__id").as("id_a"))
      .join(pruned.select(col("__g"), col("__id").as("id_b")), Seq("__g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // per-pair intersection via the JVM pair-verify kernel (round 6 —
    // see jaccardOfPairs; array_intersect rebuilt its set per
    // evaluation and dominated the verify stage)
    val joined = cand
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sb")),
        Seq("id_b"))
    val both = locally {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val in = joined.select(col("id_a"), col("id_b"),
        col("__sa"), col("__sb"))
      val schema = StructType(Seq(
        in.schema("id_a"), in.schema("id_b"),
        StructField("__shared", DoubleType, nullable = false),
        StructField("__na", IntegerType, nullable = false),
        StructField("__nb", IntegerType, nullable = false)))
      in.mapPartitions { it =>
        it.map { r =>
          val a = r.getSeq[String](2)
          val b = r.getSeq[String](3)
          val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
          val set = new java.util.HashSet[String](small.size * 2)
          small.foreach(set.add)
          var inter = 0
          large.foreach(t => if (set.contains(t)) inter += 1)
          Row(r.get(0), r.get(1), inter.toDouble, a.size, b.size)
        }
      }(Encoders.row(schema))
    }
    // ONE verify-join pass emits BOTH directions (a 2-array explode),
    // instead of a union of two selects that would execute the join —
    // and the array_intersect per pair — twice
    both.select(explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("dst_id"),
          (col("__shared") / col("__na").cast("double"))
            .as("containment")),
        struct(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          (col("__shared") / col("__nb").cast("double"))
            .as("containment")))).as("__d"))
      .select(col("__d.src_id"), col("__d.dst_id"),
        col("__d.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Embedding near-dup WITHOUT a caller-provided blocking column:
    * IVF-style coarse assignment to the nearest of `nSeeds`
    * deterministic seed centroids (the vectors with the smallest ids),
    * then quantized-cosine pairs within each assigned cell.
    *
    * Scale shape (the reason this exists next to
    * [[embeddingNearDups]], which needs a domain blocking key):
    *   - the seed fetch is a bounded model fit — `nSeeds` quantized
    *     vectors to the driver, nothing else;
    *   - assignment is a PURE codegen'd projection against the seed
    *     literals (constant-folded centroid norms, [[cosineQ]] via the
    *     codegen'd DotProductQ) — no shuffle, no UDF: the classic IVF
    *     coarse-assign map stage;
    *   - only the cell equi-join shuffles, on the cell id, so the
    *     all-pairs work is confined to cells (salting/banding composes
    *     on top if a cell goes hot — at 10^12 scale you'd raise
    *     nSeeds so cells stay bounded, the same nlist tuning as the
    *     IVF ANN index in [[graft.ann.Knn]]; the seed literals keep
    *     the PLAN at O(nSeeds x dim) constants, so past a few hundred
    *     seeds assignment should switch to the broadcast-join +
    *     argmax-aggregate shape of [[graft.ann.Knn.ivfLists]] — same
    *     semantics, plan size independent of nlist).
    *
    * Determinism: seeds are the `nSeeds` smallest-id vectors (no RNG);
    * ties in the argmax keep the SMALLEST seed id (the first greatest
    * cosine in ascending seed order) — engine-portable,
    * DuckDB-mirrorable.
    * Assignment is nearest-COSINE, matching the dedup metric.
    */
  def embeddingNearDupsIvf(df: DataFrame, idCol: String,
      vecCol: String, nSeeds: Int, threshold: Double): DataFrame = {
    val cells = ivfCells(df, idCol, vecCol, nSeeds)
    val a = cells.select(col("__blk"), col("__id").as("id_a"),
      col("__q").as("q_a"))
    val b = cells.select(col("__blk"), col("__id").as("id_b"),
      col("__q").as("q_b"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineQ(col("q_a"), col("q_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** `(__id, __q, __blk)` IVF coarse assignment: each vector's cell is
    * the nearest-cosine seed (ties -> smallest seed id), the position of
    * the first greatest cosine to the seed literals — a shuffle-free
    * codegen'd projection whose code grows linearly with the seeds (a
    * `when(c > best.c, ...).otherwise(best)` fold names its running
    * best twice per seed, so its generated code doubled with each seed
    * and passed the JVM's 64 KB method limit at 8). A null vector takes
    * the first seed's cell, as that fold did. Exposed for the spec-level
    * equivalence check against the window-argmax formulation (the
    * shape the DuckDB oracle uses).
    */
  private[graft] def ivfCells(df: DataFrame, idCol: String,
      vecCol: String, nSeeds: Int): DataFrame = {
    require(nSeeds >= 1, s"embedding IVF dedup: nSeeds >= 1, got $nSeeds")
    val q = df.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
    // bounded fit: nSeeds quantized vectors (ids ascending)
    val seeds: Seq[(Any, Seq[Long])] = q.orderBy(col("__id"))
      .limit(nSeeds).collect().toSeq
      .map(r => (r.get(0), r.getSeq[Long](1)))
    // each seed one array literal, each cosine computed once
    val cos = array(seeds.map(s => cosineQ(col("__q"), typedLit(s._2))): _*)
    val first = coalesce(array_position(cos, array_max(cos)), lit(1L))
    q.select(col("__id"), col("__q"),
      element_at(array(seeds.map(s => lit(s._1)): _*), first.cast("int"))
        .as("__blk"))
  }

  /** Fuzzy record linkage at edit distance <= 1 — "Jon Smith" /
    * "John Smith" / "Jon Smth" resolve to one entity: every pair of
    * rows whose strings are within Levenshtein 1, found by
    * DELETION-NEIGHBORHOOD blocking (FastSS): each string blocks on
    * itself plus its |s| one-character deletions, and two strings
    * within distance 1 PROVABLY share a block key (equal → identity
    * keys; substitution at i → both i-deletions equal; insert/delete
    * → the longer string's deletion equals the shorter's identity).
    * Candidates are verified with the exact codegen'd `levenshtein`,
    * so output = the exhaustive-truth pair set (q342 proves it
    * against a DuckDB all-pairs join).
    *
    * Scale shape: |s|+1 block keys per row and a key equi-join —
    * work is Σ|block|², never |corpus|² (the all-pairs join is
    * quadratic death at 10^9 names); verification touches candidate
    * pairs only. Output: `id_a < id_b`, `dist`.
    */
  def editDistancePairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val base = df
      .filter(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"))
    // identity key + the |s| deletion keys (1-based substring math;
    // an empty string degenerates to its identity key twice —
    // distinct() below absorbs it)
    val keys = base.select(col("__id"), col("__s"),
      explode(concat(array(col("__s")), expr(
        "transform(sequence(1, greatest(length(__s), 1)), " +
          "i -> concat(substring(__s, 1, i - 1), " +
          "substring(__s, i + 1, length(__s))))"))).as("__k"))
    val a = keys.select(col("__id").as("id_a"),
      col("__s").as("__sa"), col("__k"))
    val b = keys.select(col("__id").as("id_b"),
      col("__s").as("__sb"), col("__k"))
    a.join(b, Seq("__k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb")).as("dist"))
      .filter(col("dist") <= 1)
  }

  /** round(x*1000) int64 quantization of a float vector. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  /** Cosine over quantized vectors: integer dot / (sqrt * sqrt) —
    * exact integer sums, deterministic IEEE tail. The dot products run
    * through the codegen'd [[graft.functions.DotProductQ]] (a custom
    * Catalyst expression), not interpreted HOF lambdas: this loop runs
    * once per CANDIDATE PAIR x dims in every re-rank stage.
    */
  def cosineQ(a: Column, b: Column): Column = {
    import graft.functions.DotProductQ.dotQ
    val dot = dotQ(a, b).cast("double")
    val na = dotQ(a, a).cast("double")
    val nb = dotQ(b, b).cast("double")
    dot / (sqrt(na) * sqrt(nb))
  }
}

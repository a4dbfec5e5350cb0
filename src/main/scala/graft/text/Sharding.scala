package graft.text

import graft.core.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sharding and sampling for training-data preparation:
  * token-budget shard assignment (which shard does each document's
  * token stream land in when the corpus is written as fixed-budget
  * shards?) and deterministic stratified sampling (reproducible
  * per-stratum rates with no RNG state).
  */
object Sharding {

  /** Global EXCLUSIVE cumulative sums of `values` (expression ->
    * output column) in `orderCols` order, with no single-partition
    * stage: range-repartition on the order key, per-partition totals
    * (one tiny collect, |partitions| rows) become broadcast prefix
    * offsets, then a per-partition window does the local running sum.
    * Same two-phase shape as [[graft.core.Stats.keyedCumFractions]].
    * Several sums share ONE range shuffle and ONE totals collect (a
    * dual-constraint packer needs cumulative bytes AND rows). The
    * result is cut ([[graft.core.Lineage.cut]]), so its range
    * boundaries can never be recomputed differently.
    *
    * `orderCols` must be unique (they are the deterministic total
    * order).
    */
  private[graft] def exclusiveCumSum(df: DataFrame, orderCols: Seq[Column],
      values: (Column, String)*): DataFrame =
    Lineage.scoped(s =>
      Lineage.cut(exclusiveCumSumRaw(s, df, orderCols, values: _*)))

  /** [[exclusiveCumSum]] before the cut: the ranked frame reads a
    * range-partitioned copy persisted in `scope`. The
    * no-single-partition plan property is asserted on THIS frame in
    * ShardingSpec, where the plan is still visible (a cut frame's
    * executed plan is just the RDD scan).
    */
  private[graft] def exclusiveCumSumRaw(scope: Lineage.Scope,
      df: DataFrame, orderCols: Seq[Column], values: (Column, String)*)
      : DataFrame = {
    require(values.nonEmpty, "exclusiveCumSumRaw: no value columns")
    // backstop for every rank/pack layout built on this: whole rows
    // ride the range shuffle AND the persist, so a binary payload here
    // is terabytes of needless exchange for an index-only answer
    graft.core.Ids.requireNoBinary(df, "two-phase cumulative layout")
    val parts = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val ranged = scope.persist(df
      .repartitionByRange(parts, orderCols: _*)
      .withColumn("__pid", spark_partition_id()))
    // null values count as 0 (and a partition of only-null values
    // must not NPE the driver-side unboxing)
    val vs = values.map { case (c, _) => coalesce(c.cast("long"), lit(0L)) }
    val partTotals = ranged.groupBy(col("__pid"))
      .agg(sum(vs.head).as("t0"),
        vs.tail.zipWithIndex.map { case (v, i) =>
          sum(v).as(s"t${i + 1}") }: _*)
      .collect().map(r => (r.getInt(0),
        values.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    values.indices.foldLeft(ranged) { (acc, i) =>
      val offsets: Map[Int, Long] = partTotals.map(_._1)
        .zip(partTotals.map(_._2(i)).scanLeft(0L)(_ + _).init).toMap
      val offCol =
        if (offsets.isEmpty) lit(0L)
        else coalesce(
          element_at(typedLit(offsets), col("__pid")), lit(0L))
      acc.withColumn(values(i)._2,
        coalesce(sum(vs(i)).over(w), lit(0L)) + offCol)
    }.drop("__pid")
  }

  /** Contiguous token-budget sharding: documents are laid out in
    * `orderCol` order (must be unique — the deterministic corpus
    * order) and cut into shards of `budget` tokens;
    * `shard = floor(tokens_before_this_doc / budget)`. A document
    * whose tokens straddle a boundary belongs to the shard where it
    * STARTS (standard sequence-packing writer behavior: the writer
    * splits the token stream, the index records the starting shard).
    *
    * Adds `cum_before` (exclusive running token count) and `shard`.
    */
  def packShards(df: DataFrame, orderCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"shard budget must be positive, got $budget")
    exclusiveCumSum(df, Seq(col(orderCol)), col(tokenCol) -> "cum_before")
      .withColumn("shard",
        floor(col("cum_before") / lit(budget)).cast("long"))
  }

  /** GPT-style concat-and-chunk context layout: the corpus token
    * stream (documents concatenated in `orderCol` order) is cut into
    * fixed `blockSize`-token training blocks, and documents SPAN block
    * boundaries — the standard autoregressive-pretraining writer
    * (documents are not padded to the context window; they are split
    * at it). Per document this emits the index a block writer and an
    * attention-mask/doc-boundary builder need:
    *
    *   - `cum_before`   exclusive running token count,
    *   - `start_block`  `cum_before div blockSize`,
    *   - `start_offset` `cum_before mod blockSize` (token position
    *                    inside the starting block),
    *   - `end_block`    the LAST token's block; a zero-token document
    *                    collapses to `end_block = start_block`.
    *
    * Block `b`'s contents = documents with
    * `start_block <= b <= end_block` — an equi-joinable range (compose
    * with [[graft.temporal.RangeJoin]] if blocks are queried in bulk).
    * Block indices use INTEGER division (`div`), not
    * `floor(double /)`: a 100 TB corpus holds > 2^53 tokens, where
    * double division rounds and floor() misplaces block boundaries.
    * Same two-phase cumsum as [[packShards]] — no single-partition
    * stage at any scale.
    */
  def packContextBlocks(df: DataFrame, orderCol: String,
      tokenCol: String, blockSize: Long): DataFrame = {
    require(blockSize > 0, s"block size must be positive, got $blockSize")
    val n = coalesce(col(tokenCol).cast("long"), lit(0L))
    exclusiveCumSum(df, Seq(col(orderCol)), col(tokenCol) -> "cum_before")
      .withColumn("__last_tok",
        col("cum_before") + greatest(n, lit(1L)) - lit(1L))
      .withColumn("start_block", expr(s"cum_before div $blockSize"))
      .withColumn("start_offset", pmod(col("cum_before"), lit(blockSize)))
      .withColumn("end_block", expr(s"__last_tok div $blockSize"))
      .drop("__last_tok")
  }

  /** Deterministic stratified sampling: keep a row iff
    * `mix(id) < rate(stratum) * 2^32`, where `mix` is a Knuth
    * multiplicative hash on the unique integral `idCol`. No RNG state,
    * no seed plumbing: the same row is kept in every run, on every
    * cluster size, in any engine that has 64-bit integer arithmetic
    * (the oracle reproduces it in plain SQL). Sampling error is
    * O(1/sqrt(n)) per stratum like any hash sample; rates are exact in
    * expectation.
    *
    * Unlisted strata are dropped (rate 0).
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1),
      s"rates must be in [0,1]: $rates")
    val thresh = element_at(typedLit(rates.map { case (k, r) =>
      k -> math.round(r * 4294967296.0)
    }), col(stratumCol))
    df.filter(thresh.isNotNull && mixHash(col(idCol)) < thresh)
  }

  /** The mixed hash as a column (exposed for tests/oracles).
    *
    * The id is masked to 31 bits BEFORE the Knuth multiply so the
    * product tops out at (2^31 - 1) * 2654435761 < 2^63: without the
    * mask, ids >= ~3.46e9 overflow int64 — Spark wraps silently but an
    * ANSI engine (the DuckDB oracle) raises, breaking the "same rows
    * kept in any engine" contract exactly at large id ranges. Ids must
    * be non-null integral; null ids hash to null and are dropped by
    * the sampling filter (document ids, not guessed rows).
    */
  def mixHash(id: Column): Column =
    pmod(pmod(id.cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))

  /** Per-epoch variant of [[mixHash]]: a second Knuth round over
    * `mix(id) + epoch * 2246822519 (mod 2^32)`, so each epoch is an
    * independent-looking reordering of the same ids. The same 31-bit
    * pre-multiply mask keeps every product under 2^63 — Spark wraps
    * silently past that but an ANSI engine raises, and the whole point
    * is that any engine reproduces the same order.
    */
  def epochHash(id: Column, epoch: Int): Column = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    val mixed = pmod(
      mixHash(id) + lit((epoch.toLong * 2246822519L) % 4294967296L),
      lit(4294967296L))
    pmod(pmod(mixed, lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
  }

  /** Deterministic EPOCH SHUFFLE for training-data loaders: every row
    * gets its dense position in the epoch's pseudo-random order —
    * `shuffle_pos` = rank of `(epochHash(id, epoch), id)` — with no
    * RNG state and no driver-side permutation table: the same
    * (corpus, epoch) produces the same order on any cluster size, in
    * any engine (the oracle replays it as a window `row_number`).
    * Each epoch costs ONE range-shuffle (the two-phase exclusive
    * cumulative count — no single-partition sort at any corpus size);
    * resuming epoch N after a crash re-derives the identical order
    * from (id, N) alone, nothing to checkpoint.
    *
    * `idCol` must be unique integral ids (it is the tiebreak for the
    * ~n^2/2^32 hash collisions a billion-row corpus WILL have — an
    * undefined collision order would differ between runs).
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int)
      : DataFrame = {
    graft.core.Ids.requireIntegral(df, idCol, "epochShuffle")
    graft.core.Ids.requireNoBinary(df, "epochShuffle")
    require(!df.columns.contains("shuffle_pos"),
      "epochShuffle: input already has a 'shuffle_pos' column")
    require(!df.columns.contains("__eh"),
      "epochShuffle: input already has a '__eh' column (reserved " +
        "scratch name — it would be silently overwritten)")
    val withHash = df.withColumn("__eh", epochHash(col(idCol), epoch))
    Lineage.scoped(s => Lineage.cut(exclusiveCumSumRaw(s, withHash,
      Seq(col("__eh"), col(idCol)), lit(1L) -> "shuffle_pos").drop("__eh")))
  }

  /** Curriculum schedule: the exact global rank of every row under
    * `(scoreCol, idCol)` ascending (easy -> hard when the score is a
    * difficulty proxy like length or perplexity) and its curriculum
    * `phase = (rank * phases) div N` — `phases` equal-sized
    * difficulty stages for staged training. The rank is the shared
    * two-phase range-partitioned layout (no single-partition sort at
    * any corpus size); N is one scalar count. Integer `div`, not
    * float floor — phase boundaries stay exact past 2^53 rows.
    *
    * `scoreCol`/`idCol` must be non-null (the order must be total);
    * the pair must be unique, which a unique `idCol` guarantees.
    */
  def curriculumSchedule(df: DataFrame, scoreCol: String,
      idCol: String, phases: Int): DataFrame = {
    require(phases > 0,
      s"curriculumSchedule: phases must be positive, got $phases")
    Seq("rank", "phase").foreach(c =>
      require(!df.columns.contains(c),
        s"curriculumSchedule: input already has a '$c' column"))
    require(df.filter(col(scoreCol).isNull || col(idCol).isNull)
      .head(1).isEmpty,
      s"curriculumSchedule: null $scoreCol/$idCol rows (the " +
        "curriculum order must be total — filter or impute first)")
    val n = df.count()
    val out = exclusiveCumSum(df, Seq(col(scoreCol), col(idCol)),
      lit(1L) -> "rank")
    if (n == 0) out.withColumn("phase", lit(null).cast("long"))
    else out.withColumn("phase", expr(s"(rank * $phases) div ${n}L"))
  }

  /** Batch-composition audit over the [[epochShuffle]] order: cut the
    * epoch order into `batchSize`-row batches and report, per batch,
    * the member count, the number of distinct `stratumCol` values and
    * the largest single-stratum share — the check that a "shuffled"
    * epoch did not clump one source into a batch (clumped batches
    * give correlated gradients; a diversity audit catches a broken
    * shuffle or a skewed corpus BEFORE a training run spends a
    * cluster-day on it). Two bounded aggregations after the shuffle
    * rank; output = \|batches\| rows.
    */
  def epochBatchStats(df: DataFrame, idCol: String,
      stratumCol: String, epoch: Int, batchSize: Int): DataFrame = {
    require(batchSize > 0,
      s"epochBatchStats: batchSize must be positive, got $batchSize")
    val shuffled = epochShuffle(df, idCol, epoch)
      .withColumn("batch", expr(s"shuffle_pos div $batchSize"))
    shuffled.groupBy(col("batch"), col(stratumCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("batch"))
      .agg(sum("__c").as("members"),
        count(lit(1)).as("n_strata"),
        max("__c").as("max_stratum_rows"))
  }

  /** EXACT-COUNT deterministic stratified sample: the `n` rows with
    * the smallest [[mixHash]] per stratum — a uniform sample of
    * exactly `min(n, |stratum|)` rows, reproducible anywhere (the
    * rate-based [[stratifiedSample]] is exact only in expectation).
    *
    * Runs through the bounded-heap [[graft.functions.TopKBy]]
    * aggregate: ONE hash aggregation, shuffle carries ≤ n entries per
    * (stratum, partition) — never a per-stratum sort, never the
    * stratum's rows. Ties (hash collisions) break toward the smaller
    * id, like the oracle's `ORDER BY hash, id`.
    */
  def sampleExactPerStratum(df: DataFrame, stratumCol: String,
      idCol: String, n: Int): DataFrame = {
    graft.core.Ids.requireIntegral(df, idCol, "sampleExactPerStratum")
    // TopKBy keeps the LARGEST scores; negate the hash to keep the
    // smallest (ties still resolve toward the smaller id)
    val score = -mixHash(col(idCol)).cast("double")
    df.groupBy(col(stratumCol))
      .agg(graft.functions.TopKBy.topKBy(score,
        col(idCol).cast("long"), n).as("__s"))
      .select(col(stratumCol),
        explode(col("__s")).as("__e"))
      .select(col(stratumCol), col("__e.id").as(idCol))
  }

  import graft.core.Hashing.md5Hash60

  /** Deterministic dataset split (train/val/test): assign each row to
    * the first label whose cumulative-percent cut exceeds
    * `md5(id # salt) mod 100`. Pure salted-hash projection — no RNG,
    * no shuffle, no state: the same row lands in the same split on
    * every run, at any cluster size, in any engine with md5 (the
    * leakage property that matters: an id can NEVER migrate between
    * train and test when the corpus grows, unlike fraction-based
    * `randomSplit`). The salt gives independent re-splits.
    *
    * `cuts` are (label, cumulative percent) with the last at 100,
    * e.g. `Seq("train" -> 80, "val" -> 90, "test" -> 100)`. Null ids
    * are assigned null (surface them, don't guess).
    */
  def hashSplit(df: DataFrame, idCol: String, salt: String,
      cuts: Seq[(String, Int)]): DataFrame = {
    // STRICTLY increasing: a duplicated cut (80/80/100 for a meant
    // 80/90/100) would make its label unreachable and silently ship an
    // empty split — reject the typo at construction
    require(cuts.nonEmpty && cuts.last._2 == 100 &&
      cuts.forall(_._2 > 0) &&
      cuts.map(_._2).sliding(2).forall(p =>
        p.length < 2 || p(0) < p(1)),
      s"cuts must be STRICTLY increasing cumulative percents ending " +
        s"at 100: $cuts")
    val bucket = pmod(
      md5Hash60(concat(col(idCol).cast("string"), lit("#"), lit(salt))),
      lit(100L))
    val assign = cuts.foldRight(lit(null).cast("string")) {
      case ((label, cut), rest) =>
        when(bucket < cut, lit(label)).otherwise(rest)
    }
    df.withColumn("split",
      when(col(idCol).isNull, lit(null).cast("string"))
        .otherwise(assign))
  }

  /** Weighted sampling WITHOUT replacement, k per group — the
    * Efraimidis–Spirakis A-ES scheme made deterministic: each row
    * draws `u = (md5Hash60(id # salt) + 1) / 2^60` (uniform in (0,1],
    * exact in any engine — the +1 avoids ln(0) and the divisor is a
    * power of two so the quotient is exact), keys it as
    * `ln(u) / w`, and the k LARGEST keys per group win. This samples
    * each row with probability proportional to its weight among the
    * survivors, without replacement — the standard distributed
    * weighted reservoir rule.
    *
    * Runs through the bounded-heap [[graft.functions.TopKBy]]: one
    * map-side-combined aggregation, shuffle carries <= k entries per
    * (group, partition), no per-group sort — the same scale shape as
    * [[sampleExactPerStratum]].
    *
    * The key is ROUNDED to 9 decimals before ranking: `ln` is the one
    * step libm implementations may disagree on by 1 ulp, and rounding
    * makes the cross-engine flip probability ~1e-10 per row (ties
    * break toward the smaller id in both this aggregate and the
    * oracle's `ORDER BY key DESC, id`). Rows with null/non-positive
    * weight or null id are excluded — a zero-weight row must never be
    * sampled, and an unweighable row is a data error to surface
    * upstream, not a silent keep.
    *
    * `idCol` must be UNIQUE INTEGRAL (the bounded-heap carries ids as
    * int64 — the same contract as [[sampleExactPerStratum]] and
    * [[graft.dedup.Dedup.exact]]): a fractional id would collapse
    * under the cast and re-appear at two ranks, breaking the
    * without-replacement guarantee.
    */
  /** The deterministic A-ES sampling key (`round(ln(u)/w, 9)` with u
    * exact from the salted id hash) — shared by the batch
    * [[weightedSamplePerGroup]] and its streaming twin (q137), which
    * must rank by the IDENTICAL key to converge to the batch answer.
    */
  def esKey(id: Column, weight: Column,
      salt: String = "es"): Column = {
    val u = (md5Hash60(concat(id.cast("string"), lit("#"),
      lit(salt))) + 1L).cast("double") / lit(1152921504606846976.0)
    round(log(u) / weight.cast("double"), 9)
  }

  def weightedSamplePerGroup(df: DataFrame, groupCol: String,
      idCol: String, weightCol: String, k: Int,
      salt: String = "es"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    graft.core.Ids.requireIntegral(df, idCol, "weightedSamplePerGroup")
    val key = esKey(col(idCol), col(weightCol), salt)
    df.filter(col(idCol).isNotNull &&
        col(weightCol).cast("double") > 0)
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKBy.topKBy(key,
        col(idCol).cast("long"), k).as("__s"))
      .select(col(groupCol), posexplode(col("__s")).as(Seq("__p", "__e")))
      .select(col(groupCol), (col("__p") + 1).cast("int").as("rank"),
        col("__e.id").as(idCol), col("__e.score").as("key"))
  }

  /** DUAL-constraint contiguous sharding — the WebDataset/tar export
    * layout: every shard holds at most `byteBudget` bytes (plus the
    * one straddling row's tail — a row belongs to the shard where it
    * STARTS, the [[packShards]] convention a stream writer needs) AND
    * at most `maxRows` rows. Two-level cut: `byte_shard =
    * cum_bytes_before div byteBudget` closes a span at the byte
    * budget; within each byte span rows are re-counted from zero and
    * cut every `maxRows` (`shard_in_span`). The shard key is the pair
    * `(byte_shard, shard_in_span)` — both caps hold EXACTLY by
    * construction (each final shard is a subset of one byte span, and
    * the row count within it is a row_number div).
    *
    * Note this is NOT the sequential greedy writer (a row-cap cut
    * does not reset byte counting — that recurrence resets on its own
    * value, like CUSUM, and would need a global sequential scan); the
    * two-level rule is prefix-decomposable, so it costs ONE range
    * shuffle for BOTH running sums ([[exclusiveCumSum]]) plus a
    * |byte-spans|-row start-offset broadcast, at any corpus size.
    * Integer `div` keeps boundaries exact past 2^53 cumulative bytes.
    * Adds `cum_bytes_before`, `seq` (0-based layout position),
    * `byte_shard`, `shard_in_span`. Payload columns must not ride the
    * layout — project to (id, size) first, join bytes back by id at
    * write time (enforced: binary columns are rejected).
    */
  def packShardsDual(df: DataFrame, orderCol: String,
      bytesCol: String, byteBudget: Long, maxRows: Long): DataFrame = {
    require(byteBudget > 0, s"byteBudget must be positive, got $byteBudget")
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    val out = exclusiveCumSum(df, Seq(col(orderCol)),
      col(bytesCol) -> "cum_bytes_before", lit(1L) -> "seq")
    val spans = out
      .withColumn("byte_shard",
        expr(s"cum_bytes_before div ${byteBudget}L"))
    val starts = spans.groupBy(col("byte_shard").as("__bs"))
      .agg(min(col("seq")).as("__start"))
    spans.join(broadcast(starts), col("byte_shard") === col("__bs"))
      .withColumn("shard_in_span",
        expr(s"(seq - __start) div ${maxRows}L"))
      .drop("__bs", "__start")
  }

  /** Deterministic training-pair assignment (mixup / CutMix / hard
    * in-batch contrastive partners): rows are laid out in the epoch's
    * [[epochShuffle]] order and paired even-with-odd
    * (`partner_pos = shuffle_pos XOR 1`), so each row's partner is a
    * uniform draw that changes every epoch yet is reproducible from
    * `(id, epoch)` alone on any cluster size — no RNG state, no
    * driver-side permutation. An odd-sized corpus leaves exactly the
    * last position unpaired (`partner_id` null — the trainer drops or
    * self-pairs it).
    *
    * Cost: the epoch rank's ONE range shuffle + ONE equi-join of the
    * index against itself on the dense position (both sides are the
    * (id, pos) projection — payloads never ride; binary columns are
    * rejected by the rank machinery). Adds `shuffle_pos`, `pair_id`
    * (= `shuffle_pos div 2`) and `partner_<idCol>`.
    */
  /** Per-member byte OFFSET within its export shard — what a tar/
    * WebDataset writer seeks to before appending the member. For a
    * contiguous layout carrying a GLOBAL running sum
    * ([[packShards]] / [[packShardsDual]]'s `cum_bytes_before`), the
    * in-shard offset is just `cum − min(cum) over the shard`: ONE
    * bounded group-min (map-side combined, |shards| rows, broadcast
    * back) — never a per-shard window sort, so shard size never
    * bounds a sort buffer and the layout frame itself does not
    * re-shuffle. Binary payloads are rejected like every layout op
    * (join bytes back by id at write time).
    */
  def shardMemberOffsets(df: DataFrame, cumCol: String,
      shardCols: Seq[String], out: String = "member_offset")
      : DataFrame = {
    require(shardCols.nonEmpty,
      "shardMemberOffsets: need >= 1 shard column")
    Seq(out, "__shard_start").foreach(c =>
      require(!df.columns.contains(c),
        s"shardMemberOffsets: input already has a '$c' column"))
    graft.core.Ids.requireNoBinary(df, "shardMemberOffsets")
    val starts = df.groupBy(shardCols.map(col): _*)
      .agg(min(col(cumCol)).as("__shard_start"))
    df.join(broadcast(starts), shardCols)
      .withColumn(out, col(cumCol) - col("__shard_start"))
      .select(df.columns.toSeq.map(col) :+ col(out): _*) // input order kept
  }

  /** Shard-level export manifest: member count, payload bytes, id
    * range and an order-independent content fingerprint per shard —
    * what the writer publishes next to each shard for audit and
    * resume. The fingerprint is `bit_xor` of the engine-portable
    * md5-60 of `"<id>#<size>"`, so ANY engine recomputes it from the
    * layout columns alone (the same cross-engine discipline as
    * [[graft.core.Hashing.md5Hash60]] splits). ONE map-side-combined
    * aggregation; output bounded by |shards|.
    */
  def shardManifest(df: DataFrame, idCol: String, sizeCol: String,
      shardCols: Seq[String]): DataFrame = {
    require(shardCols.nonEmpty, "shardManifest: need >= 1 shard column")
    require(!df.columns.contains("__fp"),
      "shardManifest: input already has a '__fp' column")
    df.withColumn("__fp", graft.core.Hashing.md5Hash60(concat_ws("#",
        col(idCol).cast("string"), col(sizeCol).cast("string"))))
      .groupBy(shardCols.map(col): _*)
      .agg(count(lit(1)).as("members"),
        sum(col(sizeCol).cast("long")).as("shard_bytes"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"),
        expr("bit_xor(__fp)").as("content_fp"))
  }

  /** Exact water-filling quota over per-source document counts: the
    * level `L` is the largest integer with
    * `sum_s min(n_s, L) <= budget`, every source keeps
    * `min(n_s, L)` documents, and the leftover
    * `budget - sum_s min(n_s, L)` (strictly fewer rows than there are
    * unsaturated sources) is handed out +1 each to the unsaturated
    * sources with the most documents (ties -> source name asc). Pure
    * integer math on a `Seq` of per-source counts — the standard
    * max-min fair allocation, deterministic in any engine.
    *
    * A negative or zero budget is rejected; a budget >= the corpus
    * keeps everything (`quota_s = n_s`).
    */
  private[graft] def waterFill(counts: Seq[(String, Long)],
      budget: Long): Map[String, Long] = {
    require(budget > 0, s"sourceQuota: budget must be positive, got $budget")
    require(counts.forall(_._2 >= 0),
      s"sourceQuota: negative per-source count in $counts")
    val total = counts.map(_._2).sum
    if (total <= budget) return counts.toMap
    val sorted = counts.sortBy { case (s, n) => (n, s) }
    val m = sorted.size
    // walk sources ascending by count; c = docs owned by sources
    // already fully under the water line
    var c = 0L
    var j = 0
    var level = 0L
    var done = false
    while (!done && j < m) {
      val cand = (budget - c) / (m - j) // floor; operands nonneg
      if (cand < sorted(j)._2) { level = cand; done = true }
      else { c += sorted(j)._2; j += 1 }
    }
    // total > budget guarantees the loop broke before exhausting m
    val leftover = budget - (c + (m - j) * level)
    val bumped = sorted.drop(j) // exactly the sources with n > level
      .sortBy { case (s, n) => (-n, s) }
      .take(leftover.toInt).map(_._1).toSet
    counts.map { case (s, n) =>
      s -> (math.min(n, level) + (if (bumped(s)) 1L else 0L))
    }.toMap
  }

  /** Per-source quota plan: `(source, n_docs, quota)` under the exact
    * [[waterFill]] allocation of `budget` total documents. The
    * per-source count table is ONE map-side-combined aggregation and
    * the collect is bounded by |sources| (guarded by
    * `graft.maxFitLevels`, same discipline as every fitted map) — the
    * corpus itself never funnels anywhere.
    */
  def sourceQuotaPlan(df: DataFrame, sourceCol: String,
      budget: Long): DataFrame = {
    val spark = df.sparkSession
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"))
    val cap = graft.core.Limits.maxFitLevels(spark)
    val rows = counts.limit(cap + 1).collect()
    if (rows.length > cap)
      graft.core.Limits.levelCapError("sourceQuotaPlan", cap,
        s"distinct $sourceCol values")
    val seq = rows.toSeq.map(r =>
      (Option(r.get(0)).map(_.toString).orNull, r.getLong(1)))
    require(seq.forall(_._1 != null),
      s"sourceQuotaPlan: null $sourceCol (filter or impute first)")
    val quota = waterFill(seq, budget)
    import spark.implicits._
    val nBySource = seq.toMap
    quota.toSeq.map { case (s, q) => (s, nBySource(s), q) }
      .sortBy(_._1).toDF(sourceCol, "n_docs", "quota")
  }

  /** Apply [[sourceQuotaPlan]]: keep each source's first `quota`
    * documents in `idCol` order (the deterministic per-source rank —
    * a window PARTITIONED by source, so no global sort and no hot
    * task beyond the largest single source's kept prefix). Adds
    * `src_rank` (0-based rank within source). Down-weighting
    * over-represented sources to a global document budget is the
    * standard mixture-capping step before training-data export.
    */
  def sourceQuota(df: DataFrame, sourceCol: String, idCol: String,
      budget: Long): DataFrame = {
    require(!df.columns.contains("src_rank"),
      "sourceQuota: input already has a 'src_rank' column")
    val spark = df.sparkSession
    val quotas: Map[String, Long] =
      sourceQuotaPlan(df, sourceCol, budget).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col(idCol))
    df.withColumn("src_rank",
        row_number().over(w).cast("long") - lit(1L))
      .filter(col("src_rank") <
        element_at(typedLit(quotas), col(sourceCol)))
  }

  def pairPartners(df: DataFrame, idCol: String, epoch: Int)
      : DataFrame = {
    // validate BEFORE the shuffle: at 10^9 rows the epoch rank is a
    // full range-shuffle + checkpoint job — a detectable-up-front
    // collision must not cost one
    val partnerCol = s"partner_$idCol"
    require(!df.columns.contains(partnerCol) &&
      !df.columns.contains("pair_id"),
      s"pairPartners: input already has a '$partnerCol'/'pair_id' column")
    val ranked = epochShuffle(df, idCol, epoch)
    val index = ranked.select(
      col(idCol).as(partnerCol),
      col("shuffle_pos").bitwiseXOR(lit(1L)).as("__ppos"))
    ranked
      .join(index, col("shuffle_pos") === col("__ppos"), "left")
      .drop("__ppos")
      .withColumn("pair_id", expr("shuffle_pos div 2L"))
  }
}

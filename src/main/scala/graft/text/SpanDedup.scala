package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel

import graft.core.DriverFinish
import graft.dedup.Dedup

/** Exact substring (duplicated n-gram span) deduplication, the
  * "ExactSubstr" method of Lee et al. 2022, *Deduplicating Training
  * Data Makes Language Models Better* — at token granularity: any
  * n-token window that occurs >= `minCount` times ANYWHERE in the
  * corpus (across documents or repeated within one) marks its token
  * span as duplicated; overlapping/adjacent marked windows merge into
  * maximal spans, which can then be reported or cut out of the text.
  *
  * The paper runs a suffix array over the concatenated corpus on one
  * big machine; that shape does not distribute. This is the
  * relational re-expression: the same duplicated-window relation is
  * computable as (n-gram rows) -> (global count) -> (join back), all
  * hash-partitioned — the standard fixed-length-window approximation
  * of suffix-array substring dedup (a duplicated substring of length
  * >= n tokens is ALWAYS caught; shorter ones are deliberately below
  * the threshold, exactly like the paper's min-match-length of 50
  * BPE tokens).
  *
  * Scale shape (100 TB):
  *   - n-gram rows come from a PER-PARTITION JVM KERNEL (round 6):
  *     each document's grams are built inside its scan task — a
  *     map-only pass with NO exchange and per-task memory bounded by
  *     one document's tokens (immune to hot-KEY skew by construction:
  *     documents are bounded, keys are not);
  *   - the gram frame is computed ONCE per operator call and persisted
  *     (MEMORY_AND_DISK) for the duration of the query: the
  *     posexplode + window + md5 gram pass is the dominant cost of the
  *     whole operator family, and every public op here consumes the
  *     gram relation at least twice (global count + join back).
  *     Without the persist, exchange reuse would still share the
  *     shuffle WRITE, but the window sort + per-window md5 would run
  *     once per consumer. The cache registers with the session's
  *     CacheManager and stays until `spark.catalog.clearCache()` (the
  *     same contract as [[graft.Flagship.features]]'s fit-input
  *     cache) — a production job drops it after materializing its
  *     output;
  *   - the duplicate-gram table is a map-side-combined count over
  *     int64 gram hashes (never gram text) with an early
  *     `count >= minCount` filter — its exchange carries
  *     |distinct grams| x |partitions| at most, and the surviving
  *     dup-gram set is tiny (true duplication is rare);
  *   - the join back to (doc, pos) is an equi-join on the int64 hash;
  *   - span merge is a per-doc lag/sum window over the few marked
  *     positions — bounded by marked windows per document;
  *   - a batch whose gram rows fit the driver bound skips the count,
  *     join and window: [[duplicatedSpans]] brings the persisted grams
  *     to the driver in ONE bounded collect
  *     ([[graft.core.DriverFinish]]) and merges there; past the bound,
  *     the plan above reads the gram cache that collect built.
  *
  * Gram identity is `md5` folded to 60 bits
  * ([[graft.dedup.Dedup.md5Hash60]]) so external engines reproduce it
  * exactly; 60-bit collisions at corpus scale are ~n^2/2^61 — document
  * the false-merge risk rather than shuffling gram strings.
  *
  * Doc ids must be UNIQUE (the per-doc window contract: two rows
  * sharing an id would interleave their token positions in one
  * window partition and produce phantom grams).
  */
object SpanDedup {

  /** `(doc_id, pos, gram_hash)` rows: the n-token window starting at
    * token `pos` (0-based), hashed — computed by a PER-PARTITION JVM
    * KERNEL (round 6): tokens, window strings and the md5-folded gram
    * ids are produced in one tight loop inside each document's scan
    * task, so the expensive pass is MAP-ONLY (the previous shape
    * posexploded every token and shuffled them all into a per-doc
    * window before `lead` could assemble grams; an interpreted
    * higher-order-function projection measured slower still). Gram
    * identity is unchanged: md5 of the space-joined window, folded to
    * the first 15 hex digits ([[Dedup.md5Hash60]] — here the same 60
    * bits taken straight from the digest bytes), so downstream
    * aggregations and every oracle replay see identical int64 ids.
    */
  private[graft] def gramRows(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span dedup needs n >= 2, got $n")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val in = Dedup.spreadForKernel(
      df.select(col(idCol), col(textCol).cast("string")))
    val idf = in.schema.head
    // ONE row per document carrying the primitive gram-hash array;
    // the codegen'd posexplode below expands it to (pos, hash) rows —
    // emitting gram ROWS straight from the kernel paid a per-row
    // encoder round trip that showed up at the 10x scale (sf1 span
    // kernel), while a long[] encodes as one primitive-array copy
    val schema = StructType(Seq(
      StructField("doc_id", idf.dataType, idf.nullable),
      StructField("__gs", ArrayType(LongType, containsNull = false),
        nullable = false)))
    in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { r =>
        val text = if (r.isNullAt(1)) null else r.getString(1)
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1)
          if (toks.length < n) Iterator.empty
          else {
            val gs = new Array[Long](toks.length - n + 1)
            val sb = new java.lang.StringBuilder
            var p = 0
            while (p < gs.length) {
              sb.setLength(0)
              var j = 0
              while (j < n) {
                if (j > 0) sb.append(' ')
                sb.append(toks(p + j)); j += 1
              }
              md.reset()
              val d = md.digest(sb.toString
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              // first 15 hex digits = first 7 bytes + the high nibble
              // of the 8th — exactly conv(substring(hex, 1, 15), 16, 10)
              var v = 0L
              var b = 0
              while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
              gs(p) = (v << 4) | ((d(7) & 0xffL) >>> 4)
              p += 1
            }
            Iterator.single(Row(r.get(0), gs.toSeq))
          }
        }
      }
    }(Encoders.row(schema))
      .select(col("doc_id"),
        posexplode(col("__gs")).as(Seq("__pos", "__g")))
  }

  /** `(doc_id, pos)` start positions of duplicated n-gram windows
    * given an (ideally persisted) gram frame: windows whose gram
    * occurs >= `minCount` times corpus-wide.
    */
  private[graft] def dupStartsFromGrams(grams: DataFrame,
      minCount: Long): DataFrame = {
    val dup = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("__g"))
    grams.join(dup, "__g").select(col("doc_id"), col("__pos"))
  }

  /** Maximal duplicated token spans per document:
    * `(doc_id, span_start, span_end)` (0-based token indices, both
    * inclusive), where overlapping OR adjacent duplicated windows
    * (next start within `n` tokens of the previous start) merge into
    * one span. All windows are length n, so starts alone decide
    * mergeability — no max-end bookkeeping needed.
    *
    * Small path: when the persisted gram rows fit the driver bound
    * ([[graft.core.DriverFinish]]: `spark.sql.autoBroadcastJoinThreshold`
    * bytes, 32 B per `(doc_id, pos, gram)` UnsafeRow, so ~330k grams at
    * the 10 MB default), ONE bounded collect brings them to the driver,
    * which counts the gram ids, merges each document's duplicated starts
    * and returns a local frame with the distributed path's schema and
    * rows. Integral doc ids only take this path
    * ([[graft.core.DriverFinish.isIntegral]]). Otherwise, or past the
    * bound, the distributed plan below reads the same gram cache the
    * collect built, so no gram is computed twice.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2L): DataFrame =
    DriverFinish.described(df.sparkSession, "text.spans") {
      val grams = gramRows(df, idCol, textCol, n)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dist = spansFromStarts(dupStartsFromGrams(grams, minCount), n)
      val idType = grams.schema("doc_id").dataType
      val local =
        if (!DriverFinish.isIntegral(idType)) None
        else DriverFinish.collect(grams, "text.spans")
      local.fold(dist)(rows => DriverFinish.frame(df.sparkSession,
        dist.schema, localSpans(rows, idType, n, minCount)))
    }

  /** The distributed span merge over `(doc_id, __pos)` starts. */
  private def spansFromStarts(starts: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("__pos"))
    starts
      // first row of a doc: lag is null -> comparison null -> break
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(w) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__isl", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + n - 1).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** [[spansFromStarts]] on the driver, over collected
    * `(doc_id, __pos, __g)` gram rows.
    */
  private def localSpans(grams: Seq[InternalRow], idType: DataType,
      n: Int, minCount: Long): Seq[InternalRow] = {
    val sorted = grams.iterator.map(_.getLong(2)).toArray
    java.util.Arrays.sort(sorted)
    // the gram ids occurring >= minCount times, ascending
    val dup = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      if (j - i >= minCount) dup += sorted(i)
      i = j
    }
    val dups = dup.result()
    // duplicated starts per doc (a null doc id is one group, as in
    // the window partitioning)
    val starts = scala.collection.mutable.HashMap
      .empty[Option[Long], scala.collection.mutable.ArrayBuilder[Int]]
    grams.foreach { r =>
      if (java.util.Arrays.binarySearch(dups, r.getLong(2)) >= 0) {
        val key = Option.unless(r.isNullAt(0))(
          DriverFinish.keyAt(r, 0, idType))
        starts.getOrElseUpdate(key,
          scala.collection.mutable.ArrayBuilder.make[Int]) += r.getInt(1)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    for ((key, b) <- starts) {
      val pos = b.result()
      java.util.Arrays.sort(pos)
      val id = key.map(DriverFinish.key(_, idType)).orNull
      var first = 0
      var k = 1
      while (k <= pos.length) {
        if (k == pos.length || pos(k).toLong - pos(k - 1) > n) {
          out += InternalRow(id, pos(first).toLong,
            pos(k - 1).toLong + n - 1)
          first = k
        }
        k += 1
      }
    }
    out.toSeq
  }

  /** Per-document duplication ratio — the RefinedWeb-style novelty
    * quality signal: what fraction of a document's n-token windows
    * occur >= `minCount` times corpus-wide? Boilerplate-heavy and
    * templated pages score high; a curation pass thresholds on it
    * (where [[removeDuplicatedSpans]] CUTS, this MEASURES). One row
    * per document with >= 1 window: `(doc_id, n_windows,
    * n_dup_windows, dup_ratio)`; documents shorter than n tokens
    * have no windows and are absent (nothing to measure).
    *
    * ONE gram pass serves all three aggregates (per-doc totals, the
    * global dup-gram count, and the join-back) via the persisted gram
    * frame — totals and dup starts are derived reads of the cache,
    * not fresh posexplode+window scans.
    */
  def duplicationRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2L): DataFrame = {
    val grams = gramRows(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-doc window total is a PROJECTION off the document row, not
    // an aggregation over gram rows (round 6): the kernel emits
    // exactly `len(split(text)) - n + 1` windows for every non-null
    // text with >= n tokens and none otherwise, so the groupBy that
    // used to shuffle one row per (doc, partition) is a closed-form
    // length expression. Ids are unique by the operator contract
    // (same contract the per-doc window relies on); equivalence is
    // spec-pinned against the aggregation form.
    val totals = df
      .filter(col(textCol).isNotNull &&
        size(split(col(textCol), " ")) >= n)
      .select(col(idCol).as("doc_id"),
        (size(split(col(textCol), " ")) - (n - 1)).cast("long")
          .as("n_windows"))
    val dups = dupStartsFromGrams(grams, minCount)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
      .withColumnRenamed("doc_id", "__dd")
    totals
      .join(dups, col("doc_id") <=> col("__dd"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
          col("n_windows")).as("dup_ratio"))
  }

  /** The corpus with duplicated spans CUT OUT: every token covered by
    * a duplicated n-gram window is dropped and the remaining tokens
    * re-joined with single spaces. Output:
    * `(doc_id, n_tokens_removed, clean_text)` — one row per input
    * document (a fully-duplicated document survives with
    * `clean_text = ''`).
    *
    * The gram frame is persisted (read twice by the dup-start
    * derivation); the token rows for the kept-token reassembly are a
    * separate cheap posexplode projection over the same scan (round
    * 6: grams come from the per-partition kernel, so the old token
    * persist had a single consumer left and was dropped). Coverage
    * expansion explodes each marked start into its n covered
    * positions (bounded n-fold blowup of the TINY dup-start set, not
    * of the corpus); the anti-join drops covered tokens; per-doc
    * reassembly sorts the surviving (pos, token) pairs inside one
    * array — bounded by document length.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String,
      textCol: String, n: Int, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val grams = gramRows(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 6: the reassembly no longer explodes the corpus into
    // token rows at all. The old shape anti-joined EVERY token against
    // the covered-position set and re-sorted each document's survivors
    // through a collect_list aggregation — two corpus-sized exchanges
    // to delete a handful of spans. The duplicated-start set is tiny
    // (true duplication is rare), so: aggregate each doc's start
    // positions into one sorted array (exchange bounded by MARKED
    // windows only), join that to the document row (null-safe — the
    // gram relation groups a null doc_id too), and cut spans in a
    // per-row kernel walk over the text's tokens. Output values are
    // bit-identical: same split(" ", -1) tokens, survivors re-joined
    // with single spaces in position order, `total - kept` arithmetic.
    val starts = dupStartsFromGrams(grams, minCount)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
      .withColumnRenamed("doc_id", "__kd")
    // plain === (NOT <=>): a null doc_id never matches its starts, so
    // a null-id document keeps every token — exactly the old
    // anti-join's null-key semantics (equi anti-join on a null key
    // matches nothing, so no token of a null-id doc was ever covered);
    // the left join still carries the row through, so it is accounted
    // (n_tokens_removed = 0), not reported fully-removed
    val joined = df
      .select(col(idCol).as("doc_id"),
        col(textCol).cast("string").as("__text"))
      .join(starts, col("doc_id") === col("__kd"), "left")
      .select(col("doc_id"), col("__text"), col("__starts"))
    val idf = joined.schema.head
    val schema = StructType(Seq(
      StructField("doc_id", idf.dataType, idf.nullable),
      StructField("n_tokens_removed", LongType, nullable = true),
      StructField("clean_text", StringType, nullable = false)))
    joined.mapPartitions { it =>
      it.map { r =>
        val text = if (r.isNullAt(1)) null else r.getString(1)
        if (text == null) Row(r.get(0), 0L, "")
        else {
          val toks = text.split(" ", -1)
          if (r.isNullAt(2)) {
            // no duplicated window in this doc: all tokens survive
            Row(r.get(0), 0L, String.join(" ", toks: _*))
          } else {
            val st = r.getSeq[Int](2)
            val sb = new java.lang.StringBuilder
            var idx = 0
            var coverEnd = -1L
            var kept = 0
            var p = 0
            while (p < toks.length) {
              while (idx < st.length && st(idx) <= p) {
                val e = st(idx).toLong + (n - 1)
                if (e > coverEnd) coverEnd = e
                idx += 1
              }
              if (p > coverEnd) {
                if (kept > 0) sb.append(' ')
                sb.append(toks(p))
                kept += 1
              }
              p += 1
            }
            Row(r.get(0), (toks.length - kept).toLong, sb.toString)
          }
        }
      }
    }(Encoders.row(schema))
  }
}

package graft.dedup

import graft.core.{DriverFinish, Lineage}
import graft.io.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted MinHash-LSH dedup index for INCREMENTAL ingestion: at
  * corpus scale you cannot re-shingle and re-hash 100 TB every time a
  * new crawl batch arrives. The index stores each document's LSH band
  * buckets `(id, band, bh)` — a few dozen small ints per document —
  * through [[graft.io.SnapshotStore]] (checkpointed, lineage-verified,
  * resumable, snapshot-scoped); deduping a new batch then costs:
  * signatures for the BATCH only, one equi-join of its band rows
  * against the stored rows, and exact-Jaccard verification that reads
  * corpus text ONLY for the matched candidate ids (a semi-join-
  * restricted scan, not a corpus pass).
  *
  * Cost honesty: no per-batch step exchanges a stored relation while the
  * batch fits under `spark.sql.autoBroadcastJoinThreshold`. `appendBatch`
  * is a fast append: it writes only the batch's band rows and adds them to
  * the touched buckets' manifest entries, so stored band files are never
  * rewritten. When the batch's ids lie above every stored id (the index
  * tracks per-bucket id bounds) it is ONE Spark job, the write, which
  * computes the new rows' lineage as it writes them; its replay guard
  * reads no stored row. A batch whose ids overlap a bucket's range has that
  * bucket scanned map-side after the write, and a bucket holding replayed
  * band rows is rewritten without them.
  * `batchNearDups` on a batch that fits runs at most three Spark actions,
  * reads the batch once and finishes on the driver: it collects the batch's
  * band rows together with its texts, collects the stored band rows sharing
  * a bucket with them in ONE map-side scan of the stored bands, and
  * collects the corpus texts of the candidates outside the batch in ONE
  * map-side scan of the corpus; the driver pairs, verifies and returns a
  * local frame. Nothing is persisted, checkpointed or left to release.
  * Driver memory: each of the three collects is the engine's one bounded
  * collect ([[graft.core.DriverFinish]]: the driver receives at most the
  * threshold's bytes of UnsafeRows), pairing and verification are the
  * one-shot path's own driver finish ([[Dedup.Buckets]],
  * [[Dedup.jaccardLocal]]), and the candidate pairs are capped at the
  * threshold over 32 bytes (the size of the broadcast of both their ids);
  * boxed on the driver the rows take a small multiple of those bytes. A
  * batch any of whose pieces is larger (or a session with the threshold at
  * -1) falls back to a shuffle plan: batch band rows and candidates
  * materialised, stored bands and texts joined by the planner's rule
  * (broadcast when they fit, shuffle otherwise). Either way the two scans
  * read every stored band row and every corpus text once per batch: the
  * probe is O(stored) in I/O, O(batch) in shuffle.
  * `SnapshotStore.rewriteSnapshot` folds the per-append band
  * directories back into one per bucket.
  *
  * The arithmetic is identical to the one-shot [[Dedup]] path (same
  * signatures, same banding), so indexed incremental dedup returns
  * EXACTLY the pairs a from-scratch run over corpus+batch would
  * return for pairs touching the batch — spec-asserted, and the q93
  * oracle certifies it against the exhaustive all-pairs truth.
  */
object MinhashIndex {

  final case class Params(shingleSize: Int = 3, numHashes: Int = 32,
      bands: Int = 8)

  private val NBuckets = 16
  private def bandsRoot(root: String) = s"$root/bands"
  // the store's documented default bucketing — via byKey so a future
  // hashing tweak there can't silently diverge from this index
  private def bucketExpr =
    graft.io.SnapshotStore.byKey("id", NBuckets)

  private def writeParams(root: String, p: Params): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "minhash_params.txt"),
      s"${p.shingleSize},${p.numHashes},${p.bands}")
  }

  def params(root: String): Params = {
    val Array(s, n, b) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "minhash_params.txt"))
      .trim.split(",").map(_.toInt)
    Params(s, n, b)
  }

  /** Ids must be integral: a silent cast of string/UUID ids would
    * null them out and make every join quietly return nothing.
    */
  private def requireIntegralId(docs: DataFrame, idCol: String): Unit =
    require(DriverFinish.isIntegral(docs.schema(idCol).dataType),
      s"MinhashIndex requires an integral id column, got $idCol: " +
        s"${docs.schema(idCol).dataType}" +
        " (hash non-numeric ids to int64 first, e.g. xxhash64)")

  private def bandRowsOf(docs: DataFrame, idCol: String,
      textCol: String, p: Params): DataFrame = {
    requireIntegralId(docs, idCol)
    Dedup.bandRows(docs, idCol, textCol, p.shingleSize, p.numHashes,
      p.bands)
      .select(col("__id").cast("long").as("id"), col("band"), col("bh"))
  }

  /** Build the index from an initial corpus (one signature pass). The
    * manifest tracks per-bucket id bounds, which let [[appendBatch]]'s
    * replay guard skip every bucket a batch of newer ids lands in.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      root: String, p: Params = Params())
      : SnapshotStore.WriteResult = {
    writeParams(root, p)
    SnapshotStore.write(bandRowsOf(docs, idCol, textCol, p),
      bandsRoot(root), bucketExpr, statsCols = Seq("id"))
  }

  /** Stored band rows at the latest (or a pinned) snapshot. */
  def bands(spark: SparkSession, root: String,
      snapshot: Option[Int] = None): DataFrame =
    SnapshotStore.read(spark, bandsRoot(root), snapshot)

  /** Absorb a batch: its band rows are appended as a new snapshot
    * (only the touched buckets gain a file; the rest carry by
    * reference). Call AFTER deduping the batch, with the survivors.
    * A replayed append (failure recovery) converges: band rows already
    * stored are dropped first.
    */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
      root: String): SnapshotStore.WriteResult =
    SnapshotStore.append(bandRowsOf(batch, idCol, textCol, params(root)),
      bandsRoot(root), bucketExpr)

  /** Verified near-dup pairs TOUCHING THE BATCH: batch-vs-corpus pairs
    * (via the stored index — the corpus is never re-signatured) plus
    * batch-internal pairs. `corpus` supplies text for verification and
    * is read only for candidate ids. Output (id_a, id_b, jaccard),
    * id_a < id_b, each pair once; ids globally unique across corpus and
    * batch, except that a redone batch may repeat ids (with their
    * text) already in `corpus` and in the index. The returned frame
    * holds its rows (a driver-built local frame, or locally
    * checkpointed on the shuffle path) and leaves nothing to release.
    * The chosen path and its sizes are logged, one line per call.
    */
  def batchNearDups(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, root: String, threshold: Double): DataFrame = {
    val (pairs, stats) = probe(batch, corpus, idCol, textCol, root,
      threshold)
    log.info(stats.toString)
    pairs
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** What one probe did: `path` is `local` or `shuffle` (`reason`
    * names the piece whose size sent it there: `threshold_off`,
    * `batch_bands`, `candidates`, `stored_bands` or `texts`; `fits` on
    * the local path), `bandRows` counts the batch's band rows, whose
    * bytes are logged against `limitBytes` (the session's
    * `spark.sql.autoBroadcastJoinThreshold`), `candidates` and
    * `verified` count pairs.
    */
  private[graft] final case class ProbeStats(path: String, reason: String,
      bandRows: Long, limitBytes: Long, candidates: Long, verified: Long) {
    override def toString: String =
      s"minhash.probe path=$path reason=$reason band_rows=$bandRows " +
        s"band_bytes=${bandRows * BandRowBytes} limit_bytes=$limitBytes " +
        s"candidates=$candidates verified=$verified"
  }

  /** UnsafeRow bytes of one `(id, band, bh)` band row, and of one
    * candidate pair as the shuffle path's broadcast of its two ids
    * holds it.
    */
  private val BandRowBytes = 32L
  private val PairBytes = 32L

  private[graft] def probe(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, root: String, threshold: Double)
      : (DataFrame, ProbeStats) = {
    // the batch side is guarded inside bandRowsOf; the corpus text
    // side is cast below and would silently null out non-integral ids
    // (dropping every batch-vs-corpus pair from the output)
    requireIntegralId(corpus, idCol)
    val spark = batch.sparkSession
    val limit = DriverFinish.limit(spark)
    val local =
      if (limit <= 0) Left("threshold_off")
      else localProbe(batch, corpus, idCol, textCol, root, threshold, limit)
    local match {
      case Right(done) => done
      case Left(reason) =>
        DriverFinish.described(spark, "minhash.probe: shuffle") {
          shuffleProbe(batch, corpus, idCol, textCol, root, threshold,
            limit, reason)
        }
    }
  }

  /** The probe finished on the driver, for a batch whose pieces each
    * fit in `limit` bytes: ONE job reads the batch once and collects
    * its band rows with its texts ([[batchRowsOf]]), ONE map-side scan
    * of the stored bands collects the stored rows sharing a bucket
    * with them (the driver pairs those up, together with the
    * batch-internal pairs), and ONE scan of the corpus collects the
    * texts of the candidates the batch does not hold ([[Dedup.textsOf]]).
    * The driver pairs with [[Dedup.Buckets]] and verifies with
    * [[Dedup.jaccardLocal]], the one-shot path's own driver finish
    * over the kernels' [[Dedup.shingleSet]] and [[Dedup.jaccard]]. Nothing
    * is persisted, checkpointed or shuffled. Each collect is bounded
    * ([[graft.core.DriverFinish.collect]]) and the candidate pairs are
    * counted as they are built; the first piece over `limit` returns
    * its name instead (the caller then runs [[shuffleProbe]]).
    */
  private def localProbe(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, root: String, threshold: Double,
      limit: Long): Either[String, (DataFrame, ProbeStats)] = {
    val p = params(root)
    val spark = batch.sparkSession
    def collect(piece: String, df: DataFrame) =
      DriverFinish.described(spark, s"minhash.probe: $piece") {
        DriverFinish.collect(df, s"minhash.probe.${piece.replace(' ', '_')}")
      }
    val newBands = collect("batch bands", batchRowsOf(batch, idCol,
      textCol, p)).getOrElse(return Left("batch_bands"))
    val batchText = newBands.filter(_.getInt(1) == 0)
      .map(r => r.getLong(0) ->
        List(if (r.isNullAt(3)) null else r.getUTF8String(3).toString)).toMap
    val buckets = new Dedup.Buckets(p.bands,
      newBands.iterator.map(r => (r.getInt(1), r.getLong(2), r.getLong(0))))
    val cands = new Dedup.Pairs(limit / PairBytes)
    if (!buckets.pairUp(cands)) return Left("candidates")
    if (newBands.nonEmpty) {
      // the sorted keys travel in the task closure: each task reads its
      // own copy, with no broadcast to look up per row or release
      val bhs = buckets.bhs
      val hit = udf((band: Int, bh: Long) => band >= 0 &&
        band < bhs.length && java.util.Arrays.binarySearch(bhs(band), bh) >= 0)
      val stored = collect("stored bands", bands(spark, root)
        .filter(hit(col("band"), col("bh")))
        .select(col("id"), col("band"), col("bh")))
      for (r <- stored.getOrElse(return Left("stored_bands")))
        if (!buckets.pairWith(r.getInt(1), r.getLong(2), r.getLong(0), cands))
          return Left("candidates")
    }
    // a redone batch repeats corpus ids; their text is the same, so the
    // batch's copy serves and the corpus scan skips them
    val pairs = cands.all
    val corpusIds = pairs.flatMap(c => Array(c._1, c._2))
      .filterNot(batchText.contains).distinct.sorted
    val text = DriverFinish.described(spark, "minhash.probe: verify") {
      Dedup.textsOf(corpus, idCol, textCol, corpusIds, "minhash.probe.verify")
    }.getOrElse(return Left("texts")) ++ batchText
    val verified = Dedup.jaccardLocal(pairs, text, p.shingleSize, threshold)
    Right((DriverFinish.frame(spark, PairsSchema,
      verified.map { case (a, b, j) => InternalRow(a, b, j) }),
      ProbeStats("local", "fits", newBands.length, limit, pairs.length,
        verified.size)))
  }

  /** The batch's `(id, band, bh, text)` band rows in one pass, the
    * band-0 row of each document carrying its text (`text` null on the
    * others; a document without band rows can be in no pair). The id
    * and text ride [[Dedup.bandRows]] as its id column.
    */
  private def batchRowsOf(batch: DataFrame, idCol: String,
      textCol: String, p: Params): DataFrame = {
    requireIntegralId(batch, idCol)
    val doc = struct(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
    Dedup.bandRows(batch.select(doc.as("__doc"), col(textCol)), "__doc",
        textCol, p.shingleSize, p.numHashes, p.bands)
      .select(col("__id.id").as("id"), col("band"), col("bh"),
        when(col("band") === 0, col("__id.text")).as("text"))
  }

  /** The probe's output schema on both paths. */
  private val PairsSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("jaccard", DoubleType)))

  /** The probe as a shuffle plan, for a batch some piece of which does
    * not fit in `limit` bytes: the batch's band rows and candidate
    * pairs are materialised first, so the planner sees their real size
    * (and still broadcasts what fits into the stored-band and corpus
    * scans); otherwise the stored bands and texts are joined by
    * shuffle. The candidates are staged ([[Lineage.Scope.stage]]:
    * durable when a checkpoint dir is set). The verified pairs come
    * back cut, and every intermediate is released before returning,
    * the durable candidate copy included.
    */
  private def shuffleProbe(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, root: String, threshold: Double,
      limit: Long, reason: String): (DataFrame, ProbeStats) =
    Lineage.scoped { sc =>
      val p = params(root)
      val spark = batch.sparkSession
      val (newBands, bandRows) =
        sc.materialise(bandRowsOf(batch, idCol, textCol, p))
      val vsCorpus = bands(spark, root)
        .select(col("id").as("old_id"), col("band"), col("bh"))
        .join(newBands, Seq("band", "bh"))
        .filter(col("id") =!= col("old_id"))
        .select(least(col("id"), col("old_id")).as("id_a"),
          greatest(col("id"), col("old_id")).as("id_b"))
      val a = newBands.select(col("id").as("id_a"), col("band"), col("bh"))
      val b = newBands.select(col("id").as("id_b"), col("band"), col("bh"))
      val within = a.join(b, Seq("band", "bh"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      // three consumers read the candidate pairs (the id restriction
      // and both verify joins); with a checkpoint dir set they are
      // written there, so a lost executor does not fail the query
      val cands = sc.stage(vsCorpus.unionByName(within).distinct())
      // candidate ids are bounded by the LSH collision count (repeats
      // are harmless on the build side of a semi-join)
      val candIds = cands.select(col("id_a").as("cid"))
        .unionByName(cands.select(col("id_b").as("cid")))
      // a redone batch repeats corpus ids: one text per id, so each
      // pair is verified once
      val (texts, _) = sc.materialise(corpus
        .select(col(idCol).cast("long").as(idCol), col(textCol))
        .unionByName(batch
          .select(col(idCol).cast("long").as(idCol), col(textCol)))
        .join(broadcast(candIds), col(idCol) === col("cid"), "left_semi")
        .dropDuplicates(idCol))
      val pairs = Lineage.cut(Dedup.verifyJaccard(cands, texts, idCol,
        textCol, threshold, p.shingleSize))
      (pairs, ProbeStats("shuffle", reason, bandRows, limit, cands.count(),
        pairs.count()))
    }
}

package graft.dedup

import graft.io.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Cost honesty: no per-batch step exchanges a stored relation while
  * the batch fits under `spark.sql.autoBroadcastJoinThreshold`.
  * `appendBatch` is a fast append: it writes only the batch's band
  * rows and adds them to the touched buckets' manifest entries, so
  * stored band files are never rewritten. Its replay guard reads no
  * stored row when the batch's ids lie above every stored id (the
  * index tracks per-bucket id bounds); a batch whose ids overlap a
  * bucket's range has that bucket scanned map-side. `batchNearDups`
  * materialises the batch's band rows and candidate pairs first, so
  * the planner sees their real size and broadcasts them into ONE
  * map-side scan of the stored bands and ONE of the corpus text. A
  * larger batch falls back to a shuffle join of the stored bands
  * through the same planner rule. Those two scans still read every
  * stored band row and every corpus text once per batch: the probe is
  * O(stored) in I/O, O(batch) in shuffle.
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
  private def requireIntegralId(docs: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok,
      s"MinhashIndex requires an integral id column, got $idCol: " +
        s"${docs.schema(idCol).dataType}" +
        " (hash non-numeric ids to int64 first, e.g. xxhash64)")
  }

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
    * is read only for candidate ids (semi-join restriction). Output
    * (id_a, id_b, jaccard), id_a < id_b, ids globally unique across
    * corpus and batch. The pairs come back locally checkpointed (a
    * result bounded by the batch's verified pairs, whose blocks the
    * ContextCleaner frees with the frame), and every intermediate is
    * released before returning, the durable candidate copy included.
    */
  def batchNearDups(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, root: String, threshold: Double): DataFrame = {
    val (pairs, release) =
      batchNearDupsRaw(batch, corpus, idCol, textCol, root, threshold)
    // the verified pairs are materialised before the intermediates
    // they are computed from are released
    try pairs.localCheckpoint(true) finally release()
  }

  /** [[batchNearDups]] before its final materialisation: the lazy
    * verified pairs plus the release of the intermediates they read.
    * The caller must materialise the pairs before calling the release.
    * Plan-shape checks run on this frame, whose plan still shows the
    * stored-band and corpus scans (a checkpointed frame's plan is an
    * RDD scan).
    */
  private[graft] def batchNearDupsRaw(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, root: String, threshold: Double)
      : (DataFrame, () => Unit) = {
    // the batch side is guarded inside bandRowsOf; the corpus text
    // side is cast below and would silently null out non-integral ids
    // (dropping every batch-vs-corpus pair from the output)
    requireIntegralId(corpus, idCol)
    val p = params(root)
    val spark = batch.sparkSession
    val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    val release = () => held.reverseIterator.foreach(_())
    try {
      // materialised intermediates report their real size, so the
      // planner broadcasts them into the stored scans below
      val newBands = materialise(bandRowsOf(batch, idCol, textCol, p),
        held)
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
      val cands = checkpointed(vsCorpus.unionByName(within).distinct(),
        held)
      // candidate ids are bounded by the LSH collision count (repeats
      // are harmless on the build side of a semi-join)
      val candIds = cands.select(col("id_a").as("cid"))
        .unionByName(cands.select(col("id_b").as("cid")))
      val texts = materialise(corpus
        .select(col(idCol).cast("long").as(idCol), col(textCol))
        .unionByName(batch
          .select(col(idCol).cast("long").as(idCol), col(textCol)))
        .join(broadcast(candIds), col(idCol) === col("cid"), "left_semi"),
        held)
      (Dedup.verifyJaccard(cands, texts, idCol, textCol,
        threshold, p.shingleSize), release)
    } catch { case e: Throwable => release(); throw e }
  }

  /** Persist and count `df` (its real size then reaches the planner);
    * its release joins `held`.
    */
  private def materialise(df: DataFrame,
      held: scala.collection.mutable.Buffer[() => Unit]): DataFrame = {
    val m = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    held += (() => { m.unpersist(false); () })
    m.count()
    m
  }

  /** [[materialise]], except that with a checkpoint dir set the rows
    * are written as parquet under it and read back (a durable copy a
    * lost executor cannot take with it); the release deletes them.
    */
  private def checkpointed(df: DataFrame,
      held: scala.collection.mutable.Buffer[() => Unit]): DataFrame = {
    val spark = df.sparkSession
    spark.sparkContext.getCheckpointDir match {
      case None => materialise(df, held)
      case Some(dir) =>
        val path = new org.apache.hadoop.fs.Path(dir,
          s"graft-minhash-cands-${java.util.UUID.randomUUID()}")
        held += (() => {
          path.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(path, true)
          ()
        })
        df.write.parquet(path.toString)
        spark.read.parquet(path.toString)
    }
  }
}

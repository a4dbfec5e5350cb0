package graft.multimodal

import graft.io.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-hash near-dup index for INCREMENTAL image
  * ingestion — the image-side twin of [[graft.dedup.MinhashIndex]].
  * At 10^12-image scale a new crawl batch cannot re-scan the corpus:
  * the index stores each image's pigeonhole band rows
  * `(id, phash, band, bits)` — four 17-byte rows per image for the
  * default 4 bands — through [[graft.io.SnapshotStore]]
  * (checkpointed, lineage-verified, resumable); querying a batch then
  * costs band rows for the BATCH only plus one equi-join against the
  * stored rows.
  *
  * Unlike the MinHash index, verification needs NO corpus access at
  * all: the full 64-bit phash rides in every band row, so exact
  * `bit_count(xor)` runs inside the candidate join — an index query
  * never touches the image table (and `bytes` can never leak into
  * the plan).
  *
  * The banding arithmetic is identical to the one-shot
  * [[Multimodal.phashNearDups]] (same pigeonhole guarantee:
  * maxDist < bands finds EVERY pair within maxDist), so indexed
  * incremental detection returns exactly the pairs a from-scratch run
  * over corpus+batch would return for pairs touching the batch —
  * spec-asserted, and the q208 oracle certifies it against the
  * exhaustive all-pairs truth.
  */
object PhashIndex {

  final case class Params(bands: Int = 4)

  private val NBuckets = 16
  private def bandsRoot(root: String) = s"$root/bands"
  private def bucketExpr = SnapshotStore.byKey("id", NBuckets)

  private def writeParams(root: String, p: Params): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "phash_params.txt"), s"${p.bands}")
  }

  def params(root: String): Params =
    Params(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "phash_params.txt")).trim.toInt)

  /** Integral ids only — a silent cast of string ids would null them
    * out and every join would quietly return nothing (hash non-numeric
    * ids to int64 first, e.g. xxhash64).
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok, s"PhashIndex requires an integral id column, got " +
      s"$idCol: ${df.schema(idCol).dataType}")
  }

  /** The (id, phash, band, bits) band rows of a frame — the same
    * shift/mask extraction as [[Multimodal.phashNearDups]].
    */
  private def bandRowsOf(df: DataFrame, idCol: String,
      phashCol: String, p: Params): DataFrame = {
    requireIntegralId(df, idCol)
    require(p.bands >= 1 && 64 % p.bands == 0,
      s"bands must divide 64, got ${p.bands}")
    val width = 64 / p.bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandCols = (0 until p.bands).map { i =>
      struct(lit(i).as("band"),
        shiftright(col(phashCol), i * width).bitwiseAND(mask).as("bits"))
    }
    df.select(col(idCol).cast("long").as("id"),
        col(phashCol).cast("long").as("phash"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("phash"), col("b.band"), col("b.bits"))
  }

  /** Build the index from an initial corpus (one banding pass). The
    * manifest tracks per-bucket id bounds, which let [[appendBatch]]'s
    * replay guard skip every bucket a batch of newer ids lands in.
    */
  def build(imgs: DataFrame, idCol: String, phashCol: String,
      root: String, p: Params = Params()): SnapshotStore.WriteResult = {
    writeParams(root, p)
    SnapshotStore.write(bandRowsOf(imgs, idCol, phashCol, p),
      bandsRoot(root), bucketExpr, statsCols = Seq("id"))
  }

  /** Stored band rows at the latest (or a pinned) snapshot. */
  def bands(spark: SparkSession, root: String,
      snapshot: Option[Int] = None): DataFrame =
    SnapshotStore.read(spark, bandsRoot(root), snapshot)

  /** Absorb a batch: its band rows are appended as a new snapshot
    * (only the touched buckets gain a file; the rest carry by
    * reference). A replayed append (failure recovery) converges: band
    * rows already stored are dropped first.
    */
  def appendBatch(batch: DataFrame, idCol: String, phashCol: String,
      root: String): SnapshotStore.WriteResult =
    SnapshotStore.append(bandRowsOf(batch, idCol, phashCol, params(root)),
      bandsRoot(root), bucketExpr)

  /** Exact near-dup pairs TOUCHING THE BATCH: batch-vs-corpus (via the
    * stored index — the corpus is never re-banded, never read) plus
    * batch-internal pairs. Output (id_a, id_b, hamming) with
    * id_a < id_b; ids must be globally unique across corpus and batch.
    * Requires maxDist < bands (the pigeonhole completeness guarantee).
    */
  def batchNearDups(batch: DataFrame, idCol: String, phashCol: String,
      root: String, maxDist: Int): DataFrame = {
    val p = params(root)
    require(maxDist >= 0 && maxDist < p.bands,
      s"pigeonhole guarantee needs maxDist < bands, got " +
        s"$maxDist/${p.bands}")
    // both joins below key on (band, bits) off this one repartition,
    // so Spark plans a single banding + exchange and ReusedExchange
    // for the other sides
    val newBands = bandRowsOf(batch, idCol, phashCol, p)
      .repartition(col("band"), col("bits"))
    val stored = bands(batch.sparkSession, root).select(
      col("id").as("old_id"), col("phash").as("old_phash"),
      col("band"), col("bits"))
    val vsCorpus = newBands.join(stored, Seq("band", "bits"))
      .filter(col("id") =!= col("old_id"))
      .select(least(col("id"), col("old_id")).as("id_a"),
        greatest(col("id"), col("old_id")).as("id_b"),
        bit_count(col("phash").bitwiseXOR(col("old_phash")))
          .as("hamming"))
    val a = newBands.select(col("id").as("id_a"),
      col("phash").as("p_a"), col("band"), col("bits"))
    val b = newBands.select(col("id").as("id_b"),
      col("phash").as("p_b"), col("band"), col("bits"))
    val within = a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("p_a").bitwiseXOR(col("p_b"))).as("hamming"))
    vsCorpus.unionByName(within)
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}

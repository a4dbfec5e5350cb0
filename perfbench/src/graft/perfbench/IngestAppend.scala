package graft.perfbench

import graft.dedup.{Components, Dedup, MinhashIndex}
import graft.io.SnapshotStore
import graft.text.SpanDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Incremental caption ingest: each iteration lands a new seeded batch
  * of fixed size, curates it (MinHash-LSH candidates, exact Jaccard
  * verify, component dedup, duplicated spans), probes the survivors
  * against the stored MinHash index for near-dups of published
  * captions, commits the new ones into the caption store's bucket
  * share the batch touches, verifies the snapshot's lineage and
  * appends the new captions to the index. The store and the index are
  * restored to their setup state before each iteration, so every
  * iteration commits the same snapshot numbers over the same paths and
  * costs what the first one did.
  */
final class IngestAppend(spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import IngestAppend._

  final case class Out(pairs: DataFrame, kept: DataFrame,
      spans: Set[(Long, Long, Long)], dups: DataFrame,
      write: SnapshotStore.WriteResult, verifyErrors: Seq[(Int, String)])

  private def p(t: String) = s"$dir/$t"
  private val bucketExpr = SnapshotStore.byKey("id", Buckets)
  private var batch: Batch = _
  private var copies: Set[(Long, Long)] = Set.empty
  private var plannedRows = 0L
  private var baseBandRows = 0L
  private var bytesPerRow = 0.0
  private var writtenShare = 0.0

  def rowsPerIter: Long = BatchDocs

  def setup(): Unit = {
    val s = seed
    import spark.implicits._
    spark.sparkContext.range(0L, StoreDocs, 1L,
        spark.sparkContext.defaultParallelism * 2)
      .map(id => (id, storeText(s, id))).toDF("id", "text")
      .write.parquet(p("in/corpus"))
    val corpus = spark.read.parquet(p("in/corpus"))
    SnapshotStore.write(corpus, p("store"), bucketExpr)
    MinhashIndex.build(corpus, "id", "text", p("index"))
  }

  override def references(): Unit = {
    plannedRows = SnapshotStore.manifest(p("store"), 1)
      .filter(e => Planned.contains(e.bucket)).map(_.rows).sum
    baseBandRows = bandRows()
    Dirs.copy(p("store"), p("pristine/store"))
    Dirs.copy(p("index"), p("pristine/index"))
  }

  override def prepare(iter: Int): Unit = {
    for (d <- Seq("store", "index")) {
      Dirs.delete(p(d))
      Dirs.copy(p(s"pristine/$d"), p(d))
    }
    // new ids, all in the planned buckets
    val ids = Iterator.from(0).map(StoreDocs + 16L * iter * BatchDocs + _)
      .filter(id => Planned.contains(
        java.lang.Math.floorMod(Text.idHash(id), Buckets.toLong).toInt))
      .take(BatchDocs).toIndexedSeq
    // stored captions of at least CopyMinLen tokens, so a copy's
    // Jaccard to its source is at least 0.97 and LSH finds it
    val r = Text.rng(seed, 22, iter)
    val src = Iterator.continually(r.nextLong(StoreDocs)).distinct
      .filter(id => storeText(seed, id).count(_ == ' ') + 1 >= CopyMinLen)
      .take(Copies).toIndexedSeq
    val b = new Batch(seed * 1000003L + iter, ids,
      src.map(storeText(seed, _)), NSpans)
    batch = b
    copies = b.copyIds.map { case (k, id) => (src(k), id) }.toSet
    import spark.implicits._
    spark.sparkContext.parallelize(ids, spark.sparkContext.defaultParallelism)
      .map(id => (id, b.text(id))).toDF("id", "text")
      .write.mode("overwrite").parquet(p("landing/docs"))
  }

  private def bandRows(): Long =
    SnapshotStore.manifest(p("index/bands"),
      SnapshotStore.latestSnapshot(p("index/bands")).get).map(_.rows).sum

  def run(iter: Int, t: Tracer): Out = {
    val docs = t.layer("io.scan")(t.force(spark.read.parquet(p("landing/docs"))))
    val cands = t.layer("dedup.candidates") {
      t.force(Dedup.lshCandidates(docs, "id", "text", Shingle, Hashes, Bands))
    }
    // pair lists are job outputs (and the check reads them), so they are
    // kept rather than recomputed
    val pairs = t.layer("dedup.verify") {
      t.force(Dedup.verifyJaccard(cands, docs, "id", "text", Threshold,
        Shingle).persist(StorageLevel.MEMORY_AND_DISK))
    }
    val kept = t.layer("dedup.components") {
      t.force(Components.dedupByComponents(docs, "id", pairs, "id_a", "id_b"))
    }
    val spans = t.layer("text.spans") {
      val s = SpanDedup.duplicatedSpans(kept, "id", "text", GramN).collect()
      t.rows(s.length.toLong)
      s.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val dups = t.layer("dedup.index_probe") {
      t.force(MinhashIndex.batchNearDups(kept,
        spark.read.parquet(p("in/corpus")), "id", "text", p("index"),
        Threshold).persist(StorageLevel.MEMORY_AND_DISK))
    }
    val fresh = kept.join(dups.select(col("id_b").as("id")), Seq("id"),
      "left_anti")
    val wr = t.layer("io.write") {
      SnapshotStore.overwriteBuckets(
        SnapshotStore.readBuckets(spark, p("store"), Planned)
          .unionByName(fresh),
        p("store"), bucketExpr, Planned)
    }
    val errs = t.layer("io.verify")(SnapshotStore.verify(spark, p("store")))
    t.layer("dedup.index_append") {
      MinhashIndex.appendBatch(fresh, "id", "text", p("index"))
    }
    Out(pairs, kept, spans, dups, wr, errs)
  }

  def check(iter: Int, o: Out): Seq[String] = {
    val pairs = o.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = o.dups.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keptIds = o.kept.select("id").collect().map(_.getLong(0)).toSeq
    Seq(o.pairs, o.dups).foreach(_.unpersist(false))
    val text = batch.ids.map(id => id -> batch.text(id)).toMap
    val wrong = pairs.filter { case (a, b, j) =>
      batch.rootOf(a) != batch.rootOf(b) || j < Threshold ||
        math.abs(Text.jaccard(text(a), text(b), Shingle) - j) > 1e-12
    }
    // LSH finds a pair of Jaccard >= 0.97 but with probability < 1e-7
    val got = pairs.map(x => (x._1, x._2)).toSet
    val missed = batch.plantedPairs.filter { case (a, b) =>
      Text.jaccard(text(a), text(b), Shingle) >= SureJaccard && !got((a, b))
    }
    // component dedup keeps the smallest id of each component the
    // verified pairs form, and every id in no pair
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x).fold(x)(y => { val r = find(y); parent(x) = r; r })
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val keep = batch.ids.filter(id => find(id) == id)
    val refSpans = Text.dupSpans(keptIds.map(id => id -> text(id).split(" ")), GramN)
    val unplanted = batch.spans.filterNot { case (d, a, b) =>
      o.spans.exists(s => s._1 == d && s._2 <= a && b <= s._3) }
    val fresh = (keptIds.size - found.size).toLong
    val snap = o.write.snapshot
    val written = SnapshotStore.manifest(p("store"), snap)
      .filter(e => o.write.written.contains(e.bucket)).map(_.rows).sum
    bytesPerRow = Dirs.dataBytes(p(s"store/runs/run=$snap")).toDouble / written
    writtenShare = o.write.written.size.toDouble /
      (o.write.written.size + o.write.carried.size)
    val appended = bandRows() - baseBandRows
    Seq(
      wrong.isEmpty ->
        s"${wrong.length} of ${pairs.length} verified pairs are not planted or disagree with the exact Jaccard",
      missed.isEmpty -> s"${missed.size} planted pairs of Jaccard >= $SureJaccard not found",
      (keptIds.sorted == keep) ->
        s"kept ${keptIds.size} captions, expected ${keep.size} (one per component of the verified pairs)",
      (o.spans == refSpans) ->
        s"spans ${o.spans.size} != exact ${refSpans.size} over the kept captions",
      unplanted.isEmpty -> s"${unplanted.size} planted spans not found",
      (found == copies) -> s"index near-dups ${found.size} != planted ${copies.size}",
      o.verifyErrors.isEmpty -> s"verify: ${o.verifyErrors.mkString("; ")}",
      (o.write.written.sorted == Planned) ->
        s"wrote buckets ${o.write.written.mkString(",")}, planned ${Planned.mkString(",")}",
      (o.write.carried.size == Buckets - Planned.size) ->
        s"carried ${o.write.carried.size} buckets, planned ${Buckets - Planned.size}",
      (written == plannedRows + fresh) ->
        s"committed $written rows, expected ${plannedRows + fresh}",
      (appended == Bands * fresh) ->
        s"index grew by $appended band rows, expected ${Bands * fresh}"
    ).collect { case (false, msg) => msg }
  }

  def ratios: Map[String, Double] = Map(
    "io.write.written_share" -> writtenShare)

  def storedBytesPerRow: Double = bytesPerRow
}

object IngestAppend {
  val StoreDocs = 200000L
  /** The batch size of the ingest figures the benchmark was specified
    * with (`MinhashIndex.batchNearDups` over a 5k-document batch).
    */
  val BatchDocs = 5000
  /** `MinhashIndex`'s bucket count. */
  val Buckets = 16
  /** The bucket share every batch touches (a quarter). */
  val Planned: Seq[Int] = 0 until 4
  /** Batch captions that copy a stored one (1% of the batch). */
  val Copies = 50
  val CopyMinLen = 40
  val NSpans = 20
  /** `Dedup.lshCandidates`' and `MinhashIndex.Params`' defaults. */
  val Shingle = 3
  val Hashes = 32
  val Bands = 8
  /** The threshold the repository's dedup benchmark and index queries use. */
  val Threshold = 0.5
  val SureJaccard = 0.97
  /** The span length the repository's span-dedup benchmark uses. */
  val GramN = 8

  /** The stored caption with this id. */
  def storeText(seed: Long, id: Long): String =
    Text.doc(Text.rng(seed, 21, id)).mkString(" ")
}

package graft

import graft.core.{Lineage, Pipeline}
import graft.io.ImageTable
import graft.operators._
import graft.temporal.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship end-to-end job (BASELINE.json north_star): point-in-time
  * feature construction over the image+caption table.
  *
  * events (image_id, event_ts, target)
  *   AS-OF JOIN snapshots (image_id, feature_ts, caption_at, phash_at, feat)
  *   JOIN images metadata (w, h, fmt, caption, phash — bytes PRUNED:
  *        the binary payload never enters the shuffle; verify with
  *        .explain that the scan's ReadSchema excludes `bytes`)
  *   |> fitted transformer pipeline:
  *        MeanImputer(w,h) -> CappingTransformer(q feat) ->
  *        OneHotEncoding(fmt) -> MeanResponse(caption word vs target) ->
  *        DateDifference(feature_ts -> event_ts staleness)
  *
  * The transform stage is ONE codegen'd projection; the only shuffles
  * are the as-of join's hash exchange on image_id and the metadata
  * join (broadcast at these sizes). The as-of output is shared
  * ([[graft.core.Lineage.share]]), so a build's fit and transform run
  * its exchange once between them.
  */
object Flagship {

  /** The PIT-joined, metadata-enriched input frame (pipeline fit/
    * transform input). No fit state and no cache: the as-of output is
    * shared, so however many queries read the frame (a fit's passes,
    * the transform) its union exchange runs once, when the first of
    * them executes, and the metadata broadcast join stays above it.
    */
  def joinedInput(spark: SparkSession, nImages: Long,
      eventsPerImage: Int, hotFraction: Double = 0.0,
      hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame =
    joinedInputFrom(
      ImageTable.events(spark, nImages, eventsPerImage,
        hotFraction = hotFraction),
      ImageTable.snapshots(spark, nImages),
      ImageTable.images(spark, nImages),
      hotEntities, autoSaltShare)

  /** Same plan over CALLER-SUPPLIED tables (e.g. parquet reads — the
    * production shape: at 100 TB the inputs are stored tables, not
    * in-flight generation; the bench's stored-input scaling variant
    * reads these from disk so the timed work is scan + join +
    * transform, the operator, not the synthetic generator).
    */
  def joinedInputFrom(evs: DataFrame, snaps: DataFrame,
      imgs: DataFrame, hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    // point-in-time attach of the latest snapshot per event; skew
    // handling either from an explicit hot list or (autoSaltShare) the
    // sampled runtime detection pass
    val pit = Lineage.share(AsOfJoin.join(evs, snaps, entity = "image_id",
      leftTs = "event_ts", rightTs = "feature_ts",
      rightValueCols = Seq("caption_at", "phash_at", "feat"),
      hotEntities = hotEntities, autoSaltShare = autoSaltShare),
      "flagship.asof")

    // metadata join — never touches `bytes`, so column pruning keeps
    // the binary payload out of the exchange entirely
    val meta = imgs.select("image_id", "w", "h", "fmt", "caption")
      .withColumn("caption_word", split(col("caption"), " ").getItem(0))
    pit.join(broadcast(meta), Seq("image_id"), "left")
      // manufactured nulls so the imputers have work
      .withColumn("w", when(col("event_id") % 17 === 0, lit(null))
        .otherwise(col("w")))
      .withColumn("h", when(col("event_id") % 23 === 0, lit(null))
        .otherwise(col("h")))
  }

  /** The flagship transformer pipeline, unfitted. */
  def pipelineDef(): Pipeline = Pipeline(
    "impute_w" -> new MeanImputer(Seq("w", "h")),
    "cap_feat" -> new CappingTransformer(
      quantiles = Map("feat" -> (Some(0.01), Some(0.99)))),
    "onehot_fmt" -> new OneHotEncodingTransformer(Seq("fmt")),
    "enc_caption" -> new MeanResponseTransformer(
      Seq("caption_word"), "target", prior = 10.0,
      unseenLevelHandling = Some(Right("mean"))),
    "staleness" -> new DateDifferenceTransformer(
      "matched_ts", "event_ts", Some("staleness_h"), "h"))

  /** The columns the pipeline's FIT passes actually read (plus the
    * fit filter key): the cached fit input is pruned to these before
    * persisting, so the cache never materializes the wide payload
    * columns (`caption` strings, `phash_at`, ids) that only the final
    * transform projection needs. At 10M+ rows the wide cache build
    * dominated the whole flagship job; the narrow one is a fraction
    * of it. The transform reads the joined frame again, but its as-of
    * exchange is the shared one the fit already ran, so the second
    * pass costs the reduce side and the metadata join, not the as-of
    * map side.
    */
  private[graft] def fitProjection(pipe: Pipeline, joined: DataFrame)
      : DataFrame = {
    val fitCols = (pipe.steps.flatMap(_._2.fitInputCols)
      :+ "matched_ts").distinct.filter(joined.columns.contains)
    joined.filter(col("matched_ts").isNotNull)
      .select(fitCols.map(col): _*)
  }

  /** Fit the flagship pipeline once and return it — the one-time cost a
    * production job pays before transforming arbitrarily many batches.
    */
  def fitPipeline(spark: SparkSession, nImages: Long,
      eventsPerImage: Int): Pipeline =
    fitPipeline(joinedInput(spark, nImages, eventsPerImage))

  /** [[fitPipeline]] over a joined input the caller transforms too, so
    * the fit and the transform read one shared as-of exchange.
    */
  def fitPipeline(joined: DataFrame): Pipeline =
    fitOver(joined, cacheFitInput = true)

  /** Fits the flagship pipeline over `joined`. The pipeline's fit passes
    * each re-execute their input plan, so the (column-pruned) fit input
    * is persisted for the duration of the fit passes — the as-of join
    * and generation run once instead of once per fit barrier — and
    * released before returning; the fitted state holds no reference
    * to it.
    */
  private def fitOver(joined: DataFrame, cacheFitInput: Boolean)
      : Pipeline = {
    val pipe = pipelineDef()
    Lineage.scoped { sc =>
      val fitInput = fitProjection(pipe, joined)
      pipe.fit(if (cacheFitInput) sc.persist(fitInput) else fitInput)
    }
  }

  def features(spark: SparkSession, nImages: Long,
      eventsPerImage: Int, hotFraction: Double = 0.0,
      hotEntities: Seq[String] = Seq.empty,
      cacheFitInput: Boolean = true): DataFrame =
    featuresOver(joinedInput(spark, nImages, eventsPerImage,
      hotFraction, hotEntities), cacheFitInput)

  /** Fit + transform over a caller-supplied joined input plan (see
    * [[joinedInputFrom]] for the stored-table production shape).
    */
  def featuresOver(joined: DataFrame,
      cacheFitInput: Boolean = true): DataFrame =
    fitOver(joined, cacheFitInput).transform(joined)

  /** Decode-dominated variant: the feature table joined back to the
    * image payloads, with per-image decode features extracted via the
    * mapPartitions batch path. This is the shape of a real image
    * training-data job (codec CPU dominates), and the job used for the
    * two-parallelism scaling evidence — per-row compute scales with
    * cores, unlike shuffle bytes, which on a single box share one
    * memory subsystem.
    */
  def featuresWithDecode(spark: SparkSession, nImages: Long,
      eventsPerImage: Int, minDim: Int = 256, maxDim: Int = 384,
      payloadCapBytes: Int = 4096,
      prefit: Option[Pipeline] = None,
      decodePartitions: Int = 0): DataFrame = {
    // with a pre-fitted pipeline (the amortized production shape) the
    // job is generation + as-of join + transform + decode + agg, no fit
    // barriers; without one, features() fits in-line as before
    val transformed = prefit match {
      case Some(pipe) =>
        pipe.transform(joinedInput(spark, nImages, eventsPerImage))
      case None => features(spark, nImages, eventsPerImage)
    }
    val feats = transformed
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_events"), avg("target").as("mean_target"))
    val imgs = ImageTable.images(spark, nImages, minDim = minDim,
      maxDim = maxDim, payloadCapBytes = payloadCapBytes,
      numPartitions = decodePartitions)
    val decoded = multimodal.Multimodal.withDecodeFeatures(
      imgs, multimodal.Multimodal.SyntheticPixelDecoder)
      .select("image_id", "decoded_w", "decoded_h", "mean_luma")
    decoded.join(feats, Seq("image_id"), "left")
  }
}

package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aspect-ratio bucketed batch packing for image training — the
  * layout step between a curated image table and a dataloader:
  * images are grouped into aspect-ratio buckets (so a batch can be
  * resized to one shared shape with minimal crop/pad waste — the
  * SDXL / NovelAI bucketing trick) and packed into fixed-size
  * batches inside each bucket, deterministically.
  */
object AspectBatch {

  /** Assign every image an aspect bucket and a `(bucket, batch_id,
    * slot)` position:
    *
    *   - `bucket = (w * 1000 div h) div milliPerBucket` — the aspect
    *     ratio in integer MILLI-units, banded. Pure integer `div`
    *     (no float log2 whose last ulp differs across engines);
    *     ~[0.5, 2.0] aspect at the default 250-milli band gives
    *     buckets 2..8.
    *   - `seq`   = the image's rank within its bucket in `idCol`
    *     order (deterministic corpus order).
    *   - `batch_id = seq div batchSize`, `slot = seq mod batchSize` —
    *     a trailing partial batch keeps its rows (the dataloader
    *     drops or pads it; the index must still record them).
    *
    * Shape: the global rank comes from the two-phase exclusive
    * cumulative count over (bucket, id) —
    * [[graft.text.Sharding.exclusiveCumSum]], range-partitioned,
    * no single-partition stage — minus the bucket's start offset,
    * which is a \|buckets\|-row min-aggregation joined back
    * (broadcastable). A `PARTITION BY bucket` window would sort
    * multi-billion-row buckets inside single tasks at 10^12 images;
    * this never does.
    *
    * Null or non-positive dimensions fail loudly — they mean the
    * decode/metadata stage upstream is broken, and silently lumping
    * them into a bucket would poison a whole training batch.
    */
  /** Per-bucket TARGET RESOLUTION table — the companion the resize
    * stage consumes: for every aspect bucket present in `df`, the
    * (target_w, target_h) that (a) matches the bucket's midpoint
    * aspect ratio, (b) stays within `pixelBudget` total pixels, and
    * (c) rounds DOWN to a multiple of `multiple` (UNet/ViT stride —
    * 64 for SDXL-style models), floored at one multiple.
    *
    *   aspect_milli = bucket * milliPerBucket + milliPerBucket/2
    *   h_raw = sqrt(pixelBudget * 1000.0 / aspect_milli)
    *   w_raw = h_raw * aspect_milli / 1000.0
    *   target = max(multiple, floor(raw / multiple) * multiple)
    *
    * `sqrt` is IEEE-correctly-rounded, so the arithmetic reproduces
    * bit-exactly in any engine that mirrors the operand order (q173's
    * oracle does). Output is one row per bucket — a \|buckets\|-row
    * aggregation, broadcastable to the resize stage as a plain map.
    */
  def bucketResolutions(df: DataFrame, wCol: String = "w",
      hCol: String = "h", pixelBudget: Long, multiple: Int = 64,
      milliPerBucket: Int = 250): DataFrame = {
    require(pixelBudget > 0 && multiple > 0 && milliPerBucket > 0,
      "pixelBudget, multiple and milliPerBucket must be > 0")
    val ok = col(wCol).isNotNull && col(hCol).isNotNull &&
      col(wCol) > 0 && col(hCol) > 0
    val buckets = df
      .withColumn("__w", when(ok, col(wCol).cast("long"))
        .otherwise(raise_error(lit(
          s"bucketResolutions: bad dims in ($wCol, $hCol)"))))
      .withColumn("bucket", expr(
        s"((__w * 1000L div `$hCol`) div $milliPerBucket)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_images"))
    val aspectMilli = col("bucket") * milliPerBucket +
      lit(milliPerBucket / 2)
    val hRaw = sqrt(lit(pixelBudget.toDouble) * lit(1000.0) /
      col("aspect_milli"))
    def snapped(raw: org.apache.spark.sql.Column) =
      greatest(lit(multiple.toLong),
        (floor(raw / multiple) * multiple).cast("long"))
    buckets
      .withColumn("aspect_milli", aspectMilli.cast("long"))
      .withColumn("__h_raw", hRaw)
      .withColumn("__w_raw",
        col("__h_raw") * col("aspect_milli") / lit(1000.0))
      .withColumn("target_h", snapped(col("__h_raw")))
      .withColumn("target_w", snapped(col("__w_raw")))
      .drop("__h_raw", "__w_raw")
  }

  /** Per-image RESIZE PLAN against its bucket's target resolution —
    * the geometry the decode/resize kernel executes: aspect-preserving
    * scale into the target box, then symmetric letterbox padding.
    *
    *   scale  = min(target_w / w, target_h / h)
    *   new_w  = max(1, floor(w * scale)), same for new_h
    *   pad_x  = (target_w - new_w) div 2  (left pad; right gets the
    *            remainder), same for pad_y
    *
    * Joins [[bucketResolutions]] back to the rows by bucket — a
    * \|buckets\|-row broadcast, then a pure codegen'd projection (the
    * doubles are deterministic IEEE expressions an external engine
    * mirrors). Output adds `bucket, target_w, target_h, new_w, new_h,
    * pad_x, pad_y`.
    */
  def resizePlan(df: DataFrame, wCol: String = "w",
      hCol: String = "h", pixelBudget: Long, multiple: Int = 64,
      milliPerBucket: Int = 250): DataFrame = {
    val targets = bucketResolutions(df, wCol, hCol, pixelBudget,
      multiple, milliPerBucket)
      .select(col("bucket").as("__b"), col("target_w"),
        col("target_h"))
    val bucketed = df.withColumn("bucket", expr(
      s"((`$wCol` * 1000L div `$hCol`) div $milliPerBucket)"))
    val scale = least(
      col("target_w").cast("double") / col(wCol),
      col("target_h").cast("double") / col(hCol))
    bucketed
      .join(broadcast(targets), col("bucket") === col("__b"))
      .drop("__b")
      .withColumn("new_w",
        greatest(lit(1L), floor(col(wCol) * scale)))
      .withColumn("new_h",
        greatest(lit(1L), floor(col(hCol) * scale)))
      .withColumn("pad_x",
        expr("(target_w - new_w) div 2L"))
      .withColumn("pad_y",
        expr("(target_h - new_h) div 2L"))
  }

  def aspectRatioBatches(df: DataFrame, idCol: String,
      wCol: String = "w", hCol: String = "h", batchSize: Int,
      milliPerBucket: Int = 250): DataFrame = {
    require(batchSize > 0, s"batchSize must be > 0, got $batchSize")
    require(milliPerBucket > 0,
      s"milliPerBucket must be > 0, got $milliPerBucket")
    val ok = col(wCol).isNotNull && col(hCol).isNotNull &&
      col(wCol) > 0 && col(hCol) > 0
    val guarded = df.withColumn("__w",
      when(ok, col(wCol).cast("long")).otherwise(raise_error(
        concat(lit(s"aspectRatioBatches: bad dims w=$wCol h=$hCol on "),
          col(idCol).cast("string")))))
    val bucketed = guarded.withColumn("bucket",
      expr(s"((__w * 1000L div `$hCol`) div $milliPerBucket)"))
      .drop("__w")
    rankWithin(bucketed, "bucket", Seq(col(idCol)), "seq")
      .withColumn("batch_id", expr(s"seq div ${batchSize}L"))
      .withColumn("slot", pmod(col("seq"), lit(batchSize.toLong)))
  }

  /** Deterministic 0-based rank of every row within its `bucketCol`
    * group, in `orderCols` order — the two-phase exclusive cumulative
    * count over (bucket, order...) minus the bucket's start offset (a
    * \|buckets\|-row min-aggregation, broadcast back). No
    * `PARTITION BY bucket` window anywhere: that would sort
    * multi-billion-row buckets inside single tasks at 10^12 images.
    * Shared by [[aspectRatioBatches]] and [[snapToLadder]].
    */
  private def rankWithin(df: DataFrame, bucketCol: String,
      orderCols: Seq[org.apache.spark.sql.Column], outCol: String)
      : DataFrame = {
    graft.core.Ids.requireNoBinary(df, "AspectBatch rank")
    val positioned = graft.text.Sharding.exclusiveCumSum(
      df, col(bucketCol) +: orderCols, lit(1L) -> "__pos")
    val starts = positioned.groupBy(col(bucketCol).as("__b"))
      .agg(min(col("__pos")).as("__start"))
    positioned
      .join(broadcast(starts), col(bucketCol) === col("__b"))
      .withColumn(outCol, col("__pos") - col("__start"))
      .drop("__b", "__start", "__pos")
  }

  /** Snap every image to an EXPLICIT resolution ladder (the
    * SDXL-style fixed bucket list) instead of the derived milli-band
    * buckets of [[aspectRatioBatches]]: the image takes the ladder
    * entry with the nearest aspect ratio, ranks inside it in
    * deterministic `idCol` order, and records the crop waste of
    * filling that shape.
    *
    * The snap is EXACT integer arithmetic: candidate distance
    * `|w/h - bw_i/bh_i|` is compared as `|w*bh_i - h*bw_i| / bh_i`
    * (the common 1/h factor drops out) — one integer cross product
    * and one IEEE division per candidate, identical in any engine, no
    * transcendentals; ties break to the earliest ladder entry.
    *
    * Output per image: `bucket_idx`, `bucket_w`, `bucket_h`,
    * `rank_in_bucket`, `batch_idx`, and `crop_frac` — the pixel
    * fraction lost to the scale-to-fill + center-crop into the bucket
    * shape, `1 - min(w*bh, h*bw) / max(w*bh, h*bw)` (exact integer
    * operands, rounded to 6dp).
    */
  def snapToLadder(df: DataFrame, idCol: String, wCol: String,
      hCol: String, ladder: Seq[(Int, Int)], batchSize: Int,
      epochOrder: Option[Int] = None): DataFrame = {
    // epochOrder: rank inside each rung in the epoch's pseudo-random
    // order (the Sharding.epochHash two-round mix keyed on (id,
    // epoch)) instead of static id order — per-epoch reshuffled
    // aspect-bucketed training batches, reproducible on any cluster
    // size from (id, epoch) alone; requires integral ids
    epochOrder.foreach { e =>
      graft.core.Ids.requireIntegral(df, idCol,
        "snapToLadder(epochOrder)")
      require(e >= 0, s"snapToLadder: epoch must be >= 0, got $e")
    }
    require(ladder.nonEmpty, "snapToLadder: empty ladder")
    require(ladder.forall { case (bw, bh) => bw > 0 && bh > 0 },
      s"ladder dims must be positive, got $ladder")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val reserved = Seq("bucket_idx", "bucket_w", "bucket_h",
      "rank_in_bucket", "batch_idx", "crop_frac")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"snapToLadder: input already has a '$c' column"))
    // same loud-dims contract as aspectRatioBatches: a null/zero dim
    // would otherwise null every candidate distance and silently snap
    // the row to rung 0, corrupting rung-0 ranks and batches
    val okDims = col(wCol).isNotNull && col(hCol).isNotNull &&
      col(wCol) > 0 && col(hCol) > 0
    val w = when(okDims, col(wCol).cast("long")).otherwise(raise_error(
      concat(lit(s"snapToLadder: bad dims w=$wCol h=$hCol on "),
        col(idCol).cast("string"))))
    val h = col(hCol).cast("long")
    val cands = array(ladder.zipWithIndex.map { case ((bw, bh), i) =>
      struct(
        (abs(w * bh - h * bw).cast("double") / lit(bh.toDouble)).as("d"),
        lit(i).as("bucket_idx"), lit(bw).as("bucket_w"),
        lit(bh).as("bucket_h"))
    }: _*)
    val snapped = df
      .withColumn("__best", array_min(cands))
      .withColumn("bucket_idx", col("__best.bucket_idx"))
      .withColumn("bucket_w", col("__best.bucket_w"))
      .withColumn("bucket_h", col("__best.bucket_h"))
      .withColumn("crop_frac", round(
        lit(1.0) - least(w * col("bucket_h"), h * col("bucket_w"))
          .cast("double") /
          greatest(w * col("bucket_h"), h * col("bucket_w"))
            .cast("double"), 6))
      .drop("__best")
    val order = epochOrder match {
      case Some(e) => Seq(
        graft.text.Sharding.epochHash(col(idCol), e), col(idCol))
      case None => Seq(col(idCol))
    }
    rankWithin(snapped, "bucket_idx", order, "rank_in_bucket")
      .withColumn("batch_idx", expr(s"rank_in_bucket div $batchSize"))
  }
}

package graft.operators

import graft.core.{Stats, Transformer, Weights}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Categorical encoders (reference tubular/nominal.py).
  *
  * Fit passes are distributed groupBy aggregations; learned
  * level->value maps come back to the driver as small dicts and are
  * folded into the transform projection as literal maps — they ship to
  * executors with the serialized plan (the "broadcast hash map" of the
  * north star), so the transform itself is map-only.
  */

/** Group rare levels under one name
  * (tubular/nominal.py:47-513).
  * Fit: weight share per level; share < cutOffPercent => rare.
  * Transform: non-member -> rareLevelName; nulls pass through; with
  * unseenLevelsToRare=false, unseen levels also pass through.
  */
class GroupRareLevelsTransformer(
    val columns: Seq[String],
    val cutOffPercent: Double = 0.01,
    val rareLevelName: String = "rare",
    val weightsColumn: Option[String] = None,
    val unseenLevelsToRare: Boolean = true,
    val recordRareLevels: Boolean = true
) extends Transformer {
  require(cutOffPercent > 0 && cutOffPercent < 1,
    s"cut_off_percent must be in (0,1), got $cutOffPercent")
  override def needsFit: Boolean = true

  override def fitInputCols: Seq[String] = columns ++ weightsColumn

  var nonRareLevels: Map[String, Seq[String]] = Map.empty
  var rareLevelsRecord: Map[String, Seq[String]] = Map.empty
  var trainingLevels: Map[String, Seq[String]] = Map.empty

  override def fit(df: DataFrame): this.type = {
    super.fit(df)
    requireStringLike(df, columns)
    val rows = Weights.fitRows(df, weightsColumn)
    val w = Weights.weightCol(weightsColumn).cast("double")
    // ONE melt + groupBy job for ALL columns (share =
    // sum(w|col,level)/sum(w)); the reference loops one agg per column
    // — at 100 TB that's k full scans vs 2 here
    val total = rows.agg(sum(w)).head().getDouble(0)
    val pair = explode(array(columns.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("lvl"))): _*))
    // collect guarded by the level cap: limit(cap+1) bounds the driver
    // transfer, so a mistaken ID column errors cleanly instead of OOMing
    val cap = graft.core.Limits.maxFitLevels(rows.sparkSession)
    val collected = rows
      .select(pair.as("p"), w.as("__w"))
      .filter(col("p.lvl").isNotNull)
      .groupBy(col("p.c").as("c"), col("p.lvl").as("lvl"))
      .agg(sum(col("__w")).as("lw"))
      .limit(cap + 1)
      .collect()
    if (collected.length > cap)
      graft.core.Limits.levelCapError(classname, cap,
        s"across columns ${columns.mkString(", ")}")
    val byColLevel = collected.groupBy(_.getString(0))
    columns.foreach { c =>
      val byLevel = byColLevel.getOrElse(c, Array.empty)
      val (common, rare) = byLevel.partition(
        r => r.getDouble(2) / total >= cutOffPercent)
      nonRareLevels += c -> common.map(_.getString(1)).toSeq.sorted
      if (recordRareLevels)
        rareLevelsRecord += c -> rare.map(_.getString(1)).toSeq.sorted
      if (!unseenLevelsToRare)
        trainingLevels += c -> byLevel.map(_.getString(1)).toSeq.sorted
    }
    this
  }

  override def transformExprs(df: DataFrame): Seq[(String, Column)] =
    columns.map { c =>
      val keep = col(c).isNull ||
        col(c).isin(nonRareLevels(c): _*) ||
        (if (!unseenLevelsToRare)
           !col(c).isin(trainingLevels(c): _*)
         else lit(false))
      c -> when(keep, col(c)).otherwise(lit(rareLevelName))
    }

  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "cut_off_percent" -> cutOffPercent,
    "rare_level_name" -> rareLevelName,
    "weights_column" -> weightsColumn.orNull,
    "unseen_levels_to_rare" -> unseenLevelsToRare,
    "record_rare_levels" -> recordRareLevels)
  override def fitParams: Map[String, Any] = Map(
    "non_rare_levels" -> nonRareLevels,
    "rare_levels_record_" -> rareLevelsRecord,
    "training_data_levels" -> trainingLevels)
  override def restoreFit(fit: Map[String, Any]): this.type = {
    nonRareLevels =
      fit("non_rare_levels").asInstanceOf[Map[String, Seq[String]]]
    rareLevelsRecord =
      fit("rare_levels_record_").asInstanceOf[Map[String, Seq[String]]]
    trainingLevels =
      fit("training_data_levels").asInstanceOf[Map[String, Seq[String]]]
    super.restoreFit(fit)
  }
}

/** Target (mean-response) encoding with additive-prior smoothing
  * (tubular/nominal.py:517-1423):
  *   enc(level) = (sum(w*y | level) + prior * globalMean)
  *                / (sum(w | level) + prior)
  * Unseen levels at transform -> `unseenLevelHandling`:
  *   Left(number) or Right("mean"|"median"|"min"|"max") of the encoded
  *   training column; None -> error on unseen (reference raises).
  * Multi-level response: one encoded column per response level,
  * `{col}_{level}`, with y binarised per level
  * (tubular/nominal.py:896-941).
  */
class MeanResponseTransformer(
    val columns: Seq[String],
    val responseColumn: String,
    val prior: Double = 0,
    val weightsColumn: Option[String] = None,
    val unseenLevelHandling: Option[Either[Double, String]] = None,
    val level: Seq[String] = Seq.empty, // non-empty => multi-level
    val returnType: String = "double" // reference Float32/Float64
) extends Transformer {
  require(prior >= 0, s"prior must be >= 0, got $prior")
  unseenLevelHandling.foreach {
    case Right(s) => require(Seq("mean", "median", "min", "max").contains(s))
    case _ => ()
  }
  override def needsFit: Boolean = true

  override def fitInputCols: Seq[String] =
    columns ++ Seq(responseColumn) ++ weightsColumn

  /** Encoded-column names are init-derived (multi-level uses the given
    * `level` list), so they are enumerable pre-fit.
    */
  override def writtenCols: Option[Seq[String]] = Some(
    if (level.isEmpty) columns
    else columns.flatMap(c => level.map(l => s"${c}_$l")))

  /** encodedColumn -> (stringLevel -> encoding) */
  var mappings: Map[String, Map[String, Double]] = Map.empty
  var unseenEncoding: Map[String, Double] = Map.empty
  var encodedColumns: Seq[String] = Seq.empty

  private def yExprs: Seq[(String, Column)] =
    if (level.isEmpty) Seq("" -> col(responseColumn).cast("double"))
    else level.map(l =>
      s"_$l" -> when(col(responseColumn).cast("string") === l, 1.0)
        .otherwise(0.0))

  override def fit(df: DataFrame): this.type = {
    super.fit(df)
    if (!df.columns.contains(responseColumn))
      throw new IllegalArgumentException(
        s"$classname: response column $responseColumn not in DataFrame")
    val nNullY = df.filter(col(responseColumn).isNull).limit(1).count()
    if (nNullY > 0)
      throw new IllegalArgumentException(
        s"$classname: response column $responseColumn contains nulls " +
          "(tubular/nominal.py:1070-1072)")
    val rows = Weights.fitRows(df, weightsColumn)
    val w = Weights.weightCol(weightsColumn).cast("double")

    val ys = yExprs
    // global weighted means, one distributed agg
    val gmAggs = ys.map { case (sfx, y) =>
      (sum(w * y) / sum(w)).as(s"gm$sfx") }
    val gmRow = rows.agg(gmAggs.head, gmAggs.tail: _*).head()
    val globalMeans = ys.zipWithIndex.map {
      case ((sfx, _), i) => sfx -> gmRow.getDouble(i) }.toMap

    mappings = Map.empty
    encodedColumns = Seq.empty
    // ONE melt + groupBy job for ALL input columns x response levels
    // (the reference runs one groupBy per column —
    // tubular/nominal.py:1128-1164; at scale that's k full scans)
    val pair = explode(array(columns.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("lvl"))): _*))
    val melted = rows.select(pair.as("p") +: w.as("__w") +:
      ys.map { case (sfx, y) => y.as(s"__y$sfx") }: _*)
      .filter(col("p.lvl").isNotNull)
    val aggs = ys.flatMap { case (sfx, _) =>
      Seq(sum(col("__w") * col(s"__y$sfx")).as(s"wy$sfx"),
        sum(col("__w")).as(s"ww$sfx")) }
    val cap = graft.core.Limits.maxFitLevels(rows.sparkSession)
    val grouped = melted
      .groupBy(col("p.c").as("c"), col("p.lvl").as("lvl"))
      .agg(aggs.head, aggs.tail: _*)
      .limit(cap + 1)
      .collect()
    if (grouped.length > cap)
      graft.core.Limits.levelCapError(classname, cap,
        s"across columns ${columns.mkString(", ")}")
    val byCol = grouped.groupBy(_.getString(0))
    columns.foreach { c =>
      val grouped = byCol.getOrElse(c, Array.empty)
      ys.foreach { case (sfx, _) =>
        val enc = s"$c$sfx"
        encodedColumns :+= enc
        mappings += enc -> grouped.map { r =>
          val lvl = r.getAs[String]("lvl")
          val wy = r.getAs[Double](s"wy$sfx")
          val ww = r.getAs[Double](s"ww$sfx")
          lvl -> (wy + prior * globalMeans(sfx)) / (ww + prior)
        }.toMap
      }
    }

    // unseen-level fallback from the ENCODED training column
    // (tubular/nominal.py:1240-1311). (sourceCol, encName) pairs are
    // carried explicitly — recovering the source from the encoded name
    // by string prefix mis-binds when one column name prefixes another
    // (e.g. columns "a" and "a_b"). All encoded columns are fitted in
    // ONE job (a single fused agg, or one melted keyed-median pass).
    unseenEncoding = unseenLevelHandling match {
      case None => Map.empty
      case Some(Left(v)) => encodedColumns.map(_ -> v).toMap
      case Some(Right(stat)) =>
        val encPairs: Seq[(String, String)] =
          columns.flatMap(c => ys.map { case (sfx, _) => (c, s"$c$sfx") })
        stat match {
          case "median" =>
            val tmp = rows.select(
              encPairs.map { case (src, enc) =>
                mapExpr(col(src), mappings(enc)).as(enc) } :+
                w.as("__w"): _*)
            Stats.weightedMediansMelted(tmp, encPairs.map(_._2), col("__w"))
              .collect { case (enc, Some(v)) => enc -> v }
          case s =>
            val aggs = encPairs.map { case (src, enc) =>
              val mapped = mapExpr(col(src), mappings(enc))
              (s match {
                case "mean" => sum(w * mapped) / sum(when(mapped.isNotNull, w))
                case "min" => min(mapped)
                case "max" => max(mapped)
              }).as(enc)
            }
            val r = rows.agg(aggs.head, aggs.tail: _*).head()
            encPairs.zipWithIndex.flatMap { case ((_, enc), i) =>
              Option(r.getAs[java.lang.Double](i)).map(enc -> _.toDouble)
            }.toMap
        }
    }
    this
  }

  /** literal-map lookup; keys not in map -> null (then fallback). */
  private def mapExpr(c: Column, m: Map[String, Double]): Column =
    if (m.isEmpty) lit(null).cast("double")
    else element_at(typedLit(m), c.cast("string"))

  /** unseen fallback + output cast around a raw looked-up encoding. */
  private def finishEnc(src: Column, looked: Column, enc: String): Column = {
    val withUnseen = unseenEncoding.get(enc) match {
      case Some(u) =>
        when(src.isNotNull && looked.isNull, lit(u)).otherwise(looked)
      case None => looked
    }
    val outT = if (returnType == "float") FloatType else DoubleType
    withUnseen.cast(outT)
  }

  override def transformExprs(df: DataFrame): Seq[(String, Column)] = {
    val ys = yExprs
    columns.flatMap { c =>
      ys.map { case (sfx, _) =>
        val enc = s"$c$sfx"
        enc -> finishEnc(col(c), mapExpr(col(c), mappings(enc)), enc)
          .as(enc, graft.core.CategoryMetadata.of(c,
            mappings(enc).keys.toSeq.sorted))
      }
    }
  }

  /** Big level maps transform via BROADCAST JOIN instead of a literal
    * map: Spark's map literals are linear-searched per row
    * (ArrayBasedMapData), so a 100k-level `element_at` costs O(levels)
    * per input row; a broadcast hash join is O(1) per row and still
    * shuffle-free on the big side. Threshold:
    * `graft.maxLiteralMapSize` (default 10000). Small maps keep the
    * single-projection path so whole pipelines stay one codegen stage.
    */
  override def transform(df: DataFrame): DataFrame = {
    if (!isFitted)
      throw new IllegalStateException(
        s"$classname: transform called before fit")
    columnsCheck(df)
    val threshold = graft.core.Limits.maxLiteralMapSize(df.sparkSession)
    if (!mappings.values.exists(_.size > threshold))
      return project(df, transformExprs(df))
    val spark = df.sparkSession
    val ys = yExprs
    var joined = df
    val tmpCols = scala.collection.mutable.Buffer[String]()
    val exprs: Seq[(String, Column)] = columns.flatMap { c =>
      ys.map { case (sfx, _) =>
        val enc = s"$c$sfx"
        val m = mappings(enc)
        val looked =
          if (m.size > threshold) {
            val vcol = s"__mrv_$enc"
            tmpCols += vcol
            val lookup = spark.createDataFrame(m.toSeq).toDF("__mrk", vcol)
            joined = joined.join(broadcast(lookup),
              col(c).cast("string") === col("__mrk"), "left").drop("__mrk")
            col(vcol)
          } else mapExpr(col(c), m)
        enc -> finishEnc(col(c), looked, enc)
          .as(enc, graft.core.CategoryMetadata.of(c,
            m.keys.toSeq.sorted))
      }
    }
    project(joined, exprs).drop(tmpCols.toSeq: _*)
  }

  override def featureNamesOut: Seq[String] = encodedColumns

  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "response_column" -> responseColumn,
    "prior" -> prior, "weights_column" -> weightsColumn.orNull,
    "unseen_level_handling" -> (unseenLevelHandling match {
      case None => null
      case Some(Left(v)) => v
      case Some(Right(s)) => s
    }),
    "level" -> level, "return_type" -> returnType)
  override def fitParams: Map[String, Any] = Map(
    "mappings" -> mappings,
    "unseen_levels_encoding_dict" -> unseenEncoding,
    "encoded_columns" -> encodedColumns)
  override def restoreFit(fit: Map[String, Any]): this.type = {
    mappings = fit("mappings").asInstanceOf[Map[String, Map[String, Double]]]
    unseenEncoding =
      fit("unseen_levels_encoding_dict").asInstanceOf[Map[String, Double]]
    encodedColumns = fit("encoded_columns").asInstanceOf[Seq[String]]
    super.restoreFit(fit)
  }
}

/** One-hot as plain boolean columns `{col}{sep}{level}`
  * (tubular/nominal.py:1427-1843). Levels learned sorted, capped at
  * 100; null input row -> null dummies (equality with null).
  */
class OneHotEncodingTransformer(
    val columns: Seq[String],
    val separator: String = "_",
    val wantedValues: Map[String, Seq[String]] = Map.empty,
    val dropOriginal: Boolean = false
) extends Transformer with graft.core.AggFittable {
  override def needsFit: Boolean = true

  var categories: Map[String, Seq[String]] = Map.empty

  /** Output names depend on LEARNED levels -> fusion barrier, unless
    * the user pinned wanted_values. Pre-fit with wanted_values the
    * names come from the init param (categories is still empty then —
    * Pipeline.fit consults writtenCols while planning fusion runs).
    */
  override def writtenCols: Option[Seq[String]] =
    if (categories.nonEmpty) Some(featureNamesOut)
    else if (wantedValues.nonEmpty)
      Some(columns.flatMap(c =>
        wantedValues.getOrElse(c, Seq.empty).map(l => s"$c$separator$l")))
    else None

  override def fitAggExprs(df: DataFrame): Seq[Column] = {
    requireStringLike(df, columns)
    if (wantedValues.nonEmpty) Seq.empty
    else columns.flatMap(c => Seq(
      // cardinality sentinel in the SAME fused agg: a mistaken ID
      // column errors cleanly from the approx count instead of blowing
      // the collect_set buffer / driver row
      approx_count_distinct(col(c).cast("string")),
      // slice caps the transferred row at 102 entries — enough to
      // detect >100 exactly, bounded no matter the true cardinality
      slice(sort_array(collect_set(col(c).cast("string"))), 1, 102)))
  }

  override def absorbAggRow(row: org.apache.spark.sql.Row,
      offset: Int): Unit = {
    categories =
      if (wantedValues.nonEmpty) wantedValues
      else columns.zipWithIndex.map { case (c, i) =>
        val approx = row.getLong(offset + 2 * i)
        if (approx > 1000) // far above the cap even with HLL error
          throw new IllegalArgumentException(
            s"$classname: column $c has ~$approx levels (>100 cap, " +
              "tubular/nominal.py:1714-1720)")
        val lv = row.getAs[scala.collection.Seq[String]](offset + 2 * i + 1)
          .toSeq.sorted
        if (lv.isEmpty)
          throw new IllegalStateException(
            s"$classname: column $c has no non-null levels")
        if (lv.size > 100) // exact: slice kept 102 entries, so >100 shows
          throw new IllegalArgumentException(
            s"$classname: column $c has >100 levels (>100 cap, " +
              "tubular/nominal.py:1714-1720)")
        c -> lv
      }.toMap
    fittedFlag = true
  }

  override def fit(df: DataFrame): this.type = {
    baseFitChecks(df)
    val exprs = fitAggExprs(df).zipWithIndex.map { case (e, i) =>
      e.as(s"__agg$i")
    }
    if (exprs.isEmpty) absorbAggRow(null, 0)
    else absorbAggRow(df.agg(exprs.head, exprs.tail: _*).head(), 0)
    this
  }

  override def transformExprs(df: DataFrame): Seq[(String, Column)] =
    columns.flatMap { c =>
      // each dummy carries the FULL learned category universe of its
      // source column in StructField.metadata (SURVEY §1.3)
      val md = graft.core.CategoryMetadata.of(c, categories(c))
      categories(c).map { l =>
        val n = s"$c$separator$l"
        n -> (col(c).cast("string") === lit(l)).as(n, md)
      }
    }

  override def transform(df: DataFrame): DataFrame = {
    val out = super.transform(df)
    if (dropOriginal) out.drop(columns: _*) else out
  }

  override def featureNamesOut: Seq[String] =
    columns.flatMap(c => categories(c).map(l => s"$c$separator$l"))

  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "separator" -> separator,
    "wanted_values" -> wantedValues, "drop_original" -> dropOriginal)
  override def fitParams: Map[String, Any] =
    Map("categories_" -> categories)
  override def restoreFit(fit: Map[String, Any]): this.type = {
    categories = fit("categories_").asInstanceOf[Map[String, Seq[String]]]
    super.restoreFit(fit)
  }
}

/** Hashing-trick categorical encoder (sklearn `FeatureHasher` /
  * Vowpal-Wabbit style): `{c}_hash = hash(value) mod nFeatures`, with
  * an optional ±1 `{c}_sign` from an independent hash bit (the
  * classic collision-bias canceller). STATELESS — no fit, no level
  * vocabulary, no cardinality cap: this is the encoder that still
  * works when one-hot's 100-level limit and the level-map collects
  * are off the table (10^8-cardinality URL/domain/id columns at
  * corpus scale). Null encodes to null.
  *
  * `hashName`:
  *  - "md5" (default): bucket from the first 15 hex chars of
  *    md5(value) — engine-portable (the DuckDB oracle reproduces it
  *    digit-for-digit, q90);
  *  - "xxhash64": Spark's codegen'd 64-bit hash — fastest, for
  *    production pipelines that never leave Spark.
  */
class HashingEncoderTransformer(
    val columns: Seq[String],
    val nFeatures: Int,
    val hashName: String = "md5",
    val signed: Boolean = false
) extends Transformer {
  require(nFeatures > 0, s"n_features must be positive, got $nFeatures")
  require(Seq("md5", "xxhash64").contains(hashName),
    s"hash must be md5 or xxhash64, got $hashName")

  private def bucket(c: Column): Column = hashName match {
    case "md5" =>
      pmod(conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(nFeatures.toLong))
    case _ => pmod(xxhash64(c.cast("string")), lit(nFeatures.toLong))
  }

  /** Independent bit: md5 tail (or a salted xxhash64), LSB -> ±1. */
  private def sign(c: Column): Column = {
    val bit = hashName match {
      case "md5" =>
        conv(substring(md5(c.cast("string")), 17, 1), 16, 10)
          .cast("long") % 2
      case _ => pmod(xxhash64(c.cast("string"), lit("sign")), lit(2L))
    }
    when(bit === 0, 1).otherwise(-1)
  }

  override def transformExprs(df: DataFrame): Seq[(String, Column)] =
    columns.flatMap { c =>
      val base = Seq(s"${c}_hash" ->
        when(col(c).isNull, lit(null).cast("int"))
          .otherwise(bucket(col(c)).cast("int")))
      if (signed) base :+ (s"${c}_sign" ->
        when(col(c).isNull, lit(null).cast("int"))
          .otherwise(sign(col(c)).cast("int")))
      else base
    }

  override def featureNamesOut: Seq[String] =
    columns.flatMap(c => Seq(s"${c}_hash") ++
      (if (signed) Seq(s"${c}_sign") else Seq.empty))
  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "n_features" -> nFeatures,
    "hash" -> hashName, "signed" -> signed)
}

/** Frequency / count encoder (category_encoders `CountEncoder`
  * semantics; no reference counterpart — tubular stops at one-hot /
  * ordinal / mean-response, `tubular/nominal.py`): each level encodes
  * to its (weighted) training count, or its share of total weight with
  * `normalize=true`. The unsupervised workhorse for high-cardinality
  * columns where a target is unavailable — at corpus scale the "how
  * common is this domain/license/source" feature.
  *
  * Fit is ONE melt + map-side-combined groupBy for ALL columns (k
  * columns ≠ k scans); the learned maps fold into a single map-only
  * projection. Unseen levels -> `unseenValue` (0.0 = "never seen in
  * training", the natural frequency). Nulls pass through as null.
  */
class CountEncoderTransformer(
    val columns: Seq[String],
    val normalize: Boolean = false,
    val weightsColumn: Option[String] = None,
    val unseenValue: Double = 0.0
) extends Transformer {
  override def needsFit: Boolean = true
  override def fitInputCols: Seq[String] = columns ++ weightsColumn

  /** column -> (stringLevel -> count or share) */
  var counts: Map[String, Map[String, Double]] = Map.empty

  override def fit(df: DataFrame): this.type = {
    super.fit(df)
    requireStringLike(df, columns)
    val rows = Weights.fitRows(df, weightsColumn)
    val w = Weights.weightCol(weightsColumn).cast("double")
    val total =
      if (normalize) rows.agg(sum(w)).head().getDouble(0) else 1.0
    val pair = explode(array(columns.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("lvl"))): _*))
    val cap = graft.core.Limits.maxFitLevels(rows.sparkSession)
    val grouped = rows.select(pair.as("p"), w.as("__w"))
      .filter(col("p.lvl").isNotNull)
      .groupBy(col("p.c").as("c"), col("p.lvl").as("lvl"))
      .agg(sum(col("__w")).as("cnt"))
      .limit(cap + 1)
      .collect()
    if (grouped.length > cap)
      graft.core.Limits.levelCapError(classname, cap,
        s"across columns ${columns.mkString(", ")}")
    val byCol = grouped.groupBy(_.getString(0))
    counts = columns.map { c =>
      c -> byCol.getOrElse(c, Array.empty).map(r =>
        r.getString(1) -> r.getDouble(2) / total).toMap
    }.toMap
    this
  }

  override def transformExprs(df: DataFrame): Seq[(String, Column)] =
    columns.map { c =>
      val m = counts(c)
      val looked =
        if (m.isEmpty) lit(null).cast("double")
        else element_at(typedLit(m), col(c).cast("string"))
      c -> when(col(c).isNull, lit(null).cast("double"))
        .otherwise(coalesce(looked, lit(unseenValue)))
    }

  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "normalize" -> normalize,
    "weights_column" -> weightsColumn.orNull,
    "unseen_value" -> unseenValue)
  override def fitParams: Map[String, Any] = Map("counts_" -> counts)
  override def restoreFit(fit: Map[String, Any]): this.type = {
    counts = fit("counts_").asInstanceOf[Map[String, Map[String, Double]]]
    super.restoreFit(fit)
  }
}

/** Weight-of-evidence encoder (category_encoders `WOEEncoder`
  * semantics; no reference counterpart): for a BINARY 0/1 response,
  * `woe(level) = ln(((pos_l + a) / (pos_tot + 2a)) /
  * ((neg_l + a) / (neg_tot + 2a)))` with additive regularization `a`
  * — the credit-scoring / feature-screening standard that, unlike raw
  * mean-response, is symmetric in the classes and bounded by the
  * regularizer for rare levels.
  *
  * Fit: the response is validated strictly 0/1 non-null (a loud
  * failure beats a silently garbage encoding), then ONE melt +
  * groupBy for all columns computes (pos_l, n_l) per level; globals
  * come from the same pass's totals. Weighted rows supported
  * (pos = sum(w·y)). Unseen levels -> 0.0 (no evidence); nulls pass
  * through as null.
  */
class WoeEncoderTransformer(
    val columns: Seq[String],
    val responseColumn: String,
    val regularization: Double = 1.0,
    val weightsColumn: Option[String] = None
) extends Transformer {
  require(regularization > 0,
    s"regularization must be > 0, got $regularization")
  override def needsFit: Boolean = true
  override def fitInputCols: Seq[String] =
    columns ++ Seq(responseColumn) ++ weightsColumn

  /** column -> (stringLevel -> woe) */
  var mappings: Map[String, Map[String, Double]] = Map.empty

  override def fit(df: DataFrame): this.type = {
    super.fit(df)
    requireStringLike(df, columns)
    if (!df.columns.contains(responseColumn))
      throw new IllegalArgumentException(
        s"$classname: response column $responseColumn not in DataFrame")
    val y = col(responseColumn).cast("double")
    val badY = df.filter(y.isNull || (y =!= 0.0 && y =!= 1.0))
      .limit(1).count()
    if (badY > 0)
      throw new IllegalArgumentException(
        s"$classname: response column $responseColumn must be binary " +
          "0/1 with no nulls")
    val rows = Weights.fitRows(df, weightsColumn)
    val w = Weights.weightCol(weightsColumn).cast("double")
    val tot = rows.agg(sum(w * y).as("p"), sum(w).as("n")).head()
    val (posTot, negTot) = (tot.getDouble(0),
      tot.getDouble(1) - tot.getDouble(0))
    val a = regularization
    val pair = explode(array(columns.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("lvl"))): _*))
    val cap = graft.core.Limits.maxFitLevels(rows.sparkSession)
    val grouped = rows.select(pair.as("p"), w.as("__w"), y.as("__y"))
      .filter(col("p.lvl").isNotNull)
      .groupBy(col("p.c").as("c"), col("p.lvl").as("lvl"))
      .agg(sum(col("__w") * col("__y")).as("pos"),
        sum(col("__w")).as("n"))
      .limit(cap + 1)
      .collect()
    if (grouped.length > cap)
      graft.core.Limits.levelCapError(classname, cap,
        s"across columns ${columns.mkString(", ")}")
    val byCol = grouped.groupBy(_.getString(0))
    mappings = columns.map { c =>
      c -> byCol.getOrElse(c, Array.empty).map { r =>
        val pos = r.getDouble(2)
        val neg = r.getDouble(3) - pos
        r.getString(1) -> math.log(
          ((pos + a) / (posTot + 2 * a)) / ((neg + a) / (negTot + 2 * a)))
      }.toMap
    }.toMap
    this
  }

  override def transformExprs(df: DataFrame): Seq[(String, Column)] =
    columns.map { c =>
      val m = mappings(c)
      val looked =
        if (m.isEmpty) lit(null).cast("double")
        else element_at(typedLit(m), col(c).cast("string"))
      c -> when(col(c).isNull, lit(null).cast("double"))
        .otherwise(coalesce(looked, lit(0.0)))
        .as(c, graft.core.CategoryMetadata.of(c, m.keys.toSeq.sorted))
    }

  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "response_column" -> responseColumn,
    "regularization" -> regularization,
    "weights_column" -> weightsColumn.orNull)
  override def fitParams: Map[String, Any] = Map("mappings" -> mappings)
  override def restoreFit(fit: Map[String, Any]): this.type = {
    mappings = fit("mappings").asInstanceOf[Map[String, Map[String, Double]]]
    super.restoreFit(fit)
  }
}

/** Hashing-trick CROSS-feature encoder: the crossed categorical
  * `(col_1 x col_2 x ...)` mapped to a stable bucket id in
  * `[0, numBuckets)` — the unbounded-cardinality answer to the
  * one-hot / ordinal / count encoders above. No fit pass, no
  * vocabulary state, no growth as novel level combinations appear:
  * at 100 TB a raw (domain x language x source) cross has billions of
  * distinct combinations and any fitted map explodes, while the
  * hashed bucket is a pure stateless projection (whole-stage codegen,
  * zero shuffle, collision rate set by `numBuckets`).
  *
  * The bucket is the engine-portable [[graft.core.Hashing.md5Hash60]]
  * of the U+001F unit-separator-joined values with null as U+0001 — so
  * null vs empty string vs a value containing the separator cannot
  * collide, and an external engine reproduces the ids digit-for-digit
  * (q165's DuckDB oracle recomputes every bucket via
  * `md5(concat_ws(chr(31), coalesce(x, chr(1)), ...))`).
  */
class HashedCrossEncoder(
    val columns: Seq[String],
    val numBuckets: Int,
    val outputCol: String
) extends Transformer {
  require(columns.size >= 2,
    s"$classname: need >= 2 columns to cross, got ${columns.size}")
  require(numBuckets > 0,
    s"$classname: numBuckets must be > 0, got $numBuckets")

  override def transformExprs(df: DataFrame): Seq[(String, Column)] = {
    val parts = columns.map(c =>
      coalesce(col(c).cast("string"), lit("\u0001")))
    val joined = concat_ws("\u001f", parts: _*)
    Seq(outputCol -> pmod(graft.core.Hashing.md5Hash60(joined),
      lit(numBuckets.toLong)).cast("int"))
  }

  override def featureNamesOut: Seq[String] = Seq(outputCol)
  override def initParams: Map[String, Any] = Map(
    "columns" -> columns, "num_buckets" -> numBuckets,
    "output_col" -> outputCol)
}

/** OUT-OF-FOLD mean-response (target) encoding — the leakage-safe
  * training-table variant [[MeanResponseTransformer]] cannot be: a
  * fitted map encodes every training row with statistics that INCLUDE
  * its own response, so the encoded feature leaks the label into
  * training. The OOF rule encodes each row with the level's
  * statistics computed over every fold EXCEPT the row's own:
  *
  *   enc = (sum_level − sum_level_fold + prior·g)
  *       / (cnt_level − cnt_level_fold + prior)
  *
  * with `g` the full-table response mean (the
  * [[MeanResponseTransformer]] prior convention) and the fold an
  * engine-portable salted hash of the id (`md5_60(id#salt) mod k` —
  * the [[graft.text.Sharding]] hash-split discipline: a row can never
  * change folds as the corpus grows, and any engine reproduces the
  * assignment). A level exclusive to the row's own fold falls back to
  * the pure prior (null when `prior = 0`). For SERVING, fit the plain
  * [[MeanResponseTransformer]] on the full table — OOF is a
  * training-set transformation, not a fitted state.
  *
  * Exactness: with an integral-valued response (the q09 discipline)
  * every sum is exact in double at any aggregation order, so the
  * encoding matches a direct per-row recomputation bit-for-bit.
  * Scale shape: two map-side-combined bounded aggregations
  * (|levels|·|folds| and |levels| rows) + one 1-row global, all
  * broadcast back — the table is scanned once, nothing unbounded
  * moves.
  */
object OofMeanResponse {
  import org.apache.spark.sql.functions.broadcast

  def encode(df: DataFrame, idCol: String, colName: String,
      responseCol: String, nFolds: Int, salt: String,
      prior: Double = 0.0, outputCol: Option[String] = None)
      : DataFrame = {
    require(nFolds >= 2, s"oofMeanResponse: nFolds >= 2, got $nFolds")
    require(prior >= 0, s"oofMeanResponse: prior >= 0, got $prior")
    val out = outputCol.getOrElse(s"${colName}_oof")
    Seq(out, "__fold", "__g", "__ls", "__lc", "__lfs", "__lfc")
      .foreach(c => require(!df.columns.contains(c),
        s"oofMeanResponse: input already has a '$c' column"))
    val fold = pmod(graft.core.Hashing.md5Hash60(
      concat(col(idCol).cast("string"), lit(s"#$salt"))),
      lit(nFolds.toLong))
    val t = df.withColumn("__fold", fold)
    val y = col(responseCol).cast("double")
    val g = t.agg((sum(y) / count(lit(1))).as("__g"))
    val perLevelFold = t.groupBy(col(colName), col("__fold"))
      .agg(sum(y).as("__lfs"), count(lit(1)).as("__lfc"))
    val perLevel = perLevelFold.groupBy(col(colName))
      .agg(sum(col("__lfs")).as("__ls"), sum(col("__lfc")).as("__lc"))
    t.join(broadcast(perLevel), Seq(colName))
      .join(broadcast(perLevelFold), Seq(colName, "__fold"), "left")
      .crossJoin(broadcast(g))
      .withColumn(out, {
        val num = col("__ls") - coalesce(col("__lfs"), lit(0.0)) +
          lit(prior) * col("__g")
        val den = col("__lc") - coalesce(col("__lfc"), lit(0L)) +
          lit(prior)
        // explicit null for the prior=0 fold-exclusive level: IEEE
        // 0/0 is engine-dependent, a null is not
        when(den > 0, num / den)
      })
      .select((df.columns.toSeq :+ out).map(col): _*) // input order kept
  }
}

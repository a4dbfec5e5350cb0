package graft.operators

import graft.core.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-evaluation metrics for screening candidate features before
  * training: rank-based ROC AUC, tie-corrected Spearman correlation,
  * chi-squared / mutual-information independence tests, probability
  * calibration, and information value (the credit-scoring summary —
  * the single-number companion of [[graft.operators.Nominal]]'s
  * `WoeEncoderTransformer`).
  *
  * All are built so a 100 TB run never materializes per-row ranks:
  * AUC reduces to one groupBy over DISTINCT feature values plus the
  * two-phase exclusive cumulative sum
  * ([[graft.text.Sharding.exclusiveCumSumRaw]] — range-partitioned,
  * no single-partition stage), and IV is a \|levels\|-row aggregation.
  * Numerators are exact BIGINTs (pair half-units / integer
  * nano-units), so totals are independent of float summation order
  * and reproduce digit-for-digit in an external engine.
  */
object Eval {

  /** Rank-based (Mann-Whitney) ROC AUC of `scoreCol` against a binary
    * 0/1 `labelCol`, tie-corrected: with per-distinct-value counts
    * `(n_pos_v, n_neg_v)` and `cum_neg_v` = negatives strictly below
    * `v`,
    *
    *   AUC = sum_v n_pos_v * (cum_neg_v + n_neg_v / 2)
    *         / (n_pos * n_neg)
    *
    * (equal scores count half — the standard trapezoidal/rank
    * definition). The numerator is carried doubled as the exact
    * BIGINT `auc_num2 = sum_v n_pos_v * (2*cum_neg_v + n_neg_v)`.
    *
    * Rows with a null/NaN score or null label are excluded (count
    * reported as `n_excluded`). Labels must be 0/1 — anything else
    * fails loudly at action time. Output is ONE row:
    * `(n_pos, n_neg, n_excluded, auc_num2, auc)`; AUC is null when
    * either class is empty (undefined, not 0.5 by fiat).
    *
    * Shape: groupBy(score) — \|distinct scores\| rows — then the
    * two-phase exclusive cumsum over those aggregated rows and one
    * final scalar agg. Nothing scales with the raw row count past the
    * first partial aggregation.
    */
  def rankAuc(df: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame = {
    val v = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val valid = v.isNotNull && !isnan(v) && y.isNotNull
    // ONE scan: invalid rows fold into the same partial aggregation
    // under __ok=false (their count is the only thing kept); a
    // non-0/1 label on an otherwise-valid row fails loudly
    Lineage.scoped { sc =>
      val byValue = sc.persist(df
        .select(valid.as("__ok"),
          when(valid, v).as("__v"),
          when(!valid, lit(null).cast("long"))
            .when(y.isin(0L, 1L), y)
            .otherwise(raise_error(concat(lit(
              s"rankAuc: label $labelCol must be 0/1, got "),
              col(labelCol).cast("string")))).as("__y"))
        .groupBy(col("__ok"), col("__v"))
        .agg(sum(col("__y")).as("__np"),
          count(lit(1)).as("__n")))
      val excluded = byValue.filter(!col("__ok"))
        .agg(coalesce(sum(col("__n")), lit(0L)))
        .head().getLong(0)
      val levels = byValue.filter(col("__ok"))
        .withColumn("__nn", col("__n") - col("__np"))
      val ranked = graft.text.Sharding.exclusiveCumSumRaw(sc,
        levels, Seq(col("__v")), col("__nn") -> "__cum_nn")
      val agg = Lineage.cut(ranked.agg(
        sum(col("__np")).as("n_pos"),
        sum(col("__nn")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__cum_nn") + col("__nn")))
          .as("auc_num2")))
      agg.select(
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"),
        lit(excluded).as("n_excluded"),
        coalesce(col("auc_num2"), lit(0L)).as("auc_num2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("auc_num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")))
          .as("auc"))
    }
  }

  /** Tie-corrected Spearman rank correlation between two numeric
    * columns — the monotone-dependence screen (feature redundancy,
    * feature-vs-target ordering) that Pearson misses on non-linear
    * data. Computed as Pearson on DOUBLED average ranks: the average
    * rank of a value with `cnt` occurrences and `cum` rows strictly
    * below is `cum + (cnt+1)/2`, so its double `u = 2·cum + cnt + 1`
    * is an exact INTEGER — every moment (`Σu, Σv, Σuv, Σu², Σv²`) is
    * an exact BIGINT, summation-order-independent, and the final
    *
    *   rho = (n·Σuv − Σu·Σv) /
    *         (sqrt(n·Σu² − Σu·Σu) · sqrt(n·Σv² − Σv·Σv))
    *
    * is one deterministic double expression an external engine
    * reproduces digit-for-digit (doubling cancels). Null when either
    * column is constant (zero variance — undefined, not 0).
    *
    * Rows with a null/NaN value on either side are excluded
    * (`n_excluded`). Shape: one projected+persisted scan, two
    * groupBy-over-distinct-values + two-phase exclusive cumsums
    * (range-partitioned, no single-partition stage), two
    * \|distinct\|-row join-backs, one scalar agg. BIGINT moments
    * bound n at ~2^20 rows per call before Σu² can overflow at full
    * doubled-rank magnitude (n·(2n)² < 2^63) — callers screening
    * larger tables should rank-screen on a deterministic sample.
    */
  def spearman(df: DataFrame, colA: String, colB: String): DataFrame = {
    val (a, b) = (col(colA).cast("double"), col(colB).cast("double"))
    val valid = a.isNotNull && !isnan(a) && b.isNotNull && !isnan(b)
    val (excluded, agg) = Lineage.scoped { sc =>
      val sel = sc.persist(
        df.select(valid.as("__ok"), a.as("__a"), b.as("__b")))
      val excluded = sel.filter(!col("__ok")).count()
      val base = sel.filter(col("__ok"))
      def ranks(c: String, out: String) = graft.text.Sharding
        .exclusiveCumSum(base.groupBy(col(c)).agg(count(lit(1)).as("__c")),
          Seq(col(c)), col("__c") -> "__cum")
        .select(col(c),
          (lit(2L) * col("__cum") + col("__c") + lit(1L)).as(out))
      val ra = ranks("__a", "__u")
      val rb = ranks("__b", "__v")
      val joined = base.join(ra, "__a").join(rb, "__b")
      (excluded, Lineage.cut(joined.agg(count(lit(1)).as("n"),
        sum(col("__u")).as("sum_u"), sum(col("__v")).as("sum_v"),
        sum(col("__u") * col("__v")).as("sum_uv"),
        sum(col("__u") * col("__u")).as("sum_u2"),
        sum(col("__v") * col("__v")).as("sum_v2"))))
    }
    val nd = col("n").cast("double")
    val varU = nd * col("sum_u2") - col("sum_u").cast("double") *
      col("sum_u")
    val varV = nd * col("sum_v2") - col("sum_v").cast("double") *
      col("sum_v")
    agg.select(col("n"), lit(excluded).as("n_excluded"),
      col("sum_u"), col("sum_v"), col("sum_uv"), col("sum_u2"),
      col("sum_v2"),
      when(varU > 0.0 && varV > 0.0,
        (nd * col("sum_uv") - col("sum_u").cast("double") *
          col("sum_v")) / (sqrt(varU) * sqrt(varV)))
        .as("rho"))
  }

  /** Chi-squared + mutual-information screen of a categorical
    * `featureCol` against a 0/1 `labelCol` — the independence-test
    * companions of [[informationValue]] (IV needs WOE's direction;
    * chi²/MI detect ANY dependence, including non-monotone). Per
    * level `l` with counts `(np_l, nn_l)`, `n_l = np_l + nn_l`,
    * totals `(NP, NN, N)`:
    *
    *   e_c     = (n_l * C) / N                    (expected, c ∈ {NP, NN})
    *   chi2_l  = Σ_c (o_c - e_c)² / e_c           (0 when e_c = 0)
    *   mi_l    = Σ_c (o_c/N) · ln((o_c/N) / ((n_l/N) · (C/N)))
    *                                              (0 when o_c = 0)
    *
    * Output: one row per level — `(level, n_pos, n_neg, chi2_term,
    * mi_term)` — plus the exact BIGINT totals `chi2_total_nano` /
    * `mi_total_nano` (per-level nano-rounded then summed, so the
    * statistic is independent of float summation order; MI is in
    * nats). Null levels are evidence; unlabeled rows excluded;
    * non-0/1 labels loud. ONE \|levels\|-row map-side-combined
    * groupBy, O(\|levels\|) exchange at any scale.
    */
  def chiSqMutualInfo(df: DataFrame, featureCol: String,
      labelCol: String): DataFrame = {
    val y = col(labelCol).cast("long")
    val levels = df
      .select(col(featureCol).cast("string").as("level"),
        when(y.isNull, lit(null).cast("long"))
          .when(y.isin(0L, 1L), y)
          .otherwise(raise_error(concat(lit(
            s"chiSqMutualInfo: label $labelCol must be 0/1, got "),
            col(labelCol).cast("string")))).as("__y"))
      .filter(col("__y").isNotNull)
      .groupBy(col("level"))
      .agg(sum(col("__y")).as("n_pos"),
        sum(lit(1L) - col("__y")).as("n_neg"))
    val tot = levels.agg(sum(col("n_pos")).as("__np"),
      sum(col("n_neg")).as("__nn"))
    val n = (col("__np") + col("__nn")).cast("double")
    val nl = (col("n_pos") + col("n_neg")).cast("double")
    // exact operand order, mirrored verbatim by the oracle
    def chiCell(o: org.apache.spark.sql.Column,
        c: org.apache.spark.sql.Column) = {
      val e = nl * c.cast("double") / n
      when(e > 0.0,
        (o.cast("double") - e) * (o.cast("double") - e) / e)
        .otherwise(lit(0.0))
    }
    def miCell(o: org.apache.spark.sql.Column,
        c: org.apache.spark.sql.Column) = {
      val pxy = o.cast("double") / n
      when(o > 0L, pxy *
        log(pxy / ((nl / n) * (c.cast("double") / n))))
        .otherwise(lit(0.0))
    }
    val detail = levels.crossJoin(tot)
      .withColumn("chi2_term",
        chiCell(col("n_pos"), col("__np")) +
          chiCell(col("n_neg"), col("__nn")))
      .withColumn("mi_term",
        miCell(col("n_pos"), col("__np")) +
          miCell(col("n_neg"), col("__nn")))
      .withColumn("__cn", round(col("chi2_term") * lit(1e9), 0)
        .cast("long"))
      .withColumn("__mn", round(col("mi_term") * lit(1e9), 0)
        .cast("long"))
    detail
      .crossJoin(detail.agg(sum(col("__cn")).as("chi2_total_nano"),
        sum(col("__mn")).as("mi_total_nano")))
      .select(col("level"), col("n_pos"), col("n_neg"),
        col("chi2_term"), col("mi_term"), col("chi2_total_nano"),
        col("mi_total_nano"))
  }

  /** Calibration / reliability table of a probability `scoreCol` in
    * [0, 1] against a 0/1 `labelCol`: scores bucketed into `bins`
    * equal-width bins (`bin = min(floor(s * bins), bins - 1)` — 1.0
    * folds into the last bin), one row per non-empty bin with
    *
    *   - `n`, `n_pos`            exact counts
    *   - `sum_score_micro`       BIGINT sum of `round(s * 1e6)` —
    *                             integer micro-units, so the bin's
    *                             score mass is independent of float
    *                             summation order
    *   - `mean_pred`, `frac_pos` derived doubles
    *   - `ece_nano`              the table-wide expected calibration
    *                             error `Σ_b n_b·|frac_b − mean_b|` in
    *                             BIGINT nano-units weighted by count
    *                             (rounded per bin, then summed — exact)
    *
    * Out-of-range scores fail loudly (a "probability" of 1.7 is an
    * upstream bug, not a bin); null score/label rows are excluded.
    * ONE map-side-combined groupBy — `bins` rows on the wire.
    */
  def calibrationTable(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need >= 2 bins, got $bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val valid = s.isNotNull && !isnan(s) && y.isNotNull
    val sChecked = when(s >= 0.0 && s <= 1.0, s)
      .otherwise(raise_error(concat(lit(
        s"calibrationTable: score $scoreCol outside [0,1]: "),
        s.cast("string"))))
    val yChecked = when(y.isin(0L, 1L), y)
      .otherwise(raise_error(concat(lit(
        s"calibrationTable: label $labelCol must be 0/1, got "),
        col(labelCol).cast("string"))))
    val perBin = df.filter(valid)
      .select(least(floor(sChecked * bins), lit(bins - 1L)).as("bin"),
        round(sChecked * lit(1e6), 0).cast("long").as("__sm"),
        yChecked.as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__sm")).as("sum_score_micro"))
      .withColumn("mean_pred",
        col("sum_score_micro").cast("double") / lit(1e6) / col("n"))
      .withColumn("frac_pos",
        col("n_pos").cast("double") / col("n"))
      .withColumn("__e", col("n") *
        round(abs(col("frac_pos") - col("mean_pred")) * lit(1e9), 0)
          .cast("long"))
    perBin
      .crossJoin(perBin.agg(sum(col("__e")).as("ece_nano")))
      .drop("__e")
  }

  /** Information-value table of a categorical `featureCol` against a
    * binary 0/1 `labelCol`, using the SAME additive regularization as
    * `WoeEncoderTransformer`:
    *
    *   dist_pos_l = (pos_l + a) / (pos_tot + 2a)
    *   dist_neg_l = (neg_l + a) / (neg_tot + 2a)
    *   woe_l      = ln(dist_pos_l / dist_neg_l)
    *   iv_term_l  = (dist_pos_l - dist_neg_l) * woe_l
    *
    * Null feature values are their own level (a null-rate skew IS
    * evidence). Output: one row per level —
    * `(level, n_pos, n_neg, woe, iv_term)` — plus `iv_total_nano`,
    * the feature's total IV in exact BIGINT nano-units (conventional
    * reading: < 0.02 useless, 0.02–0.1 weak, 0.1–0.3 medium,
    * 0.3–0.5 strong).
    *
    * Shape: ONE map-side-combined groupBy(level) — \|levels\| rows on
    * the wire — and a broadcastable total; no per-row state.
    */
  def informationValue(df: DataFrame, featureCol: String,
      labelCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    val y = col(labelCol).cast("long")
    val levels = df
      .select(col(featureCol).cast("string").as("level"),
        when(y.isNull, lit(null).cast("long")) // unlabeled -> excluded
          .when(y.isin(0L, 1L), y)
          .otherwise(raise_error(concat(lit(
            s"informationValue: label $labelCol must be 0/1, got "),
            col(labelCol).cast("string")))).as("__y"))
      .filter(col("__y").isNotNull)
      .groupBy(col("level"))
      .agg(sum(col("__y")).as("n_pos"),
        sum(lit(1L) - col("__y")).as("n_neg"))
    val tot = levels.agg(sum(col("n_pos")).as("__pt"),
      sum(col("n_neg")).as("__nt"))
    // exact operand order, mirrored verbatim by the DuckDB oracle:
    // ((pos+a)/(pt+2a)) vs ((neg+a)/(nt+2a))
    val dp = (col("n_pos").cast("double") + lit(alpha)) /
      (col("__pt").cast("double") + lit(2 * alpha))
    val dn = (col("n_neg").cast("double") + lit(alpha)) /
      (col("__nt").cast("double") + lit(2 * alpha))
    val detail = levels.crossJoin(tot)
      .withColumn("woe", log(dp / dn))
      .withColumn("iv_term", (dp - dn) * col("woe"))
      .withColumn("__nano",
        round(col("iv_term") * lit(1e9), 0).cast("long"))
    detail
      .crossJoin(detail.agg(sum(col("__nano")).as("iv_total_nano")))
      .select(col("level"), col("n_pos"), col("n_neg"), col("woe"),
        col("iv_term"), col("iv_total_nano"))
  }

  /** CUPED variance-reduction adjustment (Deng et al., WSDM'13
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data" — public method): per experiment
    * cell `keyCol`, fit `theta = cov(x, y) / var(x)` over the
    * pre-experiment covariate and the metric, then emit
    * `y_adj = y - theta * (x - mean(x))` per row — same mean, less
    * variance, tighter A/B confidence intervals.
    *
    * Exact-moment discipline (the [[graft.temporal.WindowOps]]
    * contract): the fit pass carries integer micro-unit moments
    * (n, Σx, Σy, Σx², Σxy as decimal(38,0)) over the COMPLETE pairs
    * only (null/NaN = missing), and theta / mean(x) / the per-row
    * readout are fixed double expressions over those exact integers
    * — bit-reproducible in any engine. Rows with a missing metric
    * emit null; rows with a missing covariate — or a cell with
    * n < 2 or zero covariate variance, where theta is undefined —
    * emit the metric unadjusted (the standard mean-imputed-covariate
    * convention: the adjustment term is zero).
    *
    * Scale shape: one map-side-combined aggregation to \|cells\|
    * rows, broadcast back over the input — the transform stays a
    * single projection stage. Cells are experiment arms/strata:
    * bounded by design, like every broadcast fit map here.
    */
  def cupedAdjust(df: DataFrame, metricCol: String,
      covariateCol: String, keyCol: String): DataFrame = {
    Seq(s"${metricCol}_cuped", s"${metricCol}_theta", "__k", "__n",
      "__sx", "__sy", "__sxx", "__sxy", "__num", "__dx", "__theta",
      "__meanx").foreach(c => require(!df.columns.contains(c),
      s"cupedAdjust: input already has a column named '$c'"))
    def cleanMicro(c: String) = {
      val v = col(c).cast("double")
      round(when(isnan(v), lit(null)).otherwise(v) * lit(1e6), 0)
        .cast("long")
    }
    val my = cleanMicro(metricCol)
    val mx = cleanMicro(covariateCol)
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val pairX = when(my.isNotNull, mx) // both present
    val pairY = when(mx.isNotNull, my)
    val stats = df.groupBy(col(keyCol).as("__k"))
      .agg(count(pairX).as("__n"),
        sum(pairX).cast("decimal(38,0)").as("__sx"),
        sum(pairY).cast("decimal(38,0)").as("__sy"),
        sum((d19(pairX) * d19(pairX)).cast("decimal(38,0)"))
          .as("__sxx"),
        sum((d19(pairX) * d19(pairY)).cast("decimal(38,0)"))
          .as("__sxy"))
      .withColumn("__num", col("__n").cast("decimal(38,0)") *
        col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx", col("__n").cast("decimal(38,0)") *
        col("__sxx") - col("__sx") * col("__sx"))
      .select(col("__k"), col("__n"),
        when(col("__n") >= 2 && col("__dx") > 0,
          col("__num").cast("double") / col("__dx").cast("double"))
          .as("__theta"),
        (col("__sx").cast("double") / col("__n").cast("double"))
          .as("__meanx"))
    val joined = df.join(broadcast(stats),
      col(keyCol) <=> col("__k"), "left")
    val adj = when(my.isNull, lit(null).cast("double"))
      .otherwise(when(mx.isNull || col("__theta").isNull,
        my.cast("double") / lit(1e6))
        .otherwise((my.cast("double") - col("__theta") *
          (mx.cast("double") - col("__meanx"))) / lit(1e6)))
    joined.select(df.columns.map(col).toIndexedSeq ++ Seq(
      adj.as(s"${metricCol}_cuped"),
      col("__theta").as(s"${metricCol}_theta")): _*)
  }

  /** Per-group BRIER score with skill — probability-forecast
    * quality per segment: `n`, `base_rate`,
    * `brier = Σ(p − y)²/n` computed on EXACT integer micro-unit
    * deviations (`round(p·1e6) − y·1e6`, so the sum is
    * engine-exact decimal, not an order-dependent float fold), the
    * climatology reference `base_rate·(1 − base_rate)` and the
    * skill score `1 − brier/ref` (refused when the reference is 0 —
    * a one-class segment has no skill to measure). Rows with a
    * null/NaN score or null label count nowhere; scores must be
    * probabilities in [0, 1] (loud failure otherwise — a silent
    * clamp would hide a broken calibration upstream).
    *
    * Scale shape: one map-side-combined rollup; |groups| rows out.
    */
  def brierByGroup(df: DataFrame, keyCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val p = col(scoreCol).cast("double")
    val clean = when(isnan(p), lit(null)).otherwise(p)
    val y = col(labelCol).cast("long")
    val base = df.filter(col(keyCol).isNotNull &&
      clean.isNotNull && y.isNotNull)
    val mp = round(clean * lit(1e6), 0).cast("long")
    val d = mp - y * lit(1000000L)
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val agg = base.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(y).as("__sy"),
      sum((d19(d) * d19(d)).cast("decimal(38,0)")).as("__sd2"),
      min(mp).as("__mn"), max(mp).as("__mx"))
    val nD = col("n").cast("double")
    val br = col("__sy").cast("double") / nD
    val brier = col("__sd2").cast("double") / nD / lit(1e12)
    val ref = br * (lit(1.0) - br)
    agg.select(col(keyCol), col("n"),
      when(col("__mn") < 0 || col("__mx") > 1000000L,
        raise_error(concat(lit("brierByGroup: score outside [0,1] " +
          "for key "), col(keyCol).cast("string"))))
        .otherwise(br).as("base_rate"),
      brier.as("brier"), ref.as("brier_ref"),
      when(ref > 0, lit(1.0) - brier / ref).as("brier_skill"))
  }

  /** CUMULATIVE GAINS / decile-lift table — the scorecard every
    * ranking model ships with: rows are ranked by score (desc, ties
    * by `idCol`), cut into `nBins` NTILE deciles via the exact
    * integer NTILE replica (the same
    * [[graft.operators.Behavior.rfmScores]] rule DuckDB's literal
    * NTILE reproduces bucket-for-bucket), and each decile reports
    * `n`, `n_pos`, `pos_rate`, cumulative captures
    * (`capture_rate` = share of ALL positives found so far) and
    * `cum_lift` (cross-multiplied exact integers:
    * `(cum_pos·N) / (cum_n·P)`).
    *
    * Scale shape: the global rank is the two-phase range-partitioned
    * cumsum (no single-partition window anywhere on row-grain data);
    * the per-bin rollup is map-side combined; ONLY the ≤ nBins
    * aggregated rows come to the driver for the running totals — the
    * same bounded-state pattern as every fitted map. Rows with a
    * null/NaN score or null label are excluded (they can be neither
    * ranked nor counted).
    */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      idCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 100,
      s"gainsTable: nBins in [2,100], got $nBins")
    val s = col(scoreCol).cast("double")
    val score = when(isnan(s), lit(null)).otherwise(s)
    val y = col(labelCol).cast("long")
    val base = df
      .filter(score.isNotNull && y.isNotNull)
      .select(score.as("__s"), y.as("__y"), col(idCol).as("__id"))
    val binsRows = Lineage.scoped { sc =>
      val ranked = graft.text.Sharding.exclusiveCumSumRaw(sc,
        base, Seq(col("__s").desc, col("__id").asc), lit(1L) -> "__r0")
      val withN = ranked.crossJoin(
        broadcast(ranked.agg(count(lit(1)).as("__N"))))
      // SQL NTILE on 1-based rank r over N rows: the first N mod b
      // bins take (N div b)+1 rows each (rfmScores' exact rule)
      val q = floor(col("__N") / nBins).cast("long")
      val rem = col("__N") - q * nBins
      val r = col("__r0") + 1
      val first = floor((r - 1) / (q + 1)).cast("long") + 1
      val rest = rem + floor((r - 1 - rem * (q + 1)) / q)
        .cast("long") + 1
      val bin = when(r <= rem * (q + 1), first).otherwise(rest)
        .cast("int")
      withN.groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
        .orderBy("bin")
        .collect() // bounded: <= nBins aggregated rows
    }
    val totN = binsRows.map(_.getLong(1)).sum
    val totP = binsRows.map(_.getLong(2)).sum
    var cn = 0L; var cp = 0L
    val out = binsRows.map { r =>
      cn += r.getLong(1); cp += r.getLong(2)
      (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(2).toDouble / r.getLong(1).toDouble,
        cn, cp,
        if (totP > 0) cp.toDouble / totP.toDouble else Double.NaN,
        if (totP > 0 && cn > 0)
          (BigInt(cp) * BigInt(totN)).toDouble /
            (BigInt(cn) * BigInt(totP)).toDouble
        else Double.NaN)
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toSeq.toDF("bin", "n", "n_pos", "pos_rate", "cum_n",
      "cum_pos", "capture_rate", "cum_lift")
      .withColumn("capture_rate",
        when(isnan(col("capture_rate")), lit(null))
          .otherwise(col("capture_rate")))
      .withColumn("cum_lift",
        when(isnan(col("cum_lift")), lit(null))
          .otherwise(col("cum_lift")))
  }

  /** Per-group SMOOTHED success rate — the serve-safe CTR/CVR
    * feature: raw `rate = k/n` plus the WILSON lower bound at
    * confidence `z` (the ranking statistic that stops a 1/1 novice
    * outranking a 980/1000 veteran). Emits `n_obs`, `n_success`,
    * `rate`, `wilson_lb`; a group with zero observations of the
    * success flag is absent (nothing to rate).
    *
    * Exactness: n and k are exact integers from one map-side-
    * combined rollup; the bound is ONE fixed-operand-order double
    * chain with z embedded as a compile-time literal, so any engine
    * replays it to the ulp. Null success flags count in neither n
    * nor k (an unlabeled impression is not a failure).
    */
  /** Empirical-Bayes BETA-BINOMIAL shrinkage of per-group success
    * rates — [[wilsonRate]]'s model-based sibling: fit (α, β) to the
    * population of per-group rates by method of moments, then shrink
    * every group toward the population mean with strength
    * proportional to its evidence: `shrunk = (k + α) / (n + α + β)`.
    * A 1/1 group lands near the prior; a 980/1000 group barely
    * moves. Emits `n_obs`, `n_success`, `rate`, `shrunk_rate`.
    *
    * Exactness: per-group rates are quantized to exact integer
    * MICRO-units for the moment fit (Σm, Σm² ride exact integer
    * aggregation, so the fitted α/β are one deterministic double
    * chain from integers — engine-reproducible, never a float-sum
    * race); the fit is a bounded 3-register collect. A degenerate
    * population (zero variance, or moments outside the beta family)
    * falls back to no shrinkage (`shrunk = rate`).
    */
  def shrunkenRate(df: DataFrame, keyCol: String,
      successCol: Column): DataFrame = {
    val perKey = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(when(successCol.isNotNull, lit(1))).as("n_obs"),
        count(when(successCol === true, lit(1))).as("n_success"))
      .filter(col("n_obs") > 0)
    val m = round(col("n_success").cast("double") /
      col("n_obs").cast("double") * lit(1e6), 0).cast("long")
    val fit = perKey.agg(count(lit(1)).as("e"),
      sum(m.cast("decimal(38,0)")).as("s1"),
      sum((m.cast("decimal(19,0)") * m.cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("s2")).head()
    val e = fit.getLong(0)
    val s1 = if (fit.isNullAt(1)) 0.0 else fit.getDecimal(1).doubleValue()
    val s2 = if (fit.isNullAt(2)) 0.0 else fit.getDecimal(2).doubleValue()
    val a = if (e > 0) s1 / e else 0.0
    val b = if (e > 0) s2 / e else 0.0
    val mean = a / 1e6
    val v = b / 1e12 - (a / 1e6) * (a / 1e6)
    val ab = if (v > 0) mean * (1 - mean) / v - 1 else -1.0
    val (alpha, beta) =
      if (ab > 0 && mean > 0 && mean < 1) (mean * ab, ab - mean * ab)
      else (0.0, 0.0)
    val nD = col("n_obs").cast("double")
    val kD = col("n_success").cast("double")
    val shrunk =
      if (alpha > 0 && beta > 0)
        (kD + lit(alpha)) / (nD + lit(alpha + beta))
      else kD / nD
    perKey.select(col(keyCol), col("n_obs"), col("n_success"),
      (kD / nD).as("rate"), shrunk.as("shrunk_rate"))
  }

  def wilsonRate(df: DataFrame, keyCol: String, successCol: Column,
      z: Double = 1.96): DataFrame = {
    require(z > 0, s"wilsonRate: z > 0, got $z")
    val agg = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(when(successCol.isNotNull, lit(1))).as("n_obs"),
        count(when(successCol === true, lit(1))).as("n_success"))
      .filter(col("n_obs") > 0)
    val nD = col("n_obs").cast("double")
    val kD = col("n_success").cast("double")
    val p = kD / nD
    // z^2 routed through the shortest-decimal-repr DECIMAL conversion
    // (unscaled / 10^scale, two double roundings) instead of fl(z*z):
    // SQL engines that parse a bare numeric literal as DECIMAL (DuckDB
    // — the certifying oracle) land on THIS double for the emitted
    // literal, 1 ulp above fl(1.96*1.96). The bound shifts by <1e-16
    // (statistically nothing), and the whole chain becomes
    // bit-reproducible against such engines — with fl(z*z) the n=5/10
    // zero-success rows land an ulp below zero and round to -0.0
    // while the oracle's land exactly on +0.0 (driver-red q393, r5).
    val zBd = new java.math.BigDecimal(java.lang.Double.toString(z * z))
    val z2 = lit(zBd.unscaledValue.doubleValue() /
      math.pow(10, zBd.scale))
    val lb = (p + z2 / (nD * 2) - lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + z2 / (nD * nD * 4))) /
      (lit(1.0) + z2 / nD)
    agg.select(col(keyCol), col("n_obs"), col("n_success"),
      p.as("rate"), lb.as("wilson_lb"))
  }
}

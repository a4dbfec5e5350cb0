package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Weighted statistics as Catalyst expressions
  * (reference tubular/_stats.py, tubular/capping.py:335-452).
  *
  * All fits run as ONE distributed aggregation job; only scalar results
  * cross to the driver.
  */
object Stats {

  /** Weighted mean ignoring null values:
    * sum(w*x | x not null) / sum(w | x not null)
    * (tubular/_stats.py:54-131).
    */
  def weightedMean(x: Column, w: Column): Column =
    sum(when(x.isNotNull, w.cast("double") * x.cast("double"))) /
      sum(when(x.isNotNull, w.cast("double")))

  /** Weighted mean with the weight-validity predicate folded into the
    * aggregate (instead of a pre-filter), so several fits can share one
    * unfiltered scan (AggFittable fusion).
    */
  def weightedMeanWhere(x: Column, w: Column, valid: Column): Column =
    sum(when(valid && x.isNotNull, w.cast("double") * x.cast("double"))) /
      sum(when(valid && x.isNotNull, w.cast("double")))

  /** Weighted median: minimum value whose cumulative weight fraction
    * (ordered by value) reaches 0.5 (tubular/_stats.py:5-51).
    * Distributed: groupBy(value) collapses duplicates first, so the
    * global cumulative window runs over distinct values only.
    */
  def weightedMedianValue(
      df: DataFrame, value: String, weight: Column): Option[Double] =
    weightedMediansMelted(df, Seq(value), weight)(value)

  /** Weighted medians of SEVERAL columns in one distributed pass:
    * melt to (column, value, weight) rows, run the keyed cumulative
    * fraction, take min v with f >= 0.5 per column. One job for k
    * columns instead of k jobs.
    */
  def weightedMediansMelted(df: DataFrame, columns: Seq[String],
      weight: Column): Map[String, Option[Double]] = {
    val hits = Lineage.scoped(s =>
      keyedCumFractions(s, meltedPairs(df, columns, weight))
      .filter(col("f") >= 0.5)
      .groupBy(col("k")).agg(min(col("v")).as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    columns.map(c => c -> hits.get(c)).toMap
  }

  /** `columns` melted to (k = column name, v, w = `weight`) rows, all
    * doubles. Zero/null weights are dropped (all-zero weights would
    * make f = 0/0 = NaN, which Spark's NaN-greatest ordering lets PASS
    * f >= 0.5; a null weight would NPE the partition totals collect),
    * and NaN values are excluded like nulls (NaN sorts greatest,
    * shifting every fraction and winning the upper bracket —
    * groupedWeightedQuantiles filters it for the same reason).
    */
  private def meltedPairs(df: DataFrame, columns: Seq[String],
      weight: Column): DataFrame = {
    val pair = explode(array(columns.map(c =>
      struct(lit(c).as("k"), col(c).cast("double").as("v"))): _*))
    df.filter(weight.cast("double") =!= 0)
      .select(pair.as("p"), weight.cast("double").as("w"))
      .filter(col("p.v").isNotNull && !isnan(col("p.v")))
      .select(col("p.k").as("k"), col("p.v").as("v"), col("w"))
  }

  /** Distributed keyed cumulative fractions: input (k, v, w) rows;
    * output (k, v, f) with f the cumulative weight fraction WITHIN key
    * k, ordered by v. No single-partition stage anywhere:
    *   1. groupBy(k, v) collapses duplicates (map-side combine);
    *   2. repartitionByRange(k, v) — partitions ascend in (k, v);
    *   3. per-(key, partition) totals (tiny collect) become broadcast
    *      prefix offsets + per-key totals;
    *   4. Window.partitionBy(k, pid).orderBy(v) running sum + offset.
    * The result reads a range-partitioned copy persisted in `scope`.
    */
  private[graft] def keyedCumFractions(scope: Lineage.Scope,
      pairs: DataFrame): DataFrame = {
    val parts = math.max(1,
      pairs.sparkSession.sessionState.conf.numShufflePartitions)
    val ranged = scope.persist(pairs
      .groupBy(col("k"), col("v")).agg(sum(col("w")).as("w"))
      .repartitionByRange(parts, col("k"), col("v"))
      .withColumn("__pid", spark_partition_id()))
    val partTotals = ranged.groupBy(col("k"), col("__pid"))
      .agg(sum(col("w")).as("pw"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    val totals = partTotals.groupBy(_._1)
      .map { case (k, a) => k -> a.map(_._3).sum }
    val offsets = partTotals.groupBy(_._1).toSeq.flatMap { case (k, a) =>
      val sorted = a.sortBy(_._2)
      sorted.map(_._2).zip(
        sorted.map(_._3).scanLeft(0.0)(_ + _).init)
        .map { case (pid, off) => s"$k#$pid" -> off }.toSeq
    }.toMap
    if (partTotals.isEmpty)
      return ranged.select(col("k"), col("v"), lit(0.0).as("f"))
    val offCol = coalesce(element_at(typedLit(offsets),
      concat_ws("#", col("k"), col("__pid"))), lit(0.0))
    val totCol = element_at(typedLit(totals), col("k"))
    val wPart = Window.partitionBy(col("k"), col("__pid"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.select(col("k"), col("v"),
      ((sum(col("w")).over(wPart) + offCol) / totCol).as("f"))
  }

  /** Exact weighted quantiles of SEVERAL columns in one distributed
    * pass (np.interp semantics as [[weightedQuantiles]]): melt to
    * (column, value, weight), keyed cumulative fractions, then ONE
    * bracket aggregation for every (column, quantile).
    */
  def weightedQuantilesMelted(df: DataFrame,
      perCol: Map[String, Seq[Double]], weight: Column)
      : Map[String, Seq[Option[Double]]] = {
    require(perCol.values.flatten.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0,1], got $perCol")
    val cols = perCol.keys.toSeq.sorted
    val slots = cols.flatMap(c => perCol(c).indices.map(i => (c, i)))
    val aggs = slots.zipWithIndex.flatMap { case ((c, i), s) =>
      val q = perCol(c)(i)
      val in = col("k") === c
      Seq(
        max(when(in && col("f") <= q, col("f"))).as(s"f_lo_$s"),
        max(when(in && col("f") <= q, col("v"))).as(s"v_lo_$s"),
        min(when(in && col("f") >= q, col("f"))).as(s"f_hi_$s"),
        min(when(in && col("f") >= q, col("v"))).as(s"v_hi_$s"))
    }
    val row = Lineage.scoped(s => keyedCumFractions(s,
      meltedPairs(df, cols, weight)).agg(aggs.head, aggs.tail: _*).head())
    val bySlot = slots.zipWithIndex.map { case ((c, i), s) =>
      (c, i) -> interp(perCol(c)(i),
        Option(row.getAs[java.lang.Double](s"f_lo_$s")).map(_.toDouble),
        Option(row.getAs[java.lang.Double](s"v_lo_$s")).map(_.toDouble),
        Option(row.getAs[java.lang.Double](s"f_hi_$s")).map(_.toDouble),
        Option(row.getAs[java.lang.Double](s"v_hi_$s")).map(_.toDouble))
    }.toMap
    cols.map(c => c -> perCol(c).indices.map(i => bySlot((c, i)))).toMap
  }

  /** np.interp bracket resolution (tubular/capping.py:440-448). */
  private def interp(q: Double, fLo: Option[Double], vLo: Option[Double],
      fHi: Option[Double], vHi: Option[Double]): Option[Double] =
    (fLo, vLo, fHi, vHi) match {
      case (None, None, None, None) => None // no valid rows
      case (None, _, _, Some(v)) => Some(v) // q below first cum frac
      case (_, Some(v), None, _) => Some(v) // q above last (==1) frac
      case (Some(fl), Some(vl), Some(fh), Some(vh)) =>
        if (fh == fl) Some(vl)
        else Some(vl + (q - fl) / (fh - fl) * (vh - vl))
      case _ => None
    }

  /** PER-GROUP exact weighted quantiles, same np.interp semantics as
    * [[weightedQuantiles]] but keyed by a data column with the result
    * staying DISTRIBUTED — one row per (group, q), never collected
    * (group cardinality is data-sized, unlike the bounded column list
    * of the melted fits).
    *
    * Shape: groupBy(key, value) collapses duplicates (map-side
    * combine), one Window partitioning on key computes cumulative
    * fractions (buffering bounded by DISTINCT values per group, not
    * rows — the collapse runs first), one groupBy(key) computes every
    * quantile's brackets in a single agg, then interp is a projection.
    * All exchanges hash on the group key.
    */
  def groupedWeightedQuantiles(df: DataFrame, keyCol: String,
      valueCol: String, weight: Column, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0,1], got $qs")
    val pairs = df
      .filter(weight.cast("double") =!= 0)
      .select(col(keyCol).as("k"),
        col(valueCol).cast("double").as("v"),
        weight.cast("double").as("w"))
      // NaN is excluded from the FIT (it would sort as the largest
      // value and poison the upper brackets); the capping transform
      // passes NaN through untouched, so fit+transform stay coherent
      .filter(col("v").isNotNull && !isnan(col("v")))
      .groupBy(col("k"), col("v")).agg(sum(col("w")).as("w"))
    val wOrd = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("k"))
    val fv = pairs.select(col("k"), col("v"),
      (sum(col("w")).over(wOrd) / sum(col("w")).over(wAll)).as("f"))
    val aggs = qs.zipWithIndex.flatMap { case (q, i) =>
      Seq(
        max(when(col("f") <= q, col("f"))).as(s"flo_$i"),
        max(when(col("f") <= q, col("v"))).as(s"vlo_$i"),
        min(when(col("f") >= q, col("f"))).as(s"fhi_$i"),
        min(when(col("f") >= q, col("v"))).as(s"vhi_$i"))
    }
    val brackets = fv.groupBy(col("k")).agg(aggs.head, aggs.tail: _*)
    val slots = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("q"),
        interpCol(q, col(s"flo_$i"), col(s"vlo_$i"), col(s"fhi_$i"),
          col(s"vhi_$i")).as("quantile"))
    }
    brackets
      .select(col("k").as(keyCol),
        explode(array(slots: _*)).as("__s"))
      .select(col(keyCol), col("__s.q").as("q"),
        col("__s.quantile").as("quantile"))
  }

  /** [[interp]] as a Column projection (same case order). */
  private def interpCol(q: Double, fLo: Column, vLo: Column,
      fHi: Column, vHi: Column): Column =
    when(fLo.isNull && vLo.isNull && fHi.isNull && vHi.isNull,
      lit(null).cast("double"))
      .when(fLo.isNull, vHi)
      .when(fHi.isNull, vLo)
      .when(fHi === fLo, vLo)
      .otherwise(vLo + (lit(q) - fLo) / (fHi - fLo) * (vHi - vLo))

  /** Exact weighted quantiles with np.interp semantics
    * (tubular/capping.py:335-452): cumulative weight fraction
    * f_i = cumsum(w)/sum(w) over values sorted ascending; quantile q is
    * linearly interpolated between bracketing (f_i, v_i) pairs, clamped
    * to the first/last value outside [f_1, 1].
    *
    * Scale note: duplicates collapse via groupBy(value), and the
    * cumulative sum runs as range-partitioned per-partition prefix sums
    * with broadcast offsets (see cumFractions) — no single-partition
    * stage anywhere, so the exact path holds at full cardinality.
    */
  def weightedQuantiles(
      df: DataFrame, value: String, weight: Column,
      quantiles: Seq[Double]): Seq[Option[Double]] =
    weightedQuantilesMelted(df, Map(value -> quantiles), weight)(value)

  /** Quantile mapping / distribution alignment (a.k.a. quantile
    * normalization between snapshots): every value of `curCol` is
    * replaced by the REFERENCE distribution's quantile at the
    * value's own cumulative fraction —
    *
    *   mapped(x) = Q_ref( F_cur(x) )
    *
    * with both CDFs in the same np.interp semantics as every
    * quantile op here (f = cumw/totw over distinct values, linear
    * interpolation, clamped outside the reference's f range). The
    * domain-shift corrector: align a serving snapshot's feature
    * distribution onto the training snapshot's before scoring, or
    * normalize per-batch sensor drift away.
    *
    * Scale shape — NO single-partition stage anywhere:
    * both CDFs come from [[keyedCumFractions]] (range-partitioned
    * prefix sums, broadcast offsets); the f-space bracket lookup
    * runs as a union of reference points and probes, range-sorted,
    * filled per partition with DRIVER-CARRIED boundary payloads
    * (the same |partitions|-row collect-and-broadcast pattern as
    * the cumsums — a global `last_value IGNORE NULLS` window would
    * be one task). Cumulative weights are integer-valued doubles
    * (unit weights), so every f is exact and the DuckDB oracle's
    * plain global windows reproduce the fill bit-for-bit.
    *
    * Null/NaN current values map to null. Empty reference maps
    * everything to null.
    */
  def quantileMap(cur: DataFrame, curCol: String,
      ref: DataFrame, refCol: String,
      out: String = "mapped"): DataFrame = {
    // loud collision guard (the Assemble.features pattern): the final
    // join materializes __qx/__m and withColumn(out) would silently
    // shadow an existing column
    Seq(out, "__qx", "__m").foreach { c =>
      require(!cur.columns.contains(c),
        s"quantileMap: input already has a column named '$c' " +
          s"(reserved for the output/join scratch) — rename it first")
    }
    def side(d: DataFrame, c: String, k: String) = d
      .select(lit(k).as("k"), col(c).cast("double").as("v"),
        lit(1.0).as("w"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    // the (x -> mapped) table is |distinct cur| rows; it is cut so
    // every upstream cache can release (the rankAuc pattern) —
    // nothing cached survives this call
    val mapped = Lineage.scoped { s =>
      // BOTH CDFs in one keyed pass (one shuffle, one offsets collect)
      val allF = keyedCumFractions(s,
        side(cur, curCol, "c").unionByName(side(ref, refCol, "r")))
      val refF = allF.filter(col("k") === "r")
      val curF = allF.filter(col("k") === "c")
      val u = refF.select(col("f").as("s"), lit(1).as("isref"),
          col("f").as("fr"), col("v").as("vr"),
          lit(null).cast("double").as("x"))
        .unionByName(curF.select(col("f").as("s"),
          lit(0).as("isref"), lit(null).cast("double").as("fr"),
          lit(null).cast("double").as("vr"), col("v").as("x")))
      val lo = refCarryFill(s, u, forward = true)
      val hi = refCarryFill(s, u, forward = false)
      val q = col("q")
      Lineage.cut(lo.join(hi, "x")
        .select(col("x").as("__qx"),
          when(col("flo").isNull && col("vlo").isNull &&
            col("fhi").isNull && col("vhi").isNull,
            lit(null).cast("double"))
            .when(col("flo").isNull, col("vhi"))
            .when(col("fhi").isNull, col("vlo"))
            .when(col("fhi") === col("flo"), col("vlo"))
            .otherwise(col("vlo") + (q - col("flo")) /
              (col("fhi") - col("flo")) *
              (col("vhi") - col("vlo")))
            .as("__m")))
    }
    val vIn = col(curCol).cast("double")
    cur.join(mapped, vIn === col("__qx"), "left")
      .withColumn(out, when(vIn.isNull || isnan(vIn),
        lit(null).cast("double")).otherwise(col("__m")))
      .drop("__qx", "__m")
  }

  /** Parallel fill-with-carry over the (reference ∪ probe) f-space
    * union: range-partition on the fill order, fill reference
    * payloads per partition, and bridge partition boundaries with a
    * driver-collected |partitions|-row prefix (forward) / suffix
    * (backward) of boundary payloads. Forward order puts a
    * reference BEFORE a probe at equal f (f_r <= q inclusive);
    * backward order the reverse (f_r >= q inclusive). Returns probe
    * rows only: forward (x, q, flo, vlo), backward (x, fhi, vhi),
    * read from a range-partitioned copy persisted in `scope`.
    */
  private def refCarryFill(scope: Lineage.Scope, u: DataFrame,
      forward: Boolean): DataFrame = {
    val parts = math.max(1,
      u.sparkSession.sessionState.conf.numShufflePartitions)
    val ord: Seq[Column] =
      if (forward) Seq(col("s").asc, col("isref").desc)
      else Seq(col("s").asc, col("isref").asc)
    val ranged = scope.persist(u.repartitionByRange(parts, ord: _*)
      .withColumn("__pid", spark_partition_id()))
    val boundary = ranged.filter(col("isref") === 1)
      .groupBy(col("__pid"))
      .agg((if (forward) max_by(struct(col("fr"), col("vr")), col("fr"))
        else min_by(struct(col("fr"), col("vr")), col("fr"))).as("p"))
      .collect()
      .map(r => r.getInt(0) ->
        (r.getStruct(1).getDouble(0), r.getStruct(1).getDouble(1)))
      .sortBy(_._1)
    // carry(pid) = nearest preceding (forward) / following (backward)
    // partition's boundary payload, skipping ref-free partitions
    val carries: Map[Int, (Double, Double)] = {
      val pids = 0 until parts
      val walk = if (forward) pids else pids.reverse
      var last: Option[(Double, Double)] = None
      val m = scala.collection.mutable.Map[Int, (Double, Double)]()
      val byPid = boundary.toMap
      walk.foreach { pid =>
        last.foreach(p => m(pid) = p)
        byPid.get(pid).foreach(p => last = Some(p))
      }
      m.toMap
    }
    val frMap = carries.map { case (k, v) => k -> v._1 }
    val vrMap = carries.map { case (k, v) => k -> v._2 }
    def carry(m: Map[Int, Double]) =
      if (m.isEmpty) lit(null).cast("double")
      else element_at(typedLit(m), col("__pid"))
    val w =
      if (forward) Window.partitionBy(col("__pid")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      else Window.partitionBy(col("__pid")).orderBy(ord: _*)
        .rowsBetween(0, Window.unboundedFollowing)
    def fill(c: String) = {
      val gated = when(col("isref") === 1, col(c))
      if (forward) last(gated, ignoreNulls = true).over(w)
      else first(gated, ignoreNulls = true).over(w)
    }
    val filled = ranged.select(col("x"), col("s"), col("isref"),
      coalesce(fill("fr"), carry(frMap)).as("__f"),
      coalesce(fill("vr"), carry(vrMap)).as("__v"))
      .filter(col("isref") === 0)
    if (forward)
      filled.select(col("x"), col("s").as("q"),
        col("__f").as("flo"), col("__v").as("vlo"))
    else
      filled.select(col("x"), col("__f").as("fhi"),
        col("__v").as("vhi"))
  }
}

package graft

import graft.core.Stats
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins Stats.weightedQuantiles to the reference's own doctest goldens
  * (/root/reference/tubular/capping.py:380-420) and weightedMedian to
  * tubular/_stats.py semantics.
  */
class StatsSpec extends SparkSpec {

  private val qs =
    Seq(0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)

  private def quantiles(vals: Seq[Double], ws: Seq[Double]): Seq[Double] = {
    val d = df("a DOUBLE, w DOUBLE",
      vals.zip(ws).map { case (v, w) => Row(v, w) })
    Stats.weightedQuantiles(d, "a", col("w"), qs).map(_.get)
  }

  private def round1(xs: Seq[Double]): Seq[Double] =
    xs.map(x => math.rint(x * 10) / 10)

  test("doctest: unit weights [1,2,3]") {
    assert(round1(quantiles(Seq(1, 2, 3), Seq(1, 1, 1))) ==
      Seq(1.0, 1.0, 1.0, 1.0, 1.2, 1.5, 1.8, 2.1, 2.4, 2.7, 3.0))
  }

  test("doctest: weights [0,1,0] collapse to the weighted value") {
    assert(round1(quantiles(Seq(1, 2, 3), Seq(0, 1, 0))) ==
      Seq.fill(11)(2.0))
  }

  test("doctest: weights [1,1,0]") {
    assert(round1(quantiles(Seq(1, 2, 3), Seq(1, 1, 0))) ==
      Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.2, 1.4, 1.6, 1.8, 2.0))
  }

  test("doctest: five unit-weight values") {
    assert(round1(quantiles(Seq(1, 2, 3, 4, 5), Seq(1, 1, 1, 1, 1))) ==
      Seq(1.0, 1.0, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0))
  }

  test("doctest: alternating zero weights") {
    val d = df("a DOUBLE, w DOUBLE",
      Seq(Row(1.0, 1.0), Row(2.0, 0.0), Row(3.0, 1.0), Row(4.0, 0.0),
        Row(5.0, 1.0)))
    val got = Stats.weightedQuantiles(d, "a", col("w"),
      Seq(0.0, 0.5, 1.0)).map(_.get)
    assert(round1(got) == Seq(1.0, 2.0, 5.0))
  }

  test("empty input -> None per quantile") {
    val d = df("a DOUBLE, w DOUBLE", Seq.empty)
    assert(Stats.weightedQuantiles(d, "a", col("w"), Seq(0.5)) == Seq(None))
  }

  test("NaN values and zero/null weights are excluded from melted " +
      "medians/quantiles (NaN sorts greatest and would poison the " +
      "fractions; all-zero weights must yield None, not min(v))") {
    val d = df("a DOUBLE, w DOUBLE", Seq(
      Row(1.0, 1.0), Row(2.0, 1.0), Row(Double.NaN, 1.0),
      Row(3.0, 0.0), Row(4.0, null)))
    // NaN row dropped, zero/null-weight rows dropped -> {1,2}: min v
    // with cumulative fraction >= 0.5 is 1.0 (f(1.0) = 0.5 exactly).
    // With the NaN kept, fractions shift (1/3, 2/3) AND the NaN row
    // itself would win the f >= 0.5 brackets
    assert(Stats.weightedMediansMelted(d, Seq("a"), col("w")) ==
      Map("a" -> Some(1.0)))
    assert(Stats.weightedQuantiles(d, "a", col("w"), Seq(1.0)) ==
      Seq(Some(2.0)))
    // every weight zero -> None (f = 0/0 = NaN used to PASS f >= 0.5)
    val zeros = df("a DOUBLE, w DOUBLE", Seq(
      Row(1.0, 0.0), Row(2.0, 0.0)))
    assert(Stats.weightedMediansMelted(zeros, Seq("a"), col("w")) ==
      Map("a" -> None))
  }

  test("distributed cum-frac: high-cardinality quantiles match brute force") {
    import spark.implicits._
    // 5000 distinct values spread over every shuffle partition, integer
    // weights -> exact arithmetic; brute-force np.interp oracle on the
    // driver must match the distributed prefix-sum path bit-for-bit
    val n = 5000
    val vals = (0 until n).map(i => (((i * 2654435761L) % n).toDouble,
      (i % 7 + 1).toDouble))
    val d = vals.toDF("x", "wt").repartition(32)
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99)
    val got = Stats.weightedQuantiles(d, "x", col("wt"), qs)

    val sorted = vals.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val cum = sorted.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    val expected = qs.map { q =>
      val iHi = cum.indexWhere(_ >= q)
      val iLo = cum.lastIndexWhere(_ <= q)
      if (iLo < 0) sorted(iHi)._1
      else if (iHi < 0) sorted(iLo)._1
      else if (cum(iHi) == cum(iLo)) sorted(iLo)._1
      else sorted(iLo)._1 + (q - cum(iLo)) / (cum(iHi) - cum(iLo)) *
        (sorted(iHi)._1 - sorted(iLo)._1)
    }
    got.zip(expected).foreach { case (g, e) =>
      assert(g.isDefined && math.abs(g.get - e) < 1e-9, s"got $g want $e")
    }
  }

  test("grouped quantiles match the melted single-group path per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 600).map { i =>
      (s"g${i % 5}", rnd.nextInt(100).toDouble, (i % 3 + 1).toDouble)
    }
    val d = rows.toDF("k", "x", "wt").repartition(16)
    val qs = Seq(0.05, 0.5, 0.95)
    val got = Stats.groupedWeightedQuantiles(d, "k", "x", col("wt"), qs)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    (0 until 5).foreach { g =>
      val sub = d.filter(col("k") === s"g$g")
      val exp = Stats.weightedQuantiles(sub, "x", col("wt"), qs)
      qs.zip(exp).foreach { case (q, e) =>
        assert(math.abs(got((s"g$g", q)) - e.get) < 1e-12,
          s"g$g q=$q")
      }
    }
  }

  test("capByGroupQuantiles: group caps applied; NaN/null pass through") {
    import graft.operators.GroupOps
    val d = df("k STRING, v DOUBLE",
      ((1 to 100).map(i => Row("a", i.toDouble)) ++
        Seq(Row("a", Double.NaN), Row("a", null),
          Row("b", 5.0))))
    val out = GroupOps.capByGroupQuantiles(d, "k", "v", 0.1, 0.9)
    val aVals = out.filter(col("k") === "a" && !isnan(col("v")) &&
      col("v").isNotNull).select("v").collect().map(_.getDouble(0))
    // np.interp p10/p90 of 1..100 (unit weights): brackets at
    // f=i/100 -> p10 = 10.0, p90 = 90.0 exactly
    assert(aVals.min == 10.0 && aVals.max == 90.0)
    assert(out.filter(isnan(col("v"))).count() == 1) // NaN untouched
    assert(out.filter(col("v").isNull).count() == 1) // null stays null
    // singleton group: p10 = p90 = the value itself
    assert(out.filter(col("k") === "b").head().getDouble(1) == 5.0)
  }

  test("cum-frac plan has no single-partition global window") {
    import spark.implicits._
    val pairs = (1 to 100).map(i => ("x", i.toDouble, 1.0))
      .toDF("k", "v", "w")
    graft.core.Lineage.scoped { s =>
      val fv = Stats.keyedCumFractions(s, pairs)
      val plan = fv.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"single-partition stage in cum-frac plan:\n$plan")
    }
  }

  test("weighted median = min value with cum-weight-frac >= 0.5") {
    val d = df("a DOUBLE, w DOUBLE",
      Seq(Row(1.0, 1.0), Row(2.0, 1.0), Row(3.0, 1.0), Row(4.0, 1.0)))
    // fracs .25 .5 .75 1.0 -> first >= .5 is 2.0 (NOT interpolated 2.5)
    assert(Stats.weightedMedianValue(d, "a", col("w")).get == 2.0)
  }

  test("quantileMap: aligned fractions map exactly, duplicates shift " +
      "fractions, below-range clamps, null/NaN and empty-ref null") {
    def one(rows: Seq[Double]) =
      df("x DOUBLE", rows.map(Row(_)))
    // matched shapes: F_cur hits the ref CDF's own fractions exactly
    val cur = one(Seq(1.0, 2.0, 3.0, 4.0))
    val ref = one(Seq(10.0, 20.0, 30.0, 40.0))
    val got = Stats.quantileMap(cur, "x", ref, "x")
      .orderBy("x").collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(10.0, 20.0, 30.0, 40.0))
    // duplicate current values shift f: cur {1,1,2} -> f(1)=2/3,
    // f(2)=1; ref {10,20,30} f = 1/3, 2/3, 1
    val got2 = Stats.quantileMap(one(Seq(1.0, 1.0, 2.0)), "x",
      one(Seq(10.0, 20.0, 30.0)), "x")
      .orderBy("x").collect().map(_.getDouble(1)).toSeq
    assert(got2 == Seq(20.0, 20.0, 30.0))
    // interpolation between ref fractions: cur {1,2} (f .5, 1) vs
    // ref {10,20,30,40} (f .25 .5 .75 1) -> Q(.5)=20 exactly
    val got3 = Stats.quantileMap(one(Seq(1.0, 2.0)), "x",
      one(Seq(10.0, 20.0, 30.0, 40.0)), "x")
      .orderBy("x").collect().map(_.getDouble(1)).toSeq
    assert(got3 == Seq(20.0, 40.0))
    // q below the ref's smallest fraction clamps to the first value
    val got4 = Stats.quantileMap(one(Seq(1.0, 2.0, 3.0, 4.0)), "x",
      one(Seq(50.0)), "x") // ref f = {1.0}
      .orderBy("x").collect().map(_.getDouble(1)).toSeq
    assert(got4 == Seq(50.0, 50.0, 50.0, 50.0))
    // null / NaN current values map to null; empty ref -> all null
    val weird = df("x DOUBLE",
      Seq(Row(1.0), Row(null), Row(Double.NaN)))
    val got5 = Stats.quantileMap(weird, "x", one(Seq(10.0)), "x")
      .collect().map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(got5.count(_ == null) == 2 && got5.contains(10.0))
    val empt = Stats.quantileMap(cur, "x", one(Seq.empty), "x")
      .collect()
    assert(empt.length == 4 && empt.forall(_.isNullAt(1)))
  }
}

package graft

import graft.operators.Eval
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, udf}

class EvalSpec extends SparkSpec {

  private def auc(rows: Seq[Row]) =
    Eval.rankAuc(df("s DOUBLE, y INT", rows), "s", "y").head()

  test("wilsonRate: exact counts, the 1/1 novice ranks below the " +
      "98/100 veteran, null flags count nowhere") {
    val d = df("k STRING, s BOOLEAN",
      Seq(Row("a", true), Row("a", false), Row("a", null),
        Row("b", true)) ++
        (1 to 98).map(_ => Row("c", true)) ++
        Seq(Row("c", false), Row("c", false)))
    val out = Eval.wilsonRate(d, "k", col("s"), z = 1.96)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toList
    val a = out(0); val b = out(1); val c = out(2)
    assert(a._2 == 2L && a._3 == 1L && a._4 == 0.5)
    def wilson(n: Double, k: Double): Double = {
      val z = 1.96; val z2 = z * z; val p = k / n
      (p + z2 / (n * 2) - z *
        math.sqrt(p * (1 - p) / n + z2 / (n * n * 4))) /
        (1 + z2 / n)
    }
    assert(math.abs(a._5 - wilson(2, 1)) < 1e-12)
    assert(b._4 == 1.0 && math.abs(b._5 - wilson(1, 1)) < 1e-12)
    assert(c._4 == 0.98)
    // the motivating property: smoothed rank flips the raw one
    assert(b._4 > c._4 && b._5 < c._5)
  }

  test("shrunkenRate: thin groups shrink hard toward the prior, " +
      "heavy groups barely move, degenerate population falls back") {
    val d = df("k STRING, s BOOLEAN",
      (1 to 50).map(_ => Row("lo", false)) ++   // 0/50
        (1 to 50).map(_ => Row("hi", true)) ++  // 50/50
        Seq(Row("novice", true)) ++             // 1/1
        (1 to 50).map(i => Row("mid", i <= 25))) // 25/50
    val out = Eval.shrunkenRate(d, "k", col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    val (nN, rawN, shrN) = out("novice")
    assert(nN == 1L && rawN == 1.0)
    // one observation: pulled visibly off its raw 1.0
    assert(shrN < 0.95 && shrN > 0.0)
    val (_, rawHi, shrHi) = out("hi")
    assert(rawHi == 1.0 && shrHi > 0.9) // 50 obs: barely moves
    assert(shrN < shrHi)
    // degenerate population (all groups identical): no shrinkage
    val flat = df("k STRING, s BOOLEAN",
      Seq(Row("a", true), Row("a", false),
        Row("b", true), Row("b", false)))
    val fo = Eval.shrunkenRate(flat, "k", col("s")).collect()
    fo.foreach(r => assert(r.getDouble(4) == r.getDouble(3)))
  }

  test("rankAuc: perfect ordering -> 1.0, inverted -> 0.0, " +
      "ties count half") {
    val perfect = auc(Seq(Row(1.0, 0), Row(2.0, 0), Row(3.0, 1),
      Row(4.0, 1)))
    assert(perfect.getDouble(4) == 1.0)
    assert(perfect.getLong(3) == 2L * 2 * 2) // num2 = 2*n_pos*n_neg
    val inverted = auc(Seq(Row(4.0, 0), Row(3.0, 0), Row(1.0, 1),
      Row(2.0, 1)))
    assert(inverted.getDouble(4) == 0.0)
    // all-tied pairs: every pos/neg pair shares a value -> 0.5
    val tied = auc(Seq(Row(1.0, 0), Row(1.0, 1), Row(2.0, 0),
      Row(2.0, 1)))
    assert(tied.getDouble(4) == 0.5 && tied.getLong(3) == 4L)
  }

  test("rankAuc: hand-computed mixed case with exclusions") {
    // valid: (1,0) (2,1) (2,0) (3,1); excluded: null score, NaN
    // score, null label
    val r = auc(Seq(Row(1.0, 0), Row(2.0, 1), Row(2.0, 0), Row(3.0, 1),
      Row(null, 1), Row(Double.NaN, 0), Row(5.0, null)))
    // values: 1 -> (np=0,nn=1); 2 -> (np=1,nn=1); 3 -> (np=1,nn=0)
    // num2 = 1*(2*1+1) + 1*(2*2+0) = 7; auc = 7/(2*2*2) = 0.875
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getLong(2) == 3)
    assert(r.getLong(3) == 7L && r.getDouble(4) == 0.875)
  }

  test("rankAuc: single-class input -> null AUC, not 0.5 by fiat") {
    val r = auc(Seq(Row(1.0, 1), Row(2.0, 1)))
    assert(r.getLong(0) == 2 && r.getLong(1) == 0 && r.isNullAt(4))
  }

  test("rankAuc: non-binary label on a valid row fails loudly") {
    val ex = intercept[Exception] {
      auc(Seq(Row(1.0, 0), Row(2.0, 2)))
    }
    assert(ex.getMessage != null)
  }

  test("informationValue: hand-computed WOE/IV terms, null level, " +
      "exact nano total") {
    // a: 3 pos 1 neg; b: 1 pos 3 neg; null: 0 pos 2 neg
    val d = df("f STRING, y INT", Seq(
      Row("a", 1), Row("a", 1), Row("a", 1), Row("a", 0),
      Row("b", 1), Row("b", 0), Row("b", 0), Row("b", 0),
      Row(null, 0), Row(null, 0)))
    val out = Eval.informationValue(d, "f", "y", alpha = 0.5)
      .collect().map(r => Option(r.getString(0)).orNull -> r).toMap
    def dist(c: Long, tot: Long) = (c + 0.5) / (tot + 1.0)
    def term(p: Long, n: Long) = {
      val (dp, dn) = (dist(p, 4), dist(n, 6))
      (math.log(dp / dn), (dp - dn) * math.log(dp / dn))
    }
    for ((lvl, p, n) <- Seq(("a", 3L, 1L), ("b", 1L, 3L),
        (null, 0L, 2L))) {
      val r = out(lvl)
      assert(r.getLong(1) == p && r.getLong(2) == n)
      assert(math.abs(r.getDouble(3) - term(p, n)._1) < 1e-12)
      assert(math.abs(r.getDouble(4) - term(p, n)._2) < 1e-12)
    }
    val expNano = Seq(("a", 3L, 1L), ("b", 1L, 3L), (null, 0L, 2L))
      .map { case (_, p, n) => math.round(term(p, n)._2 * 1e9) }.sum
    assert(out.values.forall(_.getLong(5) == expNano))
  }

  test("spearman: monotone -> 1, anti-monotone -> -1, ties via " +
      "doubled average ranks, exclusions counted") {
    val mono = df("a DOUBLE, b DOUBLE", Seq(
      Row(1.0, 1.0), Row(2.0, 4.0), Row(3.0, 9.0), Row(4.0, 16.0)))
    assert(math.abs(
      Eval.spearman(mono, "a", "b").head().getDouble(7) - 1.0) < 1e-12)
    val anti = df("a DOUBLE, b DOUBLE", Seq(
      Row(1.0, 16.0), Row(2.0, 9.0), Row(3.0, 4.0), Row(4.0, 1.0)))
    assert(math.abs(
      Eval.spearman(anti, "a", "b").head().getDouble(7) + 1.0) < 1e-12)
    // ties: a=[1,1,2] -> u=[3,3,6]; b=[3,5,4] -> v=[2,6,4]
    val tied = df("a DOUBLE, b DOUBLE", Seq(
      Row(1.0, 3.0), Row(1.0, 5.0), Row(2.0, 4.0),
      Row(null, 1.0), Row(Double.NaN, 2.0)))
    val r = Eval.spearman(tied, "a", "b").head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(r.getLong(2) == 12 && r.getLong(3) == 12) // su, sv
    assert(r.getLong(4) == 3L * 2 + 3 * 6 + 6 * 4)   // suv = 48
    assert(r.getLong(5) == 9 + 9 + 36 && r.getLong(6) == 4 + 36 + 16)
    val (n, su, sv, suv, su2, sv2) = (3.0, 12.0, 12.0, 48.0, 54.0, 56.0)
    val exp = (n * suv - su * sv) /
      (math.sqrt(n * su2 - su * su) * math.sqrt(n * sv2 - sv * sv))
    assert(math.abs(r.getDouble(7) - exp) < 1e-15)
  }

  test("spearman: an action failing after the selection is persisted " +
      "leaves no cache behind") {
    // the row error fires in the first action over the persisted
    // selection (its count of excluded rows); a range source, since
    // the optimizer would evaluate the UDF over a local relation
    // while planning the persist
    val boom = udf((x: Double) =>
      if (x > 2.0) throw new IllegalStateException("bad row") else x)
    val d = spark.range(1, 5).select(
      boom(col("id").cast("double")).as("a"),
      col("id").cast("double").as("b"))
    spark.catalog.clearCache()
    val ex = intercept[Exception](Eval.spearman(d, "a", "b").collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("bad row")), ex)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("spearman: constant column -> null rho (undefined, not 0)") {
    val c = df("a DOUBLE, b DOUBLE", Seq(
      Row(5.0, 1.0), Row(5.0, 2.0), Row(5.0, 3.0)))
    assert(Eval.spearman(c, "a", "b").head().isNullAt(7))
  }

  test("chiSqMutualInfo: hand-computed 2x2 statistics, exact nano " +
      "totals") {
    // a: 3 pos 1 neg; b: 1 pos 3 neg -> NP=NN=4, N=8, nl=4 each
    val d = df("f STRING, y INT", Seq(
      Row("a", 1), Row("a", 1), Row("a", 1), Row("a", 0),
      Row("b", 1), Row("b", 0), Row("b", 0), Row("b", 0)))
    val out = Eval.chiSqMutualInfo(d, "f", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    // chi2 per level: (3-2)^2/2 + (1-2)^2/2 = 1.0
    assert(math.abs(out("a").getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(out("b").getDouble(3) - 1.0) < 1e-12)
    val miLvl = 0.375 * math.log(0.375 / (0.5 * 0.5)) +
      0.125 * math.log(0.125 / (0.5 * 0.5))
    assert(math.abs(out("a").getDouble(4) - miLvl) < 1e-12)
    assert(math.abs(out("b").getDouble(4) - miLvl) < 1e-12)
    // totals: 2x2 shortcut N(ad-bc)^2/(r1 r2 c1 c2) = 2.0 exactly
    assert(out.values.forall(_.getLong(5) == 2L * 1000000000L))
    assert(out.values.forall(
      _.getLong(6) == 2 * math.round(miLvl * 1e9)))
  }

  test("chiSqMutualInfo: independent feature -> zero chi2 and MI; " +
      "zero cells contribute zero, not NaN") {
    val indep = df("f STRING, y INT", Seq(
      Row("a", 1), Row("a", 0), Row("b", 1), Row("b", 0)))
    val z = Eval.chiSqMutualInfo(indep, "f", "y").collect()
    assert(z.forall(_.getLong(5) == 0L))
    assert(z.forall(_.getLong(6) == 0L))
    // a level with zero positives must not NaN-poison the totals
    val skew = df("f STRING, y INT", Seq(
      Row("a", 1), Row("a", 0), Row("b", 0), Row("b", 0)))
    val s = Eval.chiSqMutualInfo(skew, "f", "y").collect()
    assert(s.forall(r => !r.getDouble(3).isNaN && !r.getDouble(4).isNaN))
  }

  test("calibrationTable: hand-computed bins, edge score 1.0 folds " +
      "into the last bin, exact micro/nano units") {
    val d = df("s DOUBLE, y INT", Seq(
      Row(0.05, 0), Row(0.15, 0), Row(0.15, 1), Row(1.0, 1),
      Row(null, 1), Row(0.5, null)))
    val out = Eval.calibrationTable(d, "s", "y", bins = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 9L)) // null rows excluded
    val b1 = out(1L)
    assert(b1.getLong(1) == 2 && b1.getLong(2) == 1)
    assert(b1.getLong(3) == 300000L) // 2 x 150000 micro
    assert(b1.getDouble(4) == 0.15 && b1.getDouble(5) == 0.5)
    assert(out(9L).getLong(0) == 9L && out(9L).getLong(2) == 1)
    // ece = sum_b n_b * round(|frac - mean| * 1e9)
    val exp = Seq((1L, 0.05, 0.0), (2L, 0.15, 0.5), (1L, 1.0, 1.0))
      .map { case (n, m, f) => n * math.round(math.abs(f - m) * 1e9) }
      .sum
    assert(out.values.forall(_.getLong(6) == exp))
  }

  test("calibrationTable: out-of-range score fails loudly") {
    val d = df("s DOUBLE, y INT", Seq(Row(0.5, 1), Row(1.7, 0)))
    intercept[Exception] {
      Eval.calibrationTable(d, "s", "y").collect()
    }
  }

  test("informationValue: identical class distributions -> zero IV") {
    val d = df("f STRING, y INT", Seq(
      Row("a", 1), Row("a", 0), Row("b", 1), Row("b", 0)))
    val out = Eval.informationValue(d, "f", "y").collect()
    assert(out.forall(_.getLong(5) == 0L))
    assert(out.forall(_.getDouble(4) == 0.0))
  }

  test("cupedAdjust: exact theta on a line removes ALL variance, " +
      "mean preserved, undefined cells pass through unadjusted") {
    val d = df("id INT, k STRING, x DOUBLE, y DOUBLE", Seq(
      Row(1, "a", 1.0, 3.0), Row(2, "a", 2.0, 5.0),
      Row(3, "a", 3.0, 7.0),          // y = 2x + 1 exactly
      Row(4, "a", null, 9.0),         // missing covariate: y as-is
      Row(5, "a", 2.0, null),         // missing metric: null
      Row(6, "b", 1.0, 4.0),          // single pair: theta undefined
      Row(7, "c", 4.0, 1.0), Row(8, "c", 4.0, 2.0))) // zero var(x)
    val out = Eval.cupedAdjust(d, "y", "x", "k").orderBy("id").collect()
    def adj(i: Int) = if (out(i).isNullAt(4)) null else out(i).getDouble(4)
    def th(i: Int) = if (out(i).isNullAt(5)) null else out(i).getDouble(5)
    // theta = 2 exactly; every complete pair collapses to the mean 5
    assert((0 to 2).forall(i => adj(i) == 5.0 && th(i) == 2.0))
    assert(adj(3) == 9.0)             // mean-imputed covariate: no shift
    assert(adj(4) == null)
    assert(adj(5) == 4.0 && th(5) == null) // n < 2
    assert(adj(6) == 1.0 && adj(7) == 2.0 && th(6) == null) // dx = 0
    // the fit map is broadcast: transform stays one projection stage
    val plan = Eval.cupedAdjust(d, "y", "x", "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    intercept[IllegalArgumentException] {
      Eval.cupedAdjust(d.withColumnRenamed("id", "y_cuped"),
        "y", "x", "k")
    }
  }

  test("brierByGroup: exact micro-deviation Brier, climatology " +
      "skill, one-class refusal, out-of-range scores fail loudly") {
    val d = df("k STRING, p DOUBLE, y INT", Seq(
      Row("a", 0.9, 1), Row("a", 0.1, 0),
      Row("a", 0.5, 1), Row("a", 0.5, 0),
      Row("b", 1.0, 1), Row("b", 1.0, 1)))
    val out = Eval.brierByGroup(d, "k", "p", "y")
      .orderBy("k").collect()
    val a = out(0)
    assert(a.getLong(1) == 4L && a.getDouble(2) == 0.5)
    assert(a.getDouble(3) == 0.13)
    assert(a.getDouble(4) == 0.25)
    assert(math.abs(a.getDouble(5) - 0.48) < 1e-12)
    assert(out(1).getDouble(3) == 0.0 && out(1).isNullAt(5))
    val bad = df("k STRING, p DOUBLE, y INT", Seq(Row("c", 1.5, 0)))
    val ex = intercept[Exception] {
      Eval.brierByGroup(bad, "k", "p", "y").collect()
    }
    assert(ex.getMessage.contains("outside [0,1]") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("outside [0,1]")))
  }

  test("gainsTable: exact NTILE replica bins, cumulative captures " +
      "and cross-multiplied lift, golden 5-bin case") {
    val d = df("id BIGINT, s DOUBLE, y INT",
      (1 to 10).map(i =>
        Row(i.toLong, (11 - i).toDouble, if (i <= 4) 1 else 0)))
    val out = Eval.gainsTable(d, "s", "y", "id", nBins = 5)
      .orderBy("bin").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 2L, 2L, 2L, 2L))
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 2L, 0L, 0L, 0L))
    assert(out(0).getDouble(6) == 0.5)   // capture after bin 1
    assert(out(1).getDouble(6) == 1.0)
    assert(out(0).getDouble(7) == 2.5)   // (2*10)/(2*4)
    assert(math.abs(out(2).getDouble(7) - 40.0 / 24.0) < 1e-12)
    assert(out(4).getDouble(7) == 1.0)   // full population lift
  }
}

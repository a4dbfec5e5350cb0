package graft

import graft.functions.DotProductQ
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** GraftExtensions must register against a stock SparkSession the way a
  * cluster would load it (`spark.sql.extensions=graft.GraftExtensions`):
  * `dot_q` callable from SQL, and the interpreted
  * `aggregate(zip_with(...))` dot-product pattern rewritten to the
  * codegen'd kernel with identical results — including the HOF's null
  * semantics on ragged lengths and null elements.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** A second SparkSession over the SAME SparkContext, with extensions
    * applied — exactly what `withExtensions` does at cluster startup.
    * The shared suite session is restored afterwards.
    */
  private def withExtSession[T](f: SparkSession => T): T = {
    val shared = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try f(ext)
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("dot_q is callable from SQL via injectFunction") {
    withExtSession { s =>
      val r = s.sql(
        "SELECT dot_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .head().getLong(0)
      assert(r == 32L)
    }
  }

  test("HOF dot product is rewritten to the codegen'd kernel") {
    withExtSession { s =>
      // range (not a local Seq) so ConvertToLocalRelation can't fold
      // the projection away before we can inspect it
      val d = s.range(1, 3)
        .selectExpr("array(id, id + 1L, id * 3L) AS a",
          "array(4L, 5L, id) AS b")
      val hof = d.select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        .as("d"))
      val optimized = hof.queryExecution.optimizedPlan
      assert(optimized.expressions.exists(
        _.exists(_.isInstanceOf[DotProductQ])),
        s"HOF pattern not rewritten:\n$optimized")
      assert(hof.collect().map(_.getLong(0)).toSeq == Seq(17L, 35L))
    }
  }

  test("rewrite preserves HOF null semantics (ragged + null element)") {
    withExtSession { s =>
      val d = s.sql(
        """SELECT * FROM VALUES
          |  (array(1L, 2L), array(3L)),
          |  (array(1L, CAST(NULL AS BIGINT)), array(3L, 4L)),
          |  (CAST(NULL AS ARRAY<BIGINT>), array(3L)),
          |  (array(2L, 3L), array(4L, 5L)) AS t(a, b)""".stripMargin)
      val q = "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
      val got = d.selectExpr(s"$q AS d").collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
      assert(got == Seq(null, null, null, 23L))
      // and the plain session (no rule) agrees value-for-value
      val ref = spark.sql(
        """SELECT * FROM VALUES
          |  (array(1L, 2L), array(3L)),
          |  (array(1L, CAST(NULL AS BIGINT)), array(3L, 4L)),
          |  (CAST(NULL AS ARRAY<BIGINT>), array(3L)),
          |  (array(2L, 3L), array(4L, 5L)) AS t(a, b)""".stripMargin)
        .selectExpr(s"$q AS d").collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
      assert(got == ref)
    }
  }

  test("rewrite does NOT fire on non-long arrays or different shapes") {
    withExtSession { s =>
      // double arrays: HOF must stay (dot_q is integer-only)
      val d = s.range(1, 3)
        .selectExpr("array(CAST(id AS DOUBLE)) AS a",
          "array(2.0D) AS b")
      val q = d.selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) AS d")
      assert(!q.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[DotProductQ])),
        "rule must not rewrite double-typed aggregates")
      assert(q.collect().map(_.getDouble(0)).toSeq == Seq(2.0, 4.0))
      // a sum (not a dot product) over long arrays must also survive
      val sumQ = s.range(1, 3).selectExpr("array(id, id) AS a")
        .selectExpr("aggregate(a, 0L, (acc, v) -> acc + v) AS d")
      assert(!sumQ.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[DotProductQ])))
      assert(sumQ.collect().map(_.getLong(0)).toSeq == Seq(2L, 4L))
    }
  }

  test("rewrite does NOT fire on try_multiply/try_add: null on " +
      "overflow survives, while the plain form is still rewritten") {
    withExtSession { s =>
      val d = s.range(1, 2).selectExpr(
        "array(9223372036854775807L, id) AS a", "array(2L, 1L) AS b")
      def has(q: org.apache.spark.sql.DataFrame) =
        q.queryExecution.optimizedPlan.expressions.exists(
          _.exists(_.isInstanceOf[DotProductQ]))
      val tried = d.selectExpr("aggregate(zip_with(a, b, (x, y) -> " +
        "try_multiply(x, y)), 0L, (acc, v) -> try_add(acc, v)) AS d")
      assert(!has(tried), tried.queryExecution.optimizedPlan.toString)
      assert(tried.head().isNullAt(0))
      val added = d.selectExpr("aggregate(zip_with(a, b, (x, y) -> " +
        "x * y), 0L, (acc, v) -> try_add(acc, v)) AS d")
      assert(!has(added), added.queryExecution.optimizedPlan.toString)
      val plain = d.selectExpr("aggregate(zip_with(a, b, (x, y) -> " +
        "x * y), 0L, (acc, v) -> acc + v) AS d")
      assert(has(plain), plain.queryExecution.optimizedPlan.toString)
    }
  }

  test("top_k_by is callable from SQL via injectFunction") {
    withExtSession { s =>
      s.range(0, 100).selectExpr("id % 3 AS g",
          "CAST(id % 7 AS DOUBLE) AS score", "id")
        .createOrReplaceTempView("tk")
      val rows = s.sql(
        """SELECT g, e.score, e.id
          |FROM (SELECT g, top_k_by(score, id, 2) AS t
          |      FROM tk GROUP BY g)
          |LATERAL VIEW explode(t) AS e
          |ORDER BY g, e.score DESC, e.id""".stripMargin).collect()
      assert(rows.length == 6)
      // group 0: ids 0,3,..,99; score = id%7; max score 6 at smallest
      // id with id%3==0 and id%7==6 -> 6, then 27
      val g0 = rows.filter(_.getLong(0) == 0L)
        .map(r => (r.getDouble(1), r.getLong(2))).toSeq
      assert(g0 == Seq((6.0, 6L), (6.0, 27L)))
      // non-literal k must be rejected cleanly
      val e = intercept[Exception](
        s.sql("SELECT top_k_by(score, id, id) FROM tk").collect())
      assert(e.getMessage.contains("integer literal") ||
        e.getMessage.contains("top_k_by"))
    }
  }
}

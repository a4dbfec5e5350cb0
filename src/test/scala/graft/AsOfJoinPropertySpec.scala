package graft

import graft.temporal.AsOfJoin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Randomized equivalence: every AsOfJoin variant (union+window,
  * broadcast, strict, tolerance, salted) must agree with a brute-force
  * in-memory model on seeded random inputs — shapes a hand-written
  * example suite never covers (empty right sides, lone entities,
  * all-future snapshots, tolerance expiring exactly on the boundary).
  */
class AsOfJoinPropertySpec extends SparkSpec {

  /** A key-type shape of the random cases: the left frame's DDL and
    * row from (id, entity, ts), the right entity's type and value, and
    * whether the left ts is a day number read as a DATE
    * (else epoch seconds read as a TIMESTAMP, as the right ts always is).
    */
  private case class Shape(name: String, leftDdl: String,
      lRow: (Int, Int, Long) => Row, rightEntity: String, rKey: Int => Any,
      hot: String, dateTs: Boolean = false)

  private val baseline = Shape("string-timestamp",
    "id INT, e STRING, lts BIGINT", (id, e, t) => Row(id, s"e$e", t),
    "STRING", e => s"e$e", "e0")

  /** The cross-type cases. */
  private val shapes = Seq(
    // an int left entity against a bigint right one: the union widens
    // the entity, so it stays in the left payload
    Shape("int-vs-bigint", "id INT NOT NULL, e INT NOT NULL, lts BIGINT",
      (id, e, t) => Row(id, e, t), "BIGINT", _.toLong, "0"),
    // a date left ts against a timestamp right ts: the ts stays
    Shape("date-vs-timestamp", "id INT NOT NULL, e STRING, lts INT NOT NULL",
      (id, e, t) => Row(id, s"e$e", t.toInt), "STRING", e => s"e$e", "e0",
      dateTs = true),
    // the entity is the left frame's last column
    Shape("entity-last", "lts BIGINT, id INT NOT NULL, e STRING NOT NULL",
      (id, e, t) => Row(t, id, s"e$e"), "STRING", e => s"e$e", "e0"),
    // a left payload column named like the union's entity column
    Shape("payload-named-__e", "e STRING, __e STRING, lts BIGINT, id INT",
      (id, e, t) => Row(s"e$e", s"p$id", t, id), "STRING", e => s"e$e",
      "e0"))

  private val day = 86400L

  /** brute force over (entity, ts seconds): the backward, forward or
    * nearest (tie -> backward) match within the tolerance
    */
  private def expect(op: String, strict: Boolean, tol: Option[Long],
      e: Int, t: Long, rs: Seq[(Int, Long, Double)]): Option[(Long, Double)] = {
    val mine = rs.filter(_._1 == e).sortBy(_._2)
    val ok = (r: (Int, Long, Double)) => tol.forall(math.abs(r._2 - t) <= _)
    val back = (s: Boolean) =>
      mine.filter(r => if (s) r._2 < t else r._2 <= t).lastOption.filter(ok)
    val fwd = (s: Boolean) =>
      mine.filter(r => if (s) r._2 > t else r._2 >= t).headOption.filter(ok)
    (op match {
      case "join" => back(strict)
      case "forward" => fwd(strict)
      case "nearest" => (back(false), fwd(true)) match {
        case (Some(b), Some(f)) => Some(if (t - b._2 <= f._2 - t) b else f)
        case (b, f) => b.orElse(f)
      }
    }).map(r => (r._2, r._3))
  }

  /** The schema every version of the builder has given: the left
    * columns in order with their types (nullable through the union,
    * as declared through the broadcast), then the value and matched ts.
    */
  private def schemaOf(l: DataFrame, r: DataFrame,
      broadcast: Boolean): StructType = StructType(
    l.schema.fields.map(f => if (broadcast) f else f.copy(nullable = true)) ++
      Seq(r.schema("v").copy(nullable = true),
        StructField("matched_ts", r.schema("rts").dataType, nullable = true)))

  private def runShape(sh: Shape, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val nEnt = 1 + rnd.nextInt(5)
    // right rows every 10 s from 1000 s, or every 3 h from the epoch
    // against day-number left rows (ties at midnight)
    val rs = (0 until nEnt).flatMap { e =>
      rnd.shuffle((0 until 50).toList).take(rnd.nextInt(8)).map(i =>
        (e, if (sh.dateTs) i * 3 * 3600L else 1000L + i * 10L,
          rnd.nextDouble()))
    }
    val ls = (0 until 1 + rnd.nextInt(30)).map(id => (id, rnd.nextInt(nEnt),
      if (sh.dateTs) rnd.nextInt(6).toLong else 1000L + rnd.nextInt(520)))
    val seconds = (t: Long) => if (sh.dateTs) t * day else t
    val lDf = df(sh.leftDdl, ls.map { case (id, e, t) => sh.lRow(id, e, t) })
      .withColumn("lts",
        if (sh.dateTs) date_from_unix_date(col("lts"))
        else timestamp_seconds(col("lts")))
    val rDf = df(s"e ${sh.rightEntity}, rts BIGINT, v DOUBLE",
      rs.map { case (e, t, v) => Row(sh.rKey(e), t, v) })
      .withColumn("rts", timestamp_seconds(col("rts")))
    val lefts = lDf.collect().map(r => r.getAs[Int]("id") -> r).toMap

    def check(out: DataFrame, op: String, strict: Boolean,
        tol: Option[Long], broadcast: Boolean, label: String): Unit = {
      val at = s"${sh.name} $label seed=$seed"
      assert(out.schema == schemaOf(lDf, rDf, broadcast),
        s"$at schema ${out.schema.simpleString}")
      val got = out.collect()
      assert(got.length == ls.length, s"$at row count")
      got.foreach { row =>
        val id = row.getAs[Int]("id")
        val l = lefts(id)
        assert(lDf.columns.forall(c => row.getAs[Any](c) == l.getAs[Any](c)),
          s"$at left columns of row $id: $row vs $l")
        val (_, e, t) = ls(id)
        val exp = expect(op, strict, tol, e, seconds(t), rs)
        val v = Option(row.getAs[Any]("v")).map(_.asInstanceOf[Double])
        val m = Option(row.getAs[java.sql.Timestamp]("matched_ts"))
          .map(_.getTime / 1000)
        assert(v == exp.map(_._2) && m == exp.map(_._1),
          s"$at row $id: got ($m, $v) expected $exp")
      }
    }

    val tol = Some(
      if (sh.dateTs) day / 2 + rnd.nextInt(3) * day else 40L + rnd.nextInt(100))
    val strict = rnd.nextBoolean()
    val strictTol = if (rnd.nextBoolean()) tol else None
    val fwdTol = if (rnd.nextBoolean()) tol else None
    val nearTol = if (rnd.nextBoolean()) tol else None
    Seq(("unsalted", false, Seq.empty[String]),
      ("salted", false, Seq(sh.hot)),
      ("broadcast", true, Seq.empty[String])).foreach {
      case (mode, bc, hot) =>
        check(AsOfJoin.join(lDf, rDf, "e", "lts", "rts", Seq("v"),
          strict = true, toleranceSeconds = strictTol, broadcastRight = bc,
          hotEntities = hot, saltBuckets = 3), "join", true, strictTol, bc,
          s"join-strict-$mode")
        // the defaults: non-strict, no tolerance
        check(AsOfJoin.join(lDf, rDf, "e", "lts", "rts", Seq("v"),
          broadcastRight = bc, hotEntities = hot, saltBuckets = 3),
          "join", false, None, bc, s"join-default-$mode")
        check(AsOfJoin.join(lDf, rDf, "e", "lts", "rts", Seq("v"),
          toleranceSeconds = tol, broadcastRight = bc, hotEntities = hot,
          saltBuckets = 3), "join", false, tol, bc, s"join-tol-$mode")
        check(AsOfJoin.joinForward(lDf, rDf, "e", "lts", "rts", Seq("v"),
          strict = strict, toleranceSeconds = fwdTol, broadcastRight = bc,
          hotEntities = hot, saltBuckets = 3), "forward", strict, fwdTol,
          bc, s"forward-$mode")
        check(AsOfJoin.joinNearest(lDf, rDf, "e", "lts", "rts", Seq("v"),
          toleranceSeconds = nearTol, broadcastRight = bc,
          hotEntities = hot, saltBuckets = 3), "nearest", false, nearTol,
          bc, s"nearest-$mode")
    }
  }

  test("random as-of joins: all variants match the brute-force model") {
    (1 to 25).foreach(runShape(baseline, _))
  }

  test("degenerate shapes: empty right, all-future right") {
    val lDf = df("e STRING, lts BIGINT", Seq(Row("a", 100L)))
      .withColumn("lts", timestamp_seconds(col("lts")))
    val emptyR = df("e STRING, rts BIGINT, v DOUBLE", Seq.empty)
      .withColumn("rts", timestamp_seconds(col("rts")))
    val out = AsOfJoin.join(lDf, emptyR, "e", "lts", "rts", Seq("v"))
    assert(out.count() == 1 && out.head().isNullAt(out.head().fieldIndex("v")))

    val futureR = df("e STRING, rts BIGINT, v DOUBLE",
      Seq(Row("a", 200L, 1.0)))
      .withColumn("rts", timestamp_seconds(col("rts")))
    val out2 = AsOfJoin.join(lDf, futureR, "e", "lts", "rts", Seq("v"))
    assert(out2.head().isNullAt(out2.head().fieldIndex("v")))
  }

  test("cross-type keys, entity placement and a payload named __e: " +
      "rows match the brute-force model and the schema keeps the left's " +
      "names, order, types and nullability") {
    for (sh <- shapes; seed <- 1 to 4) runShape(sh, seed)
  }
}

package graft

import graft.dedup.MinhashIndex
import graft.io.SnapshotStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The lineage SnapshotStore computes inside its writes: equal to a SQL
  * aggregate over the same rows for every column type it bounds, one
  * job per commit, labelled, and no leftover files when a commit's
  * decision drops what it wrote.
  */
class SnapshotLineageSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("snaplineage").toString

  private val Buckets = 4
  private val bucket = SnapshotStore.byKey("id", Buckets)
  private val StatsCols = Seq("id", "n", "d", "s", "ts", "dt")

  /** A string longer than the 32-char bound whose cut (at char 32)
    * falls inside a surrogate pair.
    */
  private def longString(i: Int): String =
    ("p" * 31) + "😀" + s"tail-$i"

  /** Rows of every type the manifest bounds, with the hostile values:
    * NaN, -0.0 next to 0.0 and nulls in the double, long strings cut
    * inside a surrogate pair, nulls in the string and timestamp.
    */
  private def typed(from: Int, until: Int): DataFrame = {
    val rows = (from until until).map { i =>
      val d: Any = i % 17 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case 3 => null
        case k => k * 1.25 - 7
      }
      val s: Any = i % 5 match {
        case 0 => longString(i)
        case 1 => null
        case _ => s"s${i % 7}"
      }
      val ts: Any =
        if (i % 11 == 0) null
        else java.sql.Timestamp.from(java.time.Instant
          .parse("2024-03-01T00:00:00Z").plusSeconds(i * 3607L)
          .plusNanos(i * 1000L))
      Row(i.toLong, i % 9 - 4, d, s, ts,
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i * 3L)))
    }
    df("id BIGINT, n INT, d DOUBLE, s STRING, ts TIMESTAMP, dt DATE", rows)
  }

  private def repr(v: Any): Option[(String, String)] = v match {
    case null => None
    case d: Double if d.isNaN || d.isInfinite => None
    case d: Double => Some(("n", BigDecimal(d).toString))
    case n: java.lang.Number => Some(("n", n.toString))
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(("t", (i.getEpochSecond * 1000000L + i.getNano / 1000).toString))
    case d: java.sql.Date =>
      Some(("t", (d.toLocalDate.toEpochDay * 86400000000L).toString))
    case s: String => Some(("s", s))
  }

  /** What a manifest must record for `rows`, from a SQL aggregate:
    * bucket -> (rows, xxh, stats). Strings are bounded as the
    * manifest documents: the lower bound truncated, the upper bound
    * truncated and incremented.
    */
  private def reference(rows: DataFrame)
      : Map[Int, (Long, Long, Map[String, (String, String, String)])] = {
    val cols = rows.columns.toSeq
    val aggs = Seq(count(lit(1)), expr("bit_xor(xxhash64(struct(" +
      cols.map(c => s"`$c`").mkString(",") + ")))")) ++
      StatsCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    rows.groupBy(bucket.as("b")).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val stats = StatsCols.zipWithIndex.flatMap { case (c, k) =>
          (repr(r.get(3 + 2 * k)), repr(r.get(4 + 2 * k))) match {
            case (Some(("s", lo)), Some(("s", hi))) =>
              SnapshotStore.truncUpper(hi)
                .map(h => c -> (("s", SnapshotStore.truncLower(lo), h)))
            case (Some((t, lo)), Some((t2, hi))) if t == t2 =>
              Some(c -> ((t, lo, hi)))
            case _ => None
          }
        }.toMap
        r.getInt(0) -> ((r.getLong(1), r.getLong(2), stats))
      }.toMap
  }

  private def recorded(root: String, v: Int) =
    SnapshotStore.manifest(root, v)
      .map(e => e.bucket -> ((e.rows, e.xxh, e.stats))).toMap

  test("manifests of write, overwriteBuckets, append and rewriteSnapshot " +
      "equal a SQL aggregate over every bounded type; verify agrees") {
    val root = freshRoot()
    val v1 = typed(0, 200)
    SnapshotStore.write(v1, root, bucket, statsCols = StatsCols)
    assert(recorded(root, 1) === reference(v1))
    // the hostile values are present: a NaN bucket leaves `d`
    // untracked, and a long string's bounds are cut at the pair
    assert(SnapshotStore.manifest(root, 1).exists(!_.stats.contains("d")))
    assert(SnapshotStore.manifest(root, 1).flatMap(_.stats.get("s"))
      .exists(_._2 == "p" * 31))
    assert(SnapshotStore.verify(spark, root).isEmpty)

    val listed = Seq(0, 1)
    val v2 = v1.unionByName(typed(200, 260)).filter(bucket.isin(listed: _*))
    SnapshotStore.overwriteBuckets(v2, root, bucket, listed, StatsCols)
    val after2 = v1.filter(!bucket.isin(listed: _*)).unionByName(v2)
    assert(recorded(root, 2) === reference(after2))
    assert(SnapshotStore.verify(spark, root).isEmpty)

    SnapshotStore.append(typed(260, 330), root, bucket)
    val after3 = after2.unionByName(typed(260, 330))
    assert(recorded(root, 3) === reference(after3))
    assert(SnapshotStore.verify(spark, root).isEmpty)

    SnapshotStore.rewriteSnapshot(spark, root, Seq("id", "n"))
    assert(recorded(root, 4) === reference(after3))
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("rewriteSnapshot after an evolution that reorders the columns " +
      "records each bucket's hash under the new column order, so verify " +
      "passes") {
    import spark.implicits._
    val root = freshRoot()
    val byId = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write((0L until 100L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text"), root, byId)
    val changes = Seq(("en", "doc three rewritten", 3L, "upsert"))
      .toDF("lang", "text", "doc_id", "op")
    SnapshotStore.mergeChanges(spark, root, changes, Seq("doc_id"), byId)
    assert(SnapshotStore.manifest(root, 2).exists(_.schemaV.contains(1)))
    assert(SnapshotStore.verify(spark, root).isEmpty)
    SnapshotStore.rewriteSnapshot(spark, root)
    assert(SnapshotStore.tableSchema(root, 3).fieldNames.toSeq ===
      Seq("lang", "text", "doc_id"))
    assert(SnapshotStore.verify(spark, root).isEmpty)
    assert(SnapshotStore.read(spark, root).count() === 100)
  }

  /** The jobs `body` starts, with their stage counts and descriptions
    * (the listener bus drained on both sides).
    */
  private def jobsOf(body: => Unit): Seq[(Int, String)] = {
    val sc = spark.sparkContext
    drainListenerBus()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (!p.exists(_.getProperty(DrainKey) != null))
          jobs.add((e.stageInfos.size,
            p.flatMap(x => Option(x.getProperty("spark.job.description")))
              .getOrElse("")))
      }
    }
    sc.addSparkListener(l)
    try { body; drainListenerBus() } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq
  }

  private def local(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i, s"doc $i")).toDF("id", "text")
  }

  test("a first write, overwriteBuckets, a ruled-out append and verify " +
      "each run ONE labelled job with no exchange") {
    val root = freshRoot()
    val byId = SnapshotStore.byKey("id", 8)
    assert(jobsOf(SnapshotStore.write(local(0, 400), root, byId,
      statsCols = Seq("id"))) === Seq((1, "snapshot.write")))
    val listed = Seq(2, 5)
    val some = local(0, 400).filter(byId.isin(listed: _*))
      .withColumn("text", concat(col("text"), lit("!")))
    assert(jobsOf(SnapshotStore.overwriteBuckets(some, root, byId, listed,
      Seq("id"))) === Seq((1, "snapshot.overwrite")))
    // ids above every stored id: the stats rule every bucket out
    assert(jobsOf(SnapshotStore.append(local(400, 450), root, byId))
      === Seq((1, "snapshot.append")))
    assert(jobsOf(assert(SnapshotStore.verify(spark, root).isEmpty))
      === Seq((1, "snapshot.verify")))
  }

  test("rows outside the overwrite set leave no run dir and no manifest") {
    val root = freshRoot()
    val byId = SnapshotStore.byKey("id", 8)
    SnapshotStore.write(local(0, 100), root, byId)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.overwriteBuckets(local(0, 100), root, byId, Seq(0))
    }
    assert(e.getMessage.contains("outside the declared overwrite set"))
    assert(!Files.exists(Paths.get(root, "runs", "run=2")))
    assert(SnapshotStore.latestAnySnapshot(root) === Some(1))
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("an unchanged listed bucket keeps its previous path, and its " +
      "copy written by the overwrite is deleted") {
    val root = freshRoot()
    val byId = SnapshotStore.byKey("id", 8)
    SnapshotStore.write(local(0, 200), root, byId)
    val before = SnapshotStore.manifest(root, 1).map(e => e.bucket -> e).toMap
    val changed = local(0, 200).filter(byId === 3)
      .withColumn("text", upper(col("text")))
    val same = local(0, 200).filter(byId === 6)
    val r = SnapshotStore.overwriteBuckets(changed.unionByName(same), root,
      byId, Seq(3, 6))
    assert(r.written === Seq(3))
    assert(r.carried === (0 until 8).filterNot(_ == 3))
    val after = SnapshotStore.manifest(root, 2).map(e => e.bucket -> e).toMap
    assert(after(6).path === before(6).path)
    assert(after(3).path.endsWith("run=2/__bucket=3"))
    assert(!Files.exists(Paths.get(root, "runs", "run=2", "__bucket=6")))
    // nothing changed at all: no run dir is left behind
    SnapshotStore.overwriteBuckets(same, root, byId, Seq(6))
    assert(!Files.exists(Paths.get(root, "runs", "run=3")))
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("a replayed appendBatch converges, and its run dir holds only the " +
      "new rows") {
    import spark.implicits._
    val root = freshRoot()
    val docs = (0L until 300L).map(i =>
      (i, s"caption number $i about ${"topic " * (i.toInt % 5 + 1)}"))
    def batch(from: Int, until: Int) =
      docs.slice(from, until).toDF("id", "text")
    MinhashIndex.build(batch(0, 200), "id", "text", root)
    MinhashIndex.appendBatch(batch(200, 250), "id", "text", root)
    val bands = s"$root/bands"
    val v = SnapshotStore.latestSnapshot(bands).get
    // a replay of the last batch plus 50 new captions
    val r = MinhashIndex.appendBatch(batch(200, 300), "id", "text", root)
    assert(r.snapshot === v + 1)
    val run = spark.read.parquet(s"$bands/runs/run=${r.snapshot}")
    assert(run.select("id").distinct().as[Long].collect().sorted.toSeq ===
      (250L until 300L))
    assert(!Files.exists(Paths.get(bands, "runs", s"run=${r.snapshot}",
      "_guard")))
    val all = MinhashIndex.bands(spark, root)
    assert(all.count() === all.distinct().count())
    assert(all.select("id").distinct().count() === 300)
    assert(SnapshotStore.verify(spark, bands).isEmpty)
    // a full replay publishes nothing and leaves no run dir
    val again = MinhashIndex.appendBatch(batch(250, 300), "id", "text", root)
    assert(again.snapshot === r.snapshot && again.written.isEmpty)
    assert(!Files.exists(Paths.get(bands, "runs", s"run=${r.snapshot + 1}")))
  }
}

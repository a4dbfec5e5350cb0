package graft.perfbench

import graft.Flagship
import graft.io.ImageTable
import graft.temporal.WindowOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The point-in-time feature build over stored parquet: auto-salted
  * as-of join + broadcast metadata join, the windowed features, then
  * fit and transform of the flagship pipeline into an aggregate sink.
  * One planted hot entity holds `HotFraction` of the events, twice the
  * auto-salt share, so the salted plan is the one measured. It is kept
  * small because `backFill`'s unbounded-following frame costs time
  * quadratic in an entity's rows.
  */
final class PitSkew(spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import PitSkew._

  final case class Out(rows: Long, matched: Long, leaks: Long,
      pitDigest: Long, fullDigest: Long, fitJson: String, joined: DataFrame,
      traced: Boolean)

  def rowsPerIter: Long = NImages * PerImage

  private def in(t: String) = s"$dir/in/$t"
  private var ref: (Long, Long, Long) = _
  // per plan shape: a traced iteration fits over forced (re-partitioned)
  // input, so its floating-point sums may round differently
  private val first = scala.collection.mutable.Map.empty[Boolean, (String, Long)]
  private var salted = false
  private var matchRate = 0.0

  def setup(): Unit = {
    ImageTable.events(spark, NImages, PerImage, seed, HotFraction)
      .write.parquet(in("events"))
    ImageTable.snapshots(spark, NImages, 3, seed).write.parquet(in("snaps"))
    ImageTable.images(spark, NImages, seed).drop("bytes")
      .write.parquet(in("images"))
  }

  override def references(): Unit = ref = reference()

  /** Driver-side as-of join of the stored inputs: (events, matched,
    * digest of the as-of columns), independent of the engine's join.
    */
  private def reference(): (Long, Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val micros = (c: String) => expr(s"unix_micros(cast($c as timestamp))")
    val snaps = spark.read.parquet(in("snaps"))
      .select(col("image_id"), micros("feature_ts"), col("caption_at"),
        col("phash_at")).collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.sortBy(_.getLong(1)) }
    val evs = spark.read.parquet(in("events"))
      .select(col("event_id"), col("image_id"), micros("event_ts")).collect()
    var matched = 0L
    var digest = 0L
    evs.foreach { e =>
      var h = hash(e.getLong(0), LongType, 42L)
      snaps.get(e.getString(1)).flatMap(_.takeWhile(_.getLong(1) <= e.getLong(2))
          .lastOption).foreach { s =>
        matched += 1
        h = hash(s.getLong(1), LongType, h)
        h = hash(UTF8String.fromString(s.getString(2)), StringType, h)
        h = hash(s.getLong(3), LongType, h)
      }
      digest ^= h
    }
    (evs.length.toLong, matched, digest)
  }

  def run(iter: Int, t: Tracer): Out = {
    val (evs, snaps, imgs) = t.layer("io.scan") {
      (t.force(spark.read.parquet(in("events"))),
        t.force(spark.read.parquet(in("snaps"))),
        t.force(spark.read.parquet(in("images"))))
    }
    // the call runs the sampled hot-key pass; the join itself is lazy
    val joined = t.layer("temporal.hot_keys") {
      Flagship.joinedInputFrom(evs, snaps, imgs,
        autoSaltShare = Some(HotShare))
    }
    val pit = t.layer("temporal.asof")(t.force(joined))
    val windowed = t.layer("temporal.window")(t.force(windows(pit)))
    val pipe = t.layer("core.fit") {
      // the program's fit input and persist, as in Flagship.fitPipeline
      val p = Flagship.pipelineDef()
      val fitInput = Flagship.fitProjection(p, windowed)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try p.fit(fitInput) finally { fitInput.unpersist(false); () }
    }
    val r = t.layer("core.transform") {
      val out = pipe.transform(windowed)
      val row = fullSink(out).head()
      t.rows(row.getLong(0))
      row
    }
    Out(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), pipe.toJson, joined, t.enabled)
  }

  def check(iter: Int, o: Out): Seq[String] = {
    // the auto-salt pass put the keys it found into the join's plan
    salted = o.joined.queryExecution.logical.toString.contains(Hot)
    val (json, digest) = first.getOrElseUpdate(o.traced, (o.fitJson, o.fullDigest))
    matchRate = o.matched.toDouble / o.rows
    Seq(
      (o.leaks == 0L) -> s"${o.leaks} rows matched a snapshot after the event",
      (o.rows == ref._1) -> s"rows ${o.rows} != reference ${ref._1}",
      (o.matched == ref._2) -> s"matches ${o.matched} != reference ${ref._2}",
      (o.pitDigest == ref._3) -> "as-of content digest differs from the reference",
      (o.fitJson == json) -> "fitted pipeline JSON changed between iterations",
      (o.fullDigest == digest) -> "feature digest changed between iterations",
      salted -> s"planted hot key $Hot was not detected and salted"
    ).collect { case (false, msg) => msg }
  }

  def ratios: Map[String, Double] = Map(
    "temporal.asof.match_rate" -> matchRate,
    "temporal.hot_keys.recall" -> (if (salted) 1.0 else 0.0))

  def storedBytesPerRow: Double =
    Dirs.dataBytes(s"$dir/in").toDouble / rowsPerIter
}

object PitSkew {
  val NImages = 40000L
  val PerImage = 5
  val HotFraction = 0.01
  val HotShare = 0.005
  val Hot = "img_0000000000"

  private val (e, ts) = ("image_id", "event_ts")

  def windows(df: DataFrame): DataFrame = {
    val a = WindowOps.lagLead(df, e, ts, Seq("target"))
    val b = WindowOps.rollingRows(a, e, ts, Seq("target"), 5,
      Seq("sum", "mean", "max"))
    val c = WindowOps.sessionize(b, e, ts, 6 * 3600L)
    WindowOps.backFill(c, e, ts, Seq("w", "h"))
  }

  /** count, matched, leaking rows, digest of the as-of columns the
    * pipeline leaves untouched.
    */
  private def pitAggs = Seq(
    count(lit(1)),
    count(col("matched_ts")),
    sum(when(col("matched_ts") > col("event_ts"), 1L).otherwise(0L)),
    expr("bit_xor(xxhash64(event_id, matched_ts, caption_at, phash_at))"))

  /** The aggregate sink: a digest over every output column, so no
    * feature can be pruned away.
    */
  def fullSink(df: DataFrame): DataFrame = {
    val all = (pitAggs :+ expr("bit_xor(xxhash64(" +
      df.columns.map(c => s"`$c`").mkString(",") + "))"))
    df.agg(all.head, all.tail: _*)
  }
}

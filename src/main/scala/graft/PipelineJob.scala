package graft

import graft.core.Pipeline
import graft.io.{ImageTable, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The spark-submit production entry point (BASELINE.json: "jobs run
  * via spark-submit ... checkpoint per-snapshot with per-partition
  * lineage and row-count/hash metrics for resumability").
  *
  * {{{
  * spark-submit --class graft.PipelineJob <jar> <storeRoot> \
  *   [--images N] [--events-per-image K] [--buckets B] \
  *   [--max-buckets M] [--verify]
  * }}}
  *
  * Each run: builds the flagship PIT-join + fitted-pipeline feature
  * frame, fits the pipeline ONCE (persisting the fitted state as JSON
  * in the store so a later transform-only job can load it without a
  * fit pass), and writes the features through the checkpointed
  * [[SnapshotStore]] bucketed by entity:
  *
  *   - a bucket whose (rows, xxhash64) lineage matches the previous
  *     snapshot is CARRIED — its files are not rewritten;
  *   - `--max-buckets M` bounds the buckets written per run; a
  *     truncated run publishes an `.incomplete` manifest that readers
  *     skip and the NEXT run resumes — rerun the same command until
  *     `remaining` is 0 (crash-resume works the same way: a killed run
  *     leaves either no manifest, resumed cleanly, or an incomplete
  *     one, resumed cleanly);
  *   - `--verify` recomputes per-bucket row counts + hashes from
  *     storage and compares against the manifest.
  *
  * Emits ONE JSON metrics line (snapshot id, buckets written/carried/
  * remaining, per-bucket rows + hash) — the machine-readable lineage a
  * scheduler ingests.
  */
object PipelineJob {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: PipelineJob <storeRoot> [--images N] " +
        "[--events-per-image K] [--buckets B] [--max-buckets M] " +
        "[--verify] [--rewrite [--zorder col1,col2]]")
    val root = args(0)
    def intArg(flag: String, dflt: Int): Int =
      args.sliding(2).collectFirst {
        case Array(`flag`, v) => v.toInt }.getOrElse(dflt)
    val nImages = intArg("--images", 20000).toLong
    val perImage = intArg("--events-per-image", 5)
    val nBuckets = intArg("--buckets", 64)
    val maxBuckets = intArg("--max-buckets", Int.MaxValue)
    val doVerify = args.contains("--verify")
    // maintenance mode: rewrite the current snapshot's storage
    // (optionally Z-order-clustered) instead of producing features
    val doRewrite = args.contains("--rewrite")
    val zorderCols: Seq[String] = args.sliding(2).collectFirst {
      case Array("--zorder", v) => v.split(",").toSeq }.getOrElse(Seq.empty)
    // --zorder only means something to the rewrite path; silently
    // ignoring it would let a user believe their features were
    // clustered when the normal pipeline ran instead
    require(zorderCols.isEmpty || doRewrite,
      "--zorder requires --rewrite (Z-order clustering is a storage " +
        "rewrite, not a pipeline option)")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName("graft-pipeline-job")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit supplies the master (cluster mode); running the
    // main directly (sbt runMain, tests) falls back to local
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(s"local[$cpus]")).getOrCreate()
    try {
      if (doRewrite) {
        val res = SnapshotStore.rewriteSnapshot(spark, root,
          layoutCols = zorderCols)
        val verifyErrors =
          if (doVerify) SnapshotStore.verify(spark, root) else Seq.empty
        println(
          s"""{"job":"rewrite","snapshot":${res.snapshot}""" +
          s""","buckets":${res.written.size}""" +
          s""","zorder":"${zorderCols.mkString(",")}"""" +
          s""","verify_errors":${verifyErrors.size}}""")
        return
      }
      // fit once; persist fitted state next to the data it produced.
      // A fitted pipeline is bounded driver state (maps/scalars), so
      // the JSON is small regardless of input size.
      // the fit and the transform read one joined input, whose as-of
      // exchange runs once between them
      val joined = Flagship.joinedInput(spark, nImages, perImage)
      val pipe = Flagship.fitPipeline(joined)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "pipeline.json"), pipe.toJson)

      val features = pipe.transform(joined)
      val res = SnapshotStore.write(features, root,
        SnapshotStore.byKey("image_id", nBuckets),
        maxBucketsPerRun = maxBuckets)

      val verifyErrors: Seq[(Int, String)] =
        if (doVerify) SnapshotStore.verify(spark, root) else Seq.empty
      val lineage = SnapshotStore.manifest(root, res.snapshot)
      val totalRows = lineage.map(_.rows).sum
      def arr(xs: Seq[Int]) = xs.mkString("[", ",", "]")
      println(
        s"""{"job":"pipeline","snapshot":${res.snapshot}""" +
        s""","images":$nImages,"rows":$totalRows""" +
        s""","written":${arr(res.written)}""" +
        s""","carried":${arr(res.carried)}""" +
        s""","remaining":${arr(res.remaining)}""" +
        s""","incomplete":${res.remaining.nonEmpty}""" +
        s""","verify_errors":${verifyErrors.size}""" +
        s""","lineage":[""" + lineage.map(e =>
          s"""{"bucket":${e.bucket},"rows":${e.rows},"xxh":${e.xxh}}""")
          .mkString(",") + "]}")
    } finally spark.stop()
  }
}

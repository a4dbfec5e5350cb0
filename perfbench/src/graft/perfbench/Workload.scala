package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `run` is the timed operation; everything a
  * check or the next iteration needs is done in the untimed `prepare`
  * and `check`. Every iteration builds the same plans over the same
  * paths, so after warm-up Spark's codegen cache serves them.
  */
trait Workload {
  type Out

  /** Input rows one iteration processes. */
  def rowsPerIter: Long

  /** Generates the stored inputs. */
  def setup(): Unit

  /** After `setup`: the reference answers and pristine copies only the
    * harness needs (left out of `setup_s`).
    */
  def references(): Unit = ()

  /** Untimed: the state iteration `iter` starts from. */
  def prepare(iter: Int): Unit = ()

  def run(iter: Int, t: Tracer): Out

  /** Untimed: what is wrong with the output, empty when correct. */
  def check(iter: Int, out: Out): Seq[String]

  /** Useful-share ratios measured where the work happens, from the
    * outputs checked so far (keys are per-layer metric names).
    */
  def ratios: Map[String, Double]

  /** Bytes on disk per row of the table the workload stores: its
    * scanned inputs for the read workloads, the committed snapshot
    * files for the ingest.
    */
  def storedBytesPerRow: Double
}

object Workload {
  val Names = Seq("pit_skew", "ingest_append")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String)
      : Workload = name match {
    case "pit_skew" => new PitSkew(spark, seed, dir)
    case "ingest_append" => new IngestAppend(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

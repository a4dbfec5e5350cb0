package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + collection helpers for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.jdk.CollectionConverters._

  def df(schemaDdl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** Local property marking [[drainListenerBus]]'s marker job. */
  val DrainKey = "graft.test.drain"

  /** Blocks until the listener bus has delivered every event posted so
    * far to the shared queue (listeners added with `addSparkListener`
    * and the session's QueryExecutionListeners): it is FIFO, so the
    * end of a marker job, tagged with [[DrainKey]], arrives last.
    */
  def drainListenerBus(): Unit = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      @volatile private var marker = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(DrainKey) == token))
          marker = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker) done.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(DrainKey, token)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(DrainKey, null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain within 60 s")
    } finally sc.removeSparkListener(l)
  }

  /** Collect a single column as a seq (null-safe). */
  def column[T](d: DataFrame, c: String): Seq[Any] =
    d.select(c).collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // managed tables (BucketedTableSpec) land in a temp warehouse,
      // never in the repo working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse")
          .toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

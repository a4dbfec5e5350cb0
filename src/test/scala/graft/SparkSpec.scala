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

  /** `body`'s value and the descriptions of the jobs it ran, checking
    * that the caller's description is restored.
    */
  def describedJobs[T](body: => T): (T, List[String]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(DrainKey) == null)
          .foreach(p => descs.add(
            String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.setJobDescription("caller")
    try {
      sc.addSparkListener(l)
      try {
        val r = body
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        drainListenerBus()
        (r, descs.asScala.toList)
      } finally sc.removeSparkListener(l)
    } finally sc.setJobDescription(null)
  }

  /** The lines starting with `prefix` that `source`'s logger logs at
    * INFO while `body` runs.
    */
  def infoLines(source: Class[_], prefix: String)(body: => Unit)
      : Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender(prefix, null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(source).asInstanceOf[Logger]
    val level = logger.getLevel
    app.start()
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try body
    finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
    lines.toArray.map(_.toString).filter(_.startsWith(prefix)).toSeq
  }

  /** Collect a single column as a seq (null-safe). */
  def column[T](d: DataFrame, c: String): Seq[Any] =
    d.select(c).collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))
}

object SparkSpec {
  private var shared: SparkSession = _

  /** The suites' shared local session, started on first use and again
    * after [[withMaster]] stopped it.
    */
  def session: SparkSession = synchronized {
    if (shared == null || shared.sparkContext.isStopped)
      shared = start("local[4]")
    shared
  }

  /** Runs `body` on a session of its own with the given master (e.g.
    * `local[4,2]`, which retries a failed task once): the shared
    * session is stopped first, as a JVM runs one SparkContext, and the
    * next [[session]] call starts it again. Suites run one at a time,
    * so no other suite holds it meanwhile.
    */
  def withMaster[A](master: String)(body: SparkSession => A): A =
    synchronized {
      if (shared != null) shared.stop()
      val s = start(master)
      try body(s)
      finally {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

  private def start(master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
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

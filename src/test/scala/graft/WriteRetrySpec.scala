package graft

import graft.io.SnapshotStore
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.hadoop.mapreduce.TaskAttemptContext
import java.nio.file.Files

/** Fails the commit of the first attempt of every write task of
  * partition 0, after the task has written (and its stats trackers
  * have folded) all of its rows.
  */
class FirstAttemptFails(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean = false)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  override def commitTask(ctx: TaskAttemptContext)
      : org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
      FirstAttemptFails.failed.incrementAndGet()
      throw new java.io.IOException("injected failure of a first attempt")
    }
    super.commitTask(ctx)
  }
}

object FirstAttemptFails {
  val failed = new java.util.concurrent.atomic.AtomicInteger
}

/** Only committed task attempts count: a write task retried after its
  * first attempt failed at commit records the manifest a clean run
  * records.
  */
class WriteRetrySpec extends SparkSpec {

  private def run(s: SparkSession, failFirst: Boolean)
      : Seq[(Int, Long, Long, Map[String, (String, String, String)])] = {
    import s.implicits._
    val root = Files.createTempDirectory("writeretry").toString
    val byId = SnapshotStore.byKey("id", 8)
    def docs(from: Long, until: Long) = s.sparkContext
      .parallelize(from until until, 4)
      .map(i => (i, s"doc $i", i * 0.5)).toDF("id", "text", "score")
    SnapshotStore.write(docs(0, 400), root, byId, statsCols = Seq("id", "score"))
    if (failFirst) s.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[FirstAttemptFails].getName)
    try {
      val listed = Seq(1, 4, 6)
      SnapshotStore.overwriteBuckets(docs(0, 500).filter(byId.isin(listed: _*)),
        root, byId, listed, Seq("id", "score"))
      SnapshotStore.append(docs(500, 600), root, byId)
    } finally s.conf.unset("spark.sql.sources.commitProtocolClass")
    assert(SnapshotStore.verify(s, root).isEmpty)
    (2 to 3).flatMap(v => SnapshotStore.manifest(root, v)
      .map(e => (v * 100 + e.bucket, e.rows, e.xxh, e.stats)))
  }

  test("under local[4,2], a write task whose first attempt fails at " +
      "commit records the manifest of a clean run (overwriteBuckets and " +
      "append), and verify passes") {
    SparkSpec.withMaster("local[4,2]") { s =>
      s.sparkContext.setLogLevel("OFF")
      FirstAttemptFails.failed.set(0)
      val retried = run(s, failFirst = true)
      // one failed first attempt in each of the two writes
      assert(FirstAttemptFails.failed.get() === 2)
      val clean = run(s, failFirst = false)
      assert(retried === clean)
      assert(clean.map(_._2).sum > 0)
    }
  }
}

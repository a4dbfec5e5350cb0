package graft

import graft.io.SnapshotStore
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checkpoint / lineage / snapshot semantics (north_rule: resumable
  * from checkpoint with per-partition lineage + metrics).
  */
class SnapshotStoreSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("snapstore").toString

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"doc text $i ${"x" * (i % 13)}"))
      .toDF("doc_id", "text")
  }

  test("two-run checkpointed write covers all buckets exactly once") {
    val root = freshRoot()
    val d = docs(1000)
    val bucket = SnapshotStore.byKey("doc_id", 16)

    val r1 = SnapshotStore.write(d, root, bucket, maxBucketsPerRun = 7)
    assert(r1.written.size === 7)
    assert(r1.carried.isEmpty)
    assert(r1.remaining.size === 9)

    // "crash" happened here; resume writes ONLY the remaining buckets
    val r2 = SnapshotStore.write(d, root, bucket)
    assert(r2.carried.toSet === r1.written.toSet)
    assert(r2.written.size === 9)
    assert(r2.remaining.isEmpty)

    val back = SnapshotStore.read(spark, root)
    assert(back.count() === 1000)
    assert(back.columns.toSet === Set("doc_id", "text"))
    assert(back.select(sum("doc_id")).head().getLong(0) === 499500L)
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("empty table states read back as typed empty frames") {
    // regression class: a zero-bucket snapshot has no parquet files to
    // infer a schema from — the per-snapshot schema DDL reconstructs
    // the typed empty frame instead of crashing on a missing basePath
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 16)
    // 1. a store whose FIRST snapshot is empty
    SnapshotStore.write(docs(0), root, bucket)
    val empty = SnapshotStore.read(spark, root)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("doc_id", "text"))
    // 2. content arrives, then the table legitimately empties again
    SnapshotStore.write(docs(100), root, bucket)
    assert(SnapshotStore.read(spark, root).count() === 100)
    SnapshotStore.write(docs(0), root, bucket)
    val emptied = SnapshotStore.read(spark, root)
    assert(emptied.count() === 0)
    assert(emptied.columns.toSeq === Seq("doc_id", "text"))
    // time travel still sees the non-empty middle snapshot
    assert(SnapshotStore.read(spark, root, Some(2)).count() === 100)
  }

  test("unchanged rewrite writes nothing; changed bucket rewrites alone") {
    val root = freshRoot()
    val d = docs(500)
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(d, root, bucket)

    val r2 = SnapshotStore.write(d, root, bucket)
    assert(r2.written.isEmpty && r2.carried.size === 8)

    // mutate one row -> exactly that row's bucket is dirty
    val d2 = d.withColumn("text",
      when(col("doc_id") === 123L, lit("CHANGED")).otherwise(col("text")))
    val r3 = SnapshotStore.write(d2, root, bucket)
    assert(r3.written.size === 1)
    val changed = SnapshotStore.read(spark, root)
      .filter(col("doc_id") === 123L).select("text").head().getString(0)
    assert(changed === "CHANGED")
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("snapshot-scoped read: old snapshot unaffected by later writes") {
    val root = freshRoot()
    val d = docs(200)
    val bucket = SnapshotStore.byKey("doc_id", 4)
    val r1 = SnapshotStore.write(d, root, bucket)

    val d2 = d.withColumn("text", concat(col("text"), lit("!v2")))
    val r2 = SnapshotStore.write(d2, root, bucket)
    assert(r2.snapshot > r1.snapshot)

    val oldRead = SnapshotStore.read(spark, root, Some(r1.snapshot))
    assert(oldRead.filter(col("text").endsWith("!v2")).count() === 0)
    val newRead = SnapshotStore.read(spark, root)
    assert(newRead.filter(col("text").endsWith("!v2")).count() === 200)
    assert(SnapshotStore.verify(spark, root, Some(r1.snapshot)).isEmpty)
  }

  test("mid-checkpoint snapshot is not exposed to readers") {
    val root = freshRoot()
    val d = docs(300)
    val bucket = SnapshotStore.byKey("doc_id", 8)
    val r1 = SnapshotStore.write(d, root, bucket, maxBucketsPerRun = 3)
    assert(r1.remaining.nonEmpty)
    // the truncated run's manifest is marked incomplete: no complete
    // snapshot exists yet, so default reads refuse rather than serving
    // a partial table
    assert(SnapshotStore.isIncomplete(root, r1.snapshot))
    assert(SnapshotStore.latestSnapshot(root).isEmpty)
    intercept[IllegalStateException] { SnapshotStore.read(spark, root) }
    val r2 = SnapshotStore.write(d, root, bucket)
    assert(r2.remaining.isEmpty)
    assert(SnapshotStore.latestSnapshot(root) === Some(r2.snapshot))
    assert(SnapshotStore.read(spark, root).count() === 300)
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("non-deterministic input: lineage agrees with stored files") {
    val root = freshRoot()
    // rand() would be re-evaluated between the lineage agg and the file
    // write without the persist inside write(); verify() would then flag
    // every bucket
    val d = docs(200).withColumn("r", rand())
    SnapshotStore.write(d, root, SnapshotStore.byKey("doc_id", 4))
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("expireSnapshots keeps the last N, GCs only unreferenced buckets") {
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    import spark.implicits._
    // v1: base; v2: one bucket's rows changed (7 carried by reference);
    // v3: identical to v2 (all carried)
    val base = docs(400)
    SnapshotStore.write(base, root, bucket)
    val changed = base
      .withColumn("text", when(col("doc_id") === 0L, lit("CHANGED"))
        .otherwise(col("text")))
    val r2 = SnapshotStore.write(changed, root, bucket)
    assert(r2.written.size === 1)
    val r3 = SnapshotStore.write(changed, root, bucket)
    assert(r3.written.isEmpty && r3.carried.size === 8)

    val res = SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(res.expiredSnapshots === Seq(1, 2))
    // v1's superseded copy of the changed bucket is the ONLY orphan:
    // the 7 carried buckets are still referenced by v3 and must survive
    assert(res.deletedBucketDirs.size === 1)
    assert(res.deletedBucketDirs.head.contains("run=1"))

    // latest read + lineage verify still intact after GC
    assert(SnapshotStore.latestSnapshot(root) === Some(3))
    val back = SnapshotStore.read(spark, root)
    assert(back.count() === 400)
    assert(back.filter(col("text") === "CHANGED").count() === 1)
    assert(SnapshotStore.verify(spark, root).isEmpty)
    // time travel to an expired snapshot now fails cleanly
    intercept[Exception] {
      SnapshotStore.read(spark, root, snapshot = Some(1)).count()
    }
    // idempotent: nothing left to expire
    val res2 = SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(res2.expiredSnapshots.isEmpty &&
      res2.deletedBucketDirs.isEmpty)
  }

  test("changedBuckets/readChanges: incremental read sees only " +
      "changed buckets") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    val v1 = SnapshotStore.write(docs(400), root, bucket).snapshot

    // change exactly one document -> exactly its bucket is dirty
    val d2 = docs(400).withColumn("text",
      when(col("doc_id") === 123L, lit("CHANGED")).otherwise(col("text")))
    val v2 = SnapshotStore.write(d2, root, bucket).snapshot
    val dirtyBucket = spark.range(1)
      .select(pmod(xxhash64(lit(123L)), lit(8)).cast("int").as("b"))
      .head().getInt(0)
    assert(SnapshotStore.changedBuckets(root, Some(v1), v2) ===
      Seq(dirtyBucket))

    // incremental read returns the changed bucket's rows ONLY, and
    // contains the changed document
    val inc = SnapshotStore.readChanges(spark, root, Some(v1), v2)
    assert(inc.filter(col("text") === "CHANGED").count() === 1)
    val full = SnapshotStore.read(spark, root, Some(v2))
      .withColumn("b", SnapshotStore.byKey("doc_id", 8))
    assert(inc.count() ===
      full.filter(col("b") === dirtyBucket).count())

    // no change between identical snapshots -> empty frame, schema kept
    val v3 = SnapshotStore.write(d2, root, bucket).snapshot
    assert(SnapshotStore.changedBuckets(root, Some(v2), v3).isEmpty)
    val none = SnapshotStore.readChanges(spark, root, Some(v2), v3)
    assert(none.count() === 0 &&
      none.columns.toSet === Set("doc_id", "text"))

    // cold start (from=None): everything is a change
    assert(SnapshotStore.changedBuckets(root, None, v2).size === 8)
  }

  test("snapshotDiff: row-level insert/update/delete verdicts; " +
      "null-stable and unchanged rows absent; changed buckets only") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    def mk(rows: Seq[(Long, String, Option[String])]) =
      rows.toDF("doc_id", "text", "meta")
    val base = (0L until 100L).map(i =>
      (i, s"t$i", if (i % 9 == 0) None else Some(s"m$i")))
    val v1 = SnapshotStore.write(mk(base), root, bucket).snapshot
    // v2: delete 7, change 13's text, add 100/101; every other row
    // (including the %9 null-meta rows) is bit-identical
    val after = base.filterNot(_._1 == 7L).map {
      case (13L, _, m) => (13L, "CHANGED", m)
      case r => r
    } ++ Seq((100L, "t100", Option("m100")), (101L, "t101", None))
    val v2 = SnapshotStore.write(mk(after), root, bucket).snapshot

    val diff = SnapshotStore.snapshotDiff(spark, root, v1, v2,
      Seq("doc_id"))
    val got = diff.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((7L, "delete"), (13L, "update"),
      (100L, "insert"), (101L, "insert")))

    // CDC reads only lineage-changed buckets: the diff's union of
    // input files is strictly smaller than two full snapshot scans
    val fullFiles =
      SnapshotStore.read(spark, root, Some(v1)).inputFiles.length +
        SnapshotStore.read(spark, root, Some(v2)).inputFiles.length
    assert(diff.inputFiles.length < fullFiles,
      s"diff scans ${diff.inputFiles.length} files vs $fullFiles " +
        "for two full reads — bucket pruning is not engaging")

    // identical snapshots diff to an empty frame with the contract
    // schema
    val v3 = SnapshotStore.write(mk(after), root, bucket).snapshot
    val none = SnapshotStore.snapshotDiff(spark, root, v2, v3,
      Seq("doc_id"))
    assert(none.count() === 0 &&
      none.columns.toSeq === Seq("doc_id", "change_type"))
  }

  test("snapshotChangelog: per-step verdicts; a twice-changed key " +
      "appears once per step; degenerate range is empty") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("id", 4)
    def mk(rows: Seq[(Long, String)]) = rows.toDF("id", "v")
    val v1 = SnapshotStore.write(
      mk(Seq(1L -> "a", 2L -> "b", 3L -> "c")), root, bucket).snapshot
    val v2 = SnapshotStore.write(
      mk(Seq(1L -> "a", 2L -> "B", 4L -> "d")), root, bucket).snapshot
    val v3 = SnapshotStore.write(
      mk(Seq(1L -> "a", 2L -> "B2", 4L -> "d")), root, bucket).snapshot
    val log = SnapshotStore.snapshotChangelog(spark, root, v1, v3,
      Seq("id")).orderBy("to_snapshot", "id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(log === Seq(
      (2L, "update", v2), (3L, "delete", v2), (4L, "insert", v2),
      (2L, "update", v3))) // key 2 changed in BOTH steps
    val none = SnapshotStore.snapshotChangelog(spark, root, v3, v3,
      Seq("id"))
    assert(none.count() === 0 && none.columns.toSeq ===
      Seq("id", "change_type", "to_snapshot"))
    intercept[IllegalArgumentException] { // dangling range endpoint
      SnapshotStore.snapshotChangelog(spark, root, v1, v3 + 7,
        Seq("id"))
    }
  }

  test("mergeChanges: upsert replaces / inserts, delete drops (absent" +
      " key is a no-op), delete+upsert nets upsert, buckets carried") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("id", 8)
    val base = (0L until 80L).map(i => (i, s"v$i")).toDF("id", "v")
    SnapshotStore.write(base, root, bucket)
    val changes = Seq(
      (3L, "V3", "upsert"),   // replace existing
      (100L, "new", "upsert"),// brand-new key
      (7L, "ignored", "delete"),
      (999L, "ignored", "delete"), // absent key: no-op
      (9L, "ignored", "delete"), (9L, "V9", "upsert") // nets upsert
    ).toDF("id", "v", "op")
    val res = SnapshotStore.mergeChanges(spark, root, changes,
      Seq("id"), bucket)
    val back = SnapshotStore.read(spark, root).orderBy("id")
    assert(back.count() === 80) // -1 delete +1 insert
    val got = back.filter(col("id").isin(3L, 7L, 9L, 100L, 999L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(3L -> "V3", 9L -> "V9", 100L -> "new"))
    // only the touched buckets were rewritten; the rest carried
    assert(res.written.nonEmpty && res.written.size < 8)
    assert((res.written ++ res.carried).sorted === (0 until 8))

    // empty change set: a no-op that does NOT publish a snapshot
    val res2 = SnapshotStore.mergeChanges(spark, root,
      changes.filter(lit(false)), Seq("id"), bucket)
    assert(res2.snapshot === res.snapshot && res2.written.isEmpty)

    intercept[IllegalArgumentException] { // typo'd op fails loudly
      SnapshotStore.mergeChanges(spark, root,
        Seq((1L, "x", "uspert")).toDF("id", "v", "op"),
        Seq("id"), bucket)
    }
    intercept[IllegalArgumentException] { // schema drift fails loudly
      SnapshotStore.mergeChanges(spark, root,
        Seq((1L, "upsert")).toDF("id", "op"), Seq("id"), bucket)
    }
  }

  test("verify detects tampered storage") {
    val root = freshRoot()
    val d = docs(100)
    val r = SnapshotStore.write(d, root, SnapshotStore.byKey("doc_id", 4))
    // tamper: delete one bucket's files
    val victim = SnapshotStore.manifest(root, r.snapshot).head
    val dir = java.nio.file.Paths.get(victim.path)
    Files.list(dir).iterator().forEachRemaining(p => Files.delete(p))
    Files.delete(dir)
    val bad = SnapshotStore.verify(spark, root)
    assert(bad.nonEmpty)
    assert(bad.exists(_._1 == victim.bucket))
  }

  test("rewriteSnapshot: z-clustered rewrite preserves content and " +
      "lineage; old snapshot still readable; verify passes") {
    import spark.implicits._
    val root = freshRoot()
    val rnd = new scala.util.Random(3)
    val d = (0 until 2000).map(i => (i.toLong,
      rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("id", "x", "y")
    val r1 = SnapshotStore.write(d, root, SnapshotStore.byKey("id", 8))
    val before = SnapshotStore.manifest(root, r1.snapshot)

    val r2 = SnapshotStore.rewriteSnapshot(spark, root,
      layoutCols = Seq("x", "y"), bits = 8)
    assert(r2.snapshot == r1.snapshot + 1)
    assert(r2.written.size == 8 && r2.remaining.isEmpty)

    // identical lineage, new file locations
    val after = SnapshotStore.manifest(root, r2.snapshot)
    assert(after.map(e => (e.bucket, e.rows, e.xxh)).sortBy(_._1) ==
      before.map(e => (e.bucket, e.rows, e.xxh)).sortBy(_._1))
    assert(after.map(_.path).toSet.intersect(
      before.map(_.path).toSet).isEmpty)

    // identical content; storage verifies; time travel intact
    val a = SnapshotStore.read(spark, root).orderBy("id").collect()
    val b = SnapshotStore.read(spark, root, Some(r1.snapshot))
      .orderBy("id").collect()
    assert(a.toSeq == b.toSeq)
    assert(SnapshotStore.verify(spark, root).isEmpty)

    // and the rewrite actually clustered: within each new bucket file,
    // contiguous chunks cover small (x, y) boxes vs the unsorted write
    def avgBox(rows: Seq[(Double, Double)]): Double =
      rows.grouped(50).filter(_.size == 50).map { g =>
        (g.map(_._1).max - g.map(_._1).min) *
          (g.map(_._2).max - g.map(_._2).min)
      }.toSeq.sum / math.max(1, rows.size / 50)
    val newFile = after.head.path
    val clustered = spark.read.parquet(newFile)
      .select("x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val oldFile = before.head.path
    val unsorted = spark.read.parquet(oldFile)
      .select("x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(avgBox(clustered) < avgBox(unsorted) / 2,
      s"clustered ${avgBox(clustered)} vs unsorted ${avgBox(unsorted)}")
  }

  test("rewriteSnapshot refuses while an incomplete checkpoint is " +
      "pending (would bury its resume lineage)") {
    val root = freshRoot()
    val d = docs(400)
    SnapshotStore.write(d, root, SnapshotStore.byKey("doc_id", 8))
    // changed data, truncated write -> incomplete manifest on top
    SnapshotStore.write(
      d.withColumn("text", concat(col("text"), lit("!"))),
      root, SnapshotStore.byKey("doc_id", 8), maxBucketsPerRun = 3)
    val e = intercept[IllegalStateException] {
      SnapshotStore.rewriteSnapshot(spark, root)
    }
    assert(e.getMessage.contains("incomplete checkpoint"))
    // finishing the write re-enables maintenance
    SnapshotStore.write(
      d.withColumn("text", concat(col("text"), lit("!"))),
      root, SnapshotStore.byKey("doc_id", 8))
    assert(SnapshotStore.rewriteSnapshot(spark, root).written.size == 8)
  }

  test("crashed attempt's leftover run dir is dropped, not appended " +
      "to (no silent row duplication on retry)") {
    val root = freshRoot()
    val d = docs(200)
    val bucket = SnapshotStore.byKey("doc_id", 4)
    // simulate a crash AFTER the parquet write, BEFORE the manifest
    // (the documented commit point): do a full write, then delete its
    // manifest + schema so only the data files remain
    SnapshotStore.write(d, root, bucket)
    Files.delete(java.nio.file.Paths.get(root,
      "snapshots", "v1.manifest.jsonl"))
    Files.delete(java.nio.file.Paths.get(root,
      "snapshots", "v1.schema.ddl"))
    // the retry must NOT append next to the stale files
    val r = SnapshotStore.write(d, root, bucket)
    assert(r.snapshot == 1)
    assert(SnapshotStore.read(spark, root).count() == 200)
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("reserved column names are rejected up front") {
    import spark.implicits._
    val root = freshRoot()
    val bad1 = Seq((1L, 0)).toDF("doc_id", "__bucket")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotStore.write(bad1, root, SnapshotStore.byKey("doc_id", 2))
    }
    assert(e1.getMessage.contains("reserved"))
    val bad2 = Seq((1L, 3)).toDF("doc_id", "run")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStore.write(bad2, root, SnapshotStore.byKey("doc_id", 2))
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("expireSnapshots with an unnormalized root (trailing slash) " +
      "does not GC live buckets") {
    val root = freshRoot() + "/" // unnormalized on purpose
    val d = docs(100)
    val bucket = SnapshotStore.byKey("doc_id", 4)
    SnapshotStore.write(d, root, bucket)
    SnapshotStore.write(
      d.withColumn("text", concat(col("text"), lit("!"))),
      root, bucket)
    SnapshotStore.expireSnapshots(root, keepLast = 1)
    // the kept snapshot must still be fully readable and verified
    assert(SnapshotStore.read(spark, root).count() == 100)
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("bucket-level scan pruning: readRange consults manifest " +
      "bounding boxes and scans only intersecting buckets") {
    import spark.implicits._
    val root = freshRoot()
    // range-bucketed on doc_id: 10 buckets of 100 contiguous ids, so
    // bounding boxes are tight and a selective range hits ONE bucket
    val d = docs(1000)
    val bucket = (col("doc_id") / lit(100L)).cast("int")
    SnapshotStore.write(d, root, bucket, statsCols = Seq("doc_id", "text"))

    val all = SnapshotStore.manifest(root, 1)
    assert(all.size == 10)
    assert(all.forall(_.stats.contains("doc_id")))
    // the pruning decision itself: 1 of 10 buckets survives
    val kept = SnapshotStore.prunedManifest(
      root, "doc_id", Some(250L), Some(260L))
    assert(kept.map(_.bucket) == Seq(2),
      s"expected only bucket 2, got ${kept.map(_.bucket)}")
    // and the pruned read is value-exact vs the full-scan filter
    val pruned = SnapshotStore.readRange(
      spark, root, "doc_id", Some(250L), Some(260L))
    val full = SnapshotStore.read(spark, root)
      .filter(col("doc_id") >= 250L && col("doc_id") <= 260L)
    assert(pruned.orderBy("doc_id").collect().toSeq ==
      full.orderBy("doc_id").collect().toSeq)
    assert(pruned.count() == 11)
    // the scan itself touches fewer files, not just fewer manifest rows
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruned scan reads ${pruned.inputFiles.length} files vs " +
        s"full ${full.inputFiles.length}")

    // string stats prune lexicographically
    val keptS = SnapshotStore.prunedManifest(
      root, "text", Some("doc text 250"), Some("doc text 250"))
    assert(keptS.size < 10)

    // unbounded side + out-of-range predicate -> zero buckets, typed
    // empty result
    assert(SnapshotStore.prunedManifest(
      root, "doc_id", Some(5000L), None).isEmpty)
    val empty = SnapshotStore.readRange(
      spark, root, "doc_id", Some(5000L), None)
    assert(empty.count() == 0 &&
      empty.columns.toSet == Set("doc_id", "text"))
  }

  test("pruning degrades safely: stats-free manifests never prune, " +
      "rewriteSnapshot carries stats, carried buckets keep stats") {
    import spark.implicits._
    val root = freshRoot()
    val d = docs(300)
    val bucket = (col("doc_id") / lit(100L)).cast("int")
    // v1 written WITHOUT stats (the pre-stats manifest shape)
    SnapshotStore.write(d, root, bucket)
    assert(SnapshotStore.manifest(root, 1).forall(_.stats.isEmpty))
    assert(SnapshotStore.prunedManifest(
      root, "doc_id", Some(1L), Some(2L)).size == 3) // keeps all
    // readRange still value-exact without any stats
    assert(SnapshotStore.readRange(spark, root, "doc_id",
      Some(1L), Some(2L)).count() == 2)

    // v2 adds stats; unchanged buckets are CARRIED yet still get the
    // fresh bounding boxes
    val r2 = SnapshotStore.write(d, root, bucket,
      statsCols = Seq("doc_id"))
    assert(r2.written.isEmpty && r2.carried.size == 3)
    assert(SnapshotStore.manifest(root, 2)
      .forall(_.stats.contains("doc_id")))

    // Z-order rewrite publishes v3 with stats intact
    SnapshotStore.rewriteSnapshot(spark, root,
      layoutCols = Seq("doc_id"))
    assert(SnapshotStore.manifest(root, 3)
      .forall(_.stats.contains("doc_id")))
    assert(SnapshotStore.prunedManifest(
      root, "doc_id", Some(250L), None, Some(3))
      .map(_.bucket) == Seq(2))
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("string stats truncate like Iceberg: bounded manifest reprs, " +
      "upper bound increments the last code point, pruning stays " +
      "safe for values sharing a long prefix") {
    import spark.implicits._
    assert(SnapshotStore.truncLower("short") == "short")
    assert(SnapshotStore.truncUpper("short").contains("short"))
    val long = "a" * 40
    assert(SnapshotStore.truncLower(long) == "a" * 32)
    assert(SnapshotStore.truncUpper(long).contains("a" * 31 + "b"))
    // a prefix of un-incrementable code points leaves the column
    // untracked rather than risking a too-small upper bound
    val maxCp = new String(Character.toChars(Character.MAX_CODE_POINT))
    assert(SnapshotStore.truncUpper(maxCp * 40).isEmpty)
    // integration: 44-char strings sharing a 31-char prefix — every
    // manifest repr stays bounded, and a range read for one exact
    // long value still returns it (safety: never wrongly pruned)
    val root = freshRoot()
    val prefix = "the quick brown fox jumps over " // 31 chars
    val d = (0 until 200)
      .map(i => (i.toLong, prefix + f"document $i%04d"))
      .toDF("doc_id", "text")
    val bucket = (col("doc_id") / lit(50L)).cast("int")
    SnapshotStore.write(d, root, bucket, statsCols = Seq("text"))
    val m = SnapshotStore.manifest(root, 1)
    assert(m.nonEmpty && m.forall(e => e.stats.get("text").exists {
      case (_, lo, hi) => lo.length <= 33 && hi.length <= 33
    }), "string bounds must be truncated in the manifest")
    val target = prefix + "document 0123"
    assert(SnapshotStore.readRange(spark, root, "text",
      Some(target), Some(target)).count() == 1)
  }

  test("stats survive hostile values: Infinity degrades to untracked " +
      "(write succeeds, never prunes), a DATE bound prunes a " +
      "TIMESTAMP column in consistent units, and string pruning " +
      "orders by UTF-8 bytes like Spark's min/max") {
    import spark.implicits._
    val root = freshRoot()
    val d = (0 until 300).map(i => (i.toLong,
      if (i % 100 == 50) Double.PositiveInfinity else i.toDouble,
      java.sql.Timestamp.valueOf(f"2026-01-${1 + i / 100}%02d 12:00:00"),
      if (i % 100 == 0) "😀" else "plain"))
      .toDF("doc_id", "score", "ts", "s")
    val bucket = (col("doc_id") / lit(100L)).cast("int")
    // +Infinity in every bucket's score max: BigDecimal can't hold it
    // — the write must SUCCEED and leave score untracked
    SnapshotStore.write(d, root, bucket,
      statsCols = Seq("score", "ts", "s"))
    val m = SnapshotStore.manifest(root, 1)
    assert(m.size == 3 && m.forall(!_.stats.contains("score")))
    assert(SnapshotStore.prunedManifest(
      root, "score", Some(1.0), Some(2.0)).size == 3) // never prunes
    // date lower bound against timestamp stats: same epoch-micros
    // units, so bucket 0 (all Jan 1 noon) is provably below Jan 2
    val kept = SnapshotStore.prunedManifest(root, "ts",
      Some(java.sql.Date.valueOf("2026-01-02")), None)
    assert(kept.map(_.bucket).sorted == Seq(1, 2),
      s"date-vs-timestamp pruning kept ${kept.map(_.bucket)}")
    val pruned = SnapshotStore.readRange(spark, root, "ts",
      Some(java.sql.Date.valueOf("2026-01-02")), None)
    val full = SnapshotStore.read(spark, root)
      .filter(col("ts") >= lit(java.sql.Date.valueOf("2026-01-02")))
    assert(pruned.count() == 200 && full.count() == 200)
    // supplementary-plane string: UTF-8 bytes (F0 9F 98 80) sort
    // ABOVE U+FFFD (EF BF BD) — Java's UTF-16 compare would wrongly
    // prune every bucket for this bound
    val keptS = SnapshotStore.prunedManifest(
      root, "s", Some("�"), None)
    assert(keptS.size == 3,
      "emoji max must survive a U+FFFD lower bound under UTF-8 order")
  }

  test("additive schema evolution: mergeChanges adds a column, " +
      "untouched buckets serve null, verify + diff cross the " +
      "boundary, rewrite materializes the migration") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docs(400), root, bucket) // v1
    val changes = Seq(
      (3L, "doc three rewritten", "en", "upsert"),
      (7L, "doc seven rewritten", "fr", "upsert"))
      .toDF("doc_id", "text", "lang", "op")
    val r = SnapshotStore.mergeChanges(spark, root, changes,
      Seq("doc_id"), bucket) // v2, evolved
    assert(r.written.size <= 2, "evolution must not rewrite the table")
    val back = SnapshotStore.read(spark, root)
    assert(back.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(back.count() === 400)
    assert(back.filter(col("lang").isNotNull).count() === 2)
    assert(back.filter(col("doc_id") === 3L)
      .head().getString(2) === "en")
    // time travel still serves v1 under ITS schema
    assert(SnapshotStore.read(spark, root, Some(1)).columns.toSeq ===
      Seq("doc_id", "text"))
    // the mixed-schema manifest verifies: old-schema entries are
    // pinned (sv) and re-hashed under their own column set
    val m2 = SnapshotStore.manifest(root, 2)
    assert(m2.exists(_.schemaV.contains(1)), "carried entries pinned")
    assert(SnapshotStore.verify(spark, root).isEmpty)
    // CDC across the evolution boundary: exactly the two upserts
    val d = SnapshotStore.snapshotDiff(spark, root, 1, 2, Seq("doc_id"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(d === Seq((3L, "update"), (7L, "update")))
    // rewriteSnapshot = the schema-migrating compactor: content
    // proven per schema version, pins cleared, nulls materialized
    SnapshotStore.rewriteSnapshot(spark, root) // v3
    val m3 = SnapshotStore.manifest(root, 3)
    assert(m3.forall(_.schemaV.isEmpty))
    assert(SnapshotStore.verify(spark, root).isEmpty)
    val b3 = SnapshotStore.read(spark, root, Some(3))
    assert(b3.count() === 400 &&
      b3.filter(col("lang").isNotNull).count() === 2)
    assert(SnapshotStore.snapshotDiff(spark, root, 2, 3,
      Seq("doc_id")).count() === 0)
  }

  test("non-additive evolution fails loudly; write() across a schema " +
      "change never carries by reference") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docs(200), root, bucket)
    // type change is not additive
    val badType = Seq((1L, 5)).toDF("doc_id", "text")
      .withColumn("op", lit("upsert"))
    intercept[IllegalArgumentException] {
      SnapshotStore.mergeChanges(spark, root, badType,
        Seq("doc_id"), bucket)
    }
    // dropping a table column is not additive either
    val missing = Seq((1L, "en")).toDF("doc_id", "lang")
      .withColumn("op", lit("upsert"))
    intercept[IllegalArgumentException] {
      SnapshotStore.mergeChanges(spark, root, missing,
        Seq("doc_id"), bucket)
    }
    // a rename keeps every VALUE identical, so the content hashes all
    // match — carry would silently serve files whose parquet schema no
    // longer answers the new DDL; the write must rewrite everything
    val renamed = docs(200).withColumnRenamed("text", "body")
    val r = SnapshotStore.write(renamed, root, bucket)
    assert(r.carried.isEmpty && r.written.nonEmpty)
    assert(SnapshotStore.read(spark, root).columns.toSeq ===
      Seq("doc_id", "body"))
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  private def docRange(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"doc text $i ${"x" * (i % 13)}"))
      .toDF("doc_id", "text")
  }

  private def rowsOf(d: org.apache.spark.sql.DataFrame) =
    d.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("append: k fast appends verify clean, read the union of the " +
      "inputs, and combine lineage exactly as a one-shot write") {
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docRange(0, 400), root, bucket,
      statsCols = Seq("doc_id"))
    val batches = Seq(docRange(400, 460), docRange(460, 530),
      docRange(530, 545))
    batches.zipWithIndex.foreach { case (b, i) =>
      val r = SnapshotStore.append(b, root, bucket)
      assert(r.snapshot === i + 2)
      assert(r.remaining.isEmpty)
      assert((r.written ++ r.carried).sorted === (0 until 8))
      assert(SnapshotStore.verify(spark, root).isEmpty,
        s"verify after append ${i + 1}")
    }
    // only the incoming rows were written: every bucket gained exactly
    // one directory per append that touched it
    val m = SnapshotStore.manifest(root, 4)
    assert(m.map(_.paths.size).max === 4)
    assert(m.flatMap(_.paths).distinct.size === m.map(_.paths.size).sum)
    assert(rowsOf(SnapshotStore.read(spark, root)) ===
      rowsOf(docRange(0, 545)))
    // rows sum, xxh XORs, the tracked column's stats bounds widen:
    // the same per-bucket lineage a single write of the union records
    val oneShot = freshRoot()
    SnapshotStore.write(docRange(0, 545), oneShot, bucket,
      statsCols = Seq("doc_id"))
    val want = SnapshotStore.manifest(oneShot, 1)
      .map(e => e.bucket -> ((e.rows, e.xxh, e.stats))).toMap
    assert(m.map(e => e.bucket -> ((e.rows, e.xxh, e.stats))).toMap ===
      want)
    // older snapshots still read exactly their own files
    assert(SnapshotStore.read(spark, root, Some(2)).count() === 460)
    assert(SnapshotStore.verify(spark, root, Some(2)).isEmpty)
  }

  test("append: a replayed batch converges, an empty one publishes " +
      "nothing, mismatched columns fail loudly") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docRange(0, 200), root, bucket)
    val b = docRange(200, 260)
    assert(SnapshotStore.append(b, root, bucket).snapshot === 2)
    // a full replay finds every row stored: no new snapshot
    val again = SnapshotStore.append(b, root, bucket)
    assert(again.snapshot === 2 && again.written.isEmpty &&
      again.carried.size === 8)
    // a partial replay adds exactly the rows not yet stored
    val r = SnapshotStore.append(docRange(240, 300), root, bucket)
    assert(r.snapshot === 3)
    assert(rowsOf(SnapshotStore.read(spark, root)) ===
      rowsOf(docRange(0, 300)))
    assert(SnapshotStore.verify(spark, root).isEmpty)
    // a row sharing a stored key but not its content is still added
    SnapshotStore.append(Seq((5L, "other text")).toDF("doc_id", "text"),
      root, bucket)
    assert(SnapshotStore.read(spark, root)
      .filter(col("doc_id") === 5L).count() === 2)
    assert(SnapshotStore.append(docRange(0, 0), root, bucket)
      .snapshot === 4)
    // columns in another order are fine; missing, extra or retyped
    // columns are not
    SnapshotStore.append(docRange(300, 310).select("text", "doc_id"),
      root, bucket)
    assert(SnapshotStore.read(spark, root).count() === 311)
    Seq(docRange(310, 311).select("doc_id"),
      docRange(310, 311).withColumn("lang", lit("en")),
      Seq((310L, 1)).toDF("doc_id", "text")).foreach { bad =>
      intercept[IllegalArgumentException] {
        SnapshotStore.append(bad, root, bucket)
      }
    }
    // an empty store is bootstrapped
    val fresh = freshRoot()
    assert(SnapshotStore.append(docRange(0, 10), fresh, bucket)
      .snapshot === 1)
    assert(SnapshotStore.read(spark, fresh).count() === 10)
  }

  test("append: tracked bounds spare the stored read for a batch of " +
      "newer ids; a null in the tracked column keeps its bucket read") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docRange(0, 200), root, bucket,
      statsCols = Seq("doc_id"))
    // a replay inside the stored bounds is read and converges
    assert(SnapshotStore.append(docRange(150, 250), root, bucket)
      .snapshot === 2)
    assert(rowsOf(SnapshotStore.read(spark, root)) ===
      rowsOf(docRange(0, 250)))
    // ids above every stored id: the append must not open a stored
    // file, so it succeeds with every stored directory moved away
    val aside = Paths.get(freshRoot())
    val moved = SnapshotStore.manifest(root, 2).flatMap(_.paths)
      .zipWithIndex.map { case (p, i) =>
        Files.move(Paths.get(p), aside.resolve(i.toString))
        (aside.resolve(i.toString), Paths.get(p))
      }
    val r = SnapshotStore.append(docRange(250, 300), root, bucket)
    moved.foreach { case (from, to) => Files.move(from, to) }
    assert(r.snapshot === 3 && r.written.nonEmpty)
    assert(rowsOf(SnapshotStore.read(spark, root)) ===
      rowsOf(docRange(0, 300)))
    assert(SnapshotStore.verify(spark, root).isEmpty)
    // a stored null id shares its bucket with a newer id: the newer
    // id's bound alone would rule the bucket out, but the incoming
    // null can equal the stored one, so the bucket is read
    val withNull = Seq((Option.empty[Long], "null doc"))
      .toDF("doc_id", "text")
    val nulls = freshRoot()
    SnapshotStore.write(docRange(0, 200).unionByName(withNull), nulls,
      bucket, statsCols = Seq("doc_id"))
    val nullBucket = withNull.select(bucket).head().getInt(0)
    assert(SnapshotStore.manifest(nulls, 1)
      .exists(e => e.bucket == nullBucket && e.stats.contains("doc_id")))
    val newer = (1000L to 2000L).toDF("doc_id")
      .filter(bucket === lit(nullBucket)).head().getLong(0)
    SnapshotStore.append(withNull.unionByName(
      Seq((Option(newer), "newer doc")).toDF("doc_id", "text")),
      nulls, bucket)
    val back = SnapshotStore.read(spark, nulls)
    assert(back.filter(col("doc_id").isNull).count() === 1)
    assert(back.count() === 202)
    assert(SnapshotStore.verify(spark, nulls).isEmpty)
  }

  test("append: expiry keeps every delta a kept manifest references; " +
      "rewriteSnapshot folds deltas with identical lineage, after " +
      "which expiry deletes them") {
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docRange(0, 300), root, bucket) // v1
    SnapshotStore.append(docRange(300, 350), root, bucket) // v2
    SnapshotStore.append(docRange(350, 420), root, bucket) // v3
    val res = SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(res.expiredSnapshots === Seq(1, 2))
    // v3 still serves v1's and v2's files: nothing is garbage
    assert(res.deletedBucketDirs.isEmpty)
    assert(SnapshotStore.verify(spark, root).isEmpty)
    assert(SnapshotStore.read(spark, root).count() === 420)
    val before = SnapshotStore.manifest(root, 3)
    SnapshotStore.rewriteSnapshot(spark, root) // v4
    val after = SnapshotStore.manifest(root, 4)
    assert(after.forall(_.extra.isEmpty))
    assert(after.map(e => (e.bucket, e.rows, e.xxh)) ===
      before.map(e => (e.bucket, e.rows, e.xxh)))
    val res2 = SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(res2.expiredSnapshots === Seq(3))
    val norm = (p: String) => java.nio.file.Paths.get(p).normalize()
      .toString
    assert(res2.deletedBucketDirs.map(norm).toSet ===
      before.flatMap(_.paths).map(norm).toSet)
    assert(SnapshotStore.verify(spark, root).isEmpty)
    assert(rowsOf(SnapshotStore.read(spark, root)) ===
      rowsOf(docRange(0, 420)))
  }

  test("write / overwriteBuckets / mergeChanges / readChanges after " +
      "appends honour every path and carry untouched buckets") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    val v1 = SnapshotStore.write(docRange(0, 300), root, bucket).snapshot
    val v2 = SnapshotStore.append(docRange(300, 400), root, bucket).snapshot
    // readChanges sees the appended buckets whole (old + new files)
    val changed = SnapshotStore.changedBuckets(root, Some(v1), v2).toSet
    val bucketOf = (id: Long) => spark.range(1)
      .select(pmod(xxhash64(lit(id)), lit(8)).cast("int")).head().getInt(0)
    val all = docRange(0, 400).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rowsOf(SnapshotStore.readChanges(spark, root, Some(v1), v2)) ===
      all.filter(r => changed.contains(bucketOf(r._1))).sorted)
    val m2 = SnapshotStore.manifest(root, v2).map(e => e.bucket -> e).toMap
    // write of identical content carries everything, deltas included
    val w = SnapshotStore.write(docRange(0, 400), root, bucket)
    assert(w.written.isEmpty && w.carried.size === 8)
    assert(SnapshotStore.manifest(root, w.snapshot).map(_.paths) ===
      m2.values.toSeq.sortBy(_.bucket).map(_.paths))
    // overwrite one bucket: it folds into one fresh file, the other
    // seven keep their appended directories
    val b0 = bucketOf(7L)
    val o = SnapshotStore.overwriteBuckets(
      SnapshotStore.readBuckets(spark, root, Seq(b0))
        .filter(col("doc_id") =!= 7L), root, bucket, Seq(b0))
    val mo = SnapshotStore.manifest(root, o.snapshot)
    assert(mo.filter(_.bucket != b0).map(_.paths) ===
      m2.values.toSeq.filter(_.bucket != b0).sortBy(_.bucket).map(_.paths))
    assert(mo.find(_.bucket == b0).get.paths.size === 1)
    assert(SnapshotStore.verify(spark, root).isEmpty)
    // mergeChanges: only the change key's bucket is rewritten
    val k = 350L
    val mg = SnapshotStore.mergeChanges(spark, root,
      Seq((k, "merged", "upsert")).toDF("doc_id", "text", "op"),
      Seq("doc_id"), bucket)
    assert(mg.written === Seq(bucketOf(k)))
    val mm = SnapshotStore.manifest(root, mg.snapshot)
    assert(mm.filter(_.bucket != bucketOf(k)).map(_.paths) ===
      mo.filter(_.bucket != bucketOf(k)).map(_.paths))
    val back = SnapshotStore.read(spark, root)
    assert(back.count() === 399)
    assert(back.filter(col("doc_id") === k).head().getString(1) === "merged")
    assert(SnapshotStore.verify(spark, root).isEmpty)
  }

  test("append into a bucket pinned to an older column set fails " +
      "until rewriteSnapshot folds the evolution") {
    import spark.implicits._
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docRange(0, 100), root, bucket)
    SnapshotStore.mergeChanges(spark, root,
      Seq((3L, "three", "en", "upsert")).toDF("doc_id", "text", "lang",
        "op"), Seq("doc_id"), bucket) // adds `lang`; 7 buckets pinned
    val more = docRange(100, 160).withColumn("lang", lit("fr"))
    intercept[IllegalArgumentException] {
      SnapshotStore.append(more, root, bucket)
    }
    SnapshotStore.rewriteSnapshot(spark, root)
    SnapshotStore.append(more, root, bucket)
    assert(SnapshotStore.verify(spark, root).isEmpty)
    val back = SnapshotStore.read(spark, root)
    assert(back.count() === 160)
    assert(back.filter(col("lang") === "fr").count() === 60)
  }

  test("a manifest line in the single-path format still reads") {
    val root = freshRoot()
    val bucket = SnapshotStore.byKey("doc_id", 8)
    SnapshotStore.write(docRange(0, 100), root, bucket,
      statsCols = Seq("doc_id"))
    // the format written before appends existed: no "extra" field
    val v1 = java.nio.file.Paths.get(root, "snapshots", "v1.manifest.jsonl")
    val legacy = """\{"bucket":\d+,"rows":\d+,"xxh":-?\d+,"path":"[^"]*",""" +
      """"stats":\{[^}]*\}\}"""
    val lines = Files.readAllLines(v1).asScala.toSeq
    assert(lines.nonEmpty && lines.forall(_.matches(legacy)), lines)
    SnapshotStore.append(docRange(100, 150), root, bucket)
    assert(Files.readString(java.nio.file.Paths.get(root, "snapshots",
      "v2.manifest.jsonl")).contains(""""extra":["""))
    val m1 = SnapshotStore.manifest(root, 1)
    assert(m1.size === lines.size &&
      m1.forall(e => e.extra.isEmpty && e.paths === Seq(e.path)) &&
      m1.forall(_.stats.contains("doc_id")))
    assert(SnapshotStore.read(spark, root, Some(1)).count() === 100)
    assert(SnapshotStore.verify(spark, root, Some(1)).isEmpty)
    assert(SnapshotStore.read(spark, root).count() === 150)
  }
}

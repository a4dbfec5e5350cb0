package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Incremental MATERIALIZED-VIEW maintenance over [[SnapshotStore]]
  * tables — the pattern that turns "re-derive the feature table" from
  * a full recompute into work proportional to what changed.
  *
  * [[maintainLatest]] keeps a derived "latest row per entity" table in
  * sync with a source store: per maintenance run it diffs the source's
  * per-bucket lineage against the last processed snapshot (a watermark
  * persisted in the derived root), reads ONLY the changed buckets,
  * recomputes latest-per-entity for exactly those buckets, and commits
  * them through [[SnapshotStore.overwriteBuckets]] — every untouched
  * bucket of the derived table is carried by reference, bit-identical,
  * zero I/O. Because SOURCE buckets are complete states (not deltas),
  * a changed bucket's new derived content depends only on its new
  * source content — no merge with the old derived rows is needed.
  *
  * REQUIREMENT: source and derived must share the bucketing function
  * on the entity key (`bucketExpr`), so source changes map 1:1 onto
  * derived buckets. At 100 TB this is the difference between an
  * hourly touch-up over a handful of buckets and a full-table shuffle.
  */
object IncrementalView {

  final case class MaintainResult(sourceSnapshot: Int,
      changedBuckets: Seq[Int], write: Option[SnapshotStore.WriteResult])

  private def watermarkPath(derivedRoot: String) =
    Paths.get(derivedRoot, "source_watermark.txt")

  /** Last source snapshot the derived table has absorbed. */
  def watermark(derivedRoot: String): Option[Int] = {
    val p = watermarkPath(derivedRoot)
    if (Files.exists(p)) Some(Files.readString(p).trim.toInt) else None
  }

  /** Bring ANY per-entity derived view up to the source's latest
    * snapshot. `view` maps source rows to derived rows and must be
    * PER-ENTITY-LOCAL: every derived row it produces must depend only
    * on (and bucket with) one entity's source rows — latest-row,
    * per-entity aggregates, session rollups all qualify; anything
    * crossing entities does not (its change footprint would not map
    * onto buckets). Each run reads ONLY the lineage-changed source
    * buckets, applies `view` to just those rows, and partition-
    * overwrites exactly the matching derived buckets; a source bucket
    * that vanished empties its derived twin. Returns what changed; a
    * run with the watermark already at head writes nothing.
    */
  def maintainView(spark: SparkSession, sourceRoot: String,
      derivedRoot: String, bucketExpr: Column,
      view: DataFrame => DataFrame): MaintainResult = {
    val to = SnapshotStore.latestSnapshot(sourceRoot).getOrElse(
      throw new IllegalStateException(
        s"maintainView: no complete snapshot at $sourceRoot"))
    val from = watermark(derivedRoot)
    if (from.contains(to))
      return MaintainResult(to, Seq.empty, None)
    // changedBuckets reports buckets present at `to`; a bucket whose
    // rows all vanished is present only at `from` — its derived twin
    // must be EMPTIED, not left stale
    val deleted = from.map(v =>
      SnapshotStore.manifest(sourceRoot, v).map(_.bucket).toSet --
        SnapshotStore.manifest(sourceRoot, to).map(_.bucket).toSet)
      .getOrElse(Set.empty[Int]).toSeq
    val changed = (SnapshotStore.changedBuckets(sourceRoot, from, to)
      ++ deleted).sorted
    val derived = view(
      SnapshotStore.readChanges(spark, sourceRoot, from, to))
    val write =
      if (from.isEmpty)
        // bootstrap: the derived table does not exist yet — a plain
        // whole-table write (changed = every source bucket)
        SnapshotStore.write(derived, derivedRoot, bucketExpr)
      else
        SnapshotStore.overwriteBuckets(derived, derivedRoot,
          bucketExpr, changed)
    require(write.remaining.isEmpty,
      "maintainView: truncated derived write (unexpected)")
    Files.createDirectories(Paths.get(derivedRoot))
    Files.writeString(watermarkPath(derivedRoot), to.toString)
    MaintainResult(to, changed, Some(write))
  }

  /** The everyday instance: latest row per entity, latest = max by
    * `(tsCol, tieBreakCol)` (the tie-break makes same-instant rows
    * deterministic on any cluster).
    */
  def maintainLatest(spark: SparkSession, sourceRoot: String,
      derivedRoot: String, bucketExpr: Column, entity: String,
      tsCol: String, tieBreakCol: String): MaintainResult =
    maintainView(spark, sourceRoot, derivedRoot, bucketExpr, rows => {
      val all = struct(rows.columns.toSeq.map(col): _*)
      val ord = struct(col(tsCol), col(tieBreakCol))
      rows.groupBy(col(entity))
        .agg(max_by(all, ord).as("__r"))
        .select(rows.columns.toSeq.map(c => col(s"__r.$c")): _*)
    })
}

package graft.io

import graft.core.{DriverFinish, Lineage}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TrackedWrite
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshotted, checkpointed, lineage-tracked table store
  * (BASELINE.json north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics"; emulation rationale in SURVEY.md
  * §7.5 — no Iceberg jars ship in /opt/spark/jars).
  *
  * Layout (append-only data files + versioned manifests, like Iceberg):
  * {{{
  *   <root>/runs/run=<snap>/__bucket=<k>/part-*.parquet   (immutable)
  *   <root>/snapshots/v<snap>.manifest.jsonl
  * }}}
  * Each manifest line is one bucket's lineage:
  * `{"bucket":k,"rows":n,"xxh":h,"path":"...","extra":["..."]}` where
  * `xxh` is the order-independent content fingerprint
  * `bit_xor(xxhash64(row))`. A bucket's files are `path` plus the
  * optional `extra` directories (absent in manifests written before
  * [[append]] existed, which therefore read unchanged).
  *
  * == Fast append and compaction ==
  * [[append]] is Iceberg's `AppendFiles` commit: it writes ONLY the
  * incoming rows into the new run directory. A touched bucket keeps
  * its files and gains the new directory in `extra`. Its lineage
  * combines exactly — `rows` adds, `xxh` XORs (a bit_xor over a
  * multiset union is the XOR of the parts) and stats bounds widen —
  * so no stored file is moved or rewritten. Its replay guard (incoming
  * rows already stored are dropped) reads only the touched buckets
  * the manifest stats cannot rule out. Untouched buckets carry by
  * reference. Every reader, [[verify]] and [[expireSnapshots]] honour
  * all of an entry's paths; [[rewriteSnapshot]] folds a bucket's files
  * back into one directory.
  *
  * == Lineage inside the write ==
  * Every run is written by ONE Spark job that also computes the
  * lineage of what it writes: a write-stats tracker folds each written
  * row into its bucket's partial (rows, `xxh`, and min/max/non-null
  * counts of the stats columns — [[graft.io.BucketFold]]), and the
  * partials of the committed task attempts reach the driver with the
  * commit messages. The manifest and the files therefore come from one
  * execution of the input by construction, with no persist, no
  * aggregation job and no exchange of the store's own. [[verify]] runs
  * the same fold over the stored files (one job per schema version).
  *
  * == Resumability ==
  * `write` over a previous snapshot (or with a run bound) needs the
  * incoming lineage BEFORE it writes: it caches the bucketed input, folds
  * it in one job, diffs that against the previous snapshot, and writes
  * (from the cache) only buckets whose (rows, xxh) changed — completed
  * buckets are skipped and their immutable files are carried into the
  * new manifest by reference. `maxBucketsPerRun` bounds a run
  * (checkpoint granularity): a job killed between runs restarts with no
  * lost or duplicated work. A first `write` with no bound, and every
  * [[overwriteBuckets]] and [[append]], is the write job alone; their
  * decisions (stray rows, unchanged buckets, the replay guard) are taken
  * after it, from its lineage.
  *
  * == Snapshot-scoped reads ==
  * `read(root, snapshot=Some(v))` sees exactly the files v's manifest
  * lists; later writes append new run dirs and never mutate old ones, so
  * time travel holds. `verify` recomputes per-bucket rows/xxh from
  * storage and compares to the manifest (per-partition metrics check).
  *
  * At cluster scale: the data write is one shuffle-free pass partitioned
  * by the bucket expression, whose tasks each ship one small partial per
  * bucket they wrote; manifests are driver-side kilobytes. Each op labels
  * its jobs (`snapshot.write`, `snapshot.overwrite`, `snapshot.append`,
  * `snapshot.rewrite`, `snapshot.verify`) and each commit logs one
  * `snapshot.commit op= snap= written= carried= guard= rows=` line at
  * INFO.
  */
object SnapshotStore {

  /** `stats` maps a column name to its per-bucket (tag, min, max)
    * bounding box — tag "n" for numbers, "t" for timestamps/dates as
    * epoch micros, "s" for UTF-8-lexicographic strings.
    * Empty for columns not tracked at write time (older manifests,
    * or all-null/NaN buckets) — absence means "cannot prune",
    * never "empty bucket".
    *
    * `schemaV` pins the snapshot whose stored DDL matches this entry's
    * FILES (and the column set its `xxh` was hashed under). `None`
    * means "this manifest's own snapshot" — the only case before
    * additive schema evolution existed. After [[mergeChanges]] evolves
    * the table, carried-by-reference entries keep pointing at files
    * that lack the added columns; readers project those columns as
    * null and [[verify]] re-hashes each entry under its own pinned
    * schema.
    */
  final case class BucketLineage(bucket: Int, rows: Long, xxh: Long,
      path: String, stats: Map[String, (String, String, String)] =
        Map.empty, schemaV: Option[Int] = None,
      extra: Seq[String] = Seq.empty) {
    /** Every directory holding this bucket's rows: `path`, then the
      * directories later [[append]]s added.
      */
    def paths: Seq[String] = path +: extra
  }
  final case class WriteResult(snapshot: Int, written: Seq[Int],
      carried: Seq[Int], remaining: Seq[Int])

  /** Default bucketing: stable hash of a key column. */
  def byKey(keyCol: String, nBuckets: Int): Column =
    pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int")

  private val B = "__bucket"

  /** `Files.list` with the stream CLOSED (it holds a directory fd —
    * leaving it to GC leaks descriptors in a long-lived driver doing
    * periodic write/expire cycles).
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private type Incoming =
    (Long, Long, Map[String, (String, String, String)], Set[String])

  /** The lineage fold over `bucketed`'s data columns (every column but
    * the bucket), with the stats columns' fields.
    */
  private def foldOf(bucketed: DataFrame, statsCols: Seq[String])
      : (BucketFold, Seq[org.apache.spark.sql.types.StructField]) = {
    val data = bucketed.schema.fields.filterNot(_.name == B)
    val missing = statsCols.filterNot(c => data.exists(_.name == c))
    require(missing.isEmpty,
      s"SnapshotStore stats columns not in frame: $missing")
    val ordinals = statsCols.map(c => data.indexWhere(_.name == c))
    (new BucketFold(data.map(_.dataType), ordinals.toArray),
      ordinals.map(data(_)))
  }

  /** Writes `bucketed` under `dir`, one directory per bucket, in ONE
    * job that computes each bucket's lineage from the rows it writes
    * (see [[graft.io.BucketFold]]): the manifest and the files come from
    * one execution of the input by construction.
    */
  private def writeRun(bucketed: DataFrame, dir: String,
      statsCols: Seq[String]): Map[Int, Incoming] = {
    val (fold, fields) = foldOf(bucketed, statsCols)
    TrackedWrite.parquet(bucketed, dir, B, fold)
      .map { case (b, p) => b -> incoming(p, fields) }
  }

  /** Per-bucket lineage of an already-bucketed frame without writing
    * it: the fold [[writeRun]] runs, over the frame's rows, in ONE
    * job with no exchange of its own.
    */
  private def lineage(bucketed: DataFrame,
      statsCols: Seq[String] = Seq.empty): Map[Int, Incoming] = {
    val (fold, fields) = foldOf(bucketed, statsCols)
    TrackedWrite.fold(bucketed, B, fold)
      .map { case (b, p) => b -> incoming(p, fields) }
  }

  /** A folded bucket as the manifest records it: (rows, content hash,
    * column bounding boxes, stats columns holding a null). Bounds are
    * normalised by [[statRepr]] from the values a collected row would
    * hold.
    */
  private def incoming(p: BucketPartial,
      fields: Seq[org.apache.spark.sql.types.StructField]): Incoming = {
    val stats = fields.indices.flatMap { k =>
      val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(fields(k).dataType)
      def repr(v: Any) = Option(v).flatMap(x => statRepr(toScala(x)))
      (repr(p.lo(k)), repr(p.hi(k))) match {
        case (Some((t1, lo)), Some((t2, hi))) if t1 == t2 =>
          // Iceberg-style string-bound truncation: a manifest must
          // stay driver-side kilobytes even when the tracked
          // column holds documents. A truncated LOWER bound is the
          // prefix (prefix <= s in UTF-8 order); a truncated UPPER
          // bound must INCREMENT the last code point (the prefix
          // alone would under-state it and prune matching
          // buckets). An un-incrementable upper (all max code
          // points) leaves the column untracked for this bucket.
          val c = fields(k).name
          if (t1 != "s") Some(c -> ((t1, lo, hi)))
          else truncUpper(hi).map(h => c -> (("s", truncLower(lo), h)))
        case _ => None // null/NaN bound -> untracked (no pruning)
      }
    }.toMap
    val nulls = fields.indices.filter(k => p.nonNull(k) < p.rows)
      .map(fields(_).name).toSet
    (p.rows, p.xxh, stats, nulls)
  }

  private val StringBoundChars = 32

  /** Lower-bound truncation: the prefix, backed off one char if the
    * cut would split a surrogate pair (an unpaired surrogate encodes
    * as the replacement byte and would corrupt the byte-order
    * compare). A prefix is always <= the original in UTF-8 order, so
    * the bound stays SAFE.
    */
  private[graft] def truncLower(s: String): String = {
    if (s.length <= StringBoundChars) return s
    val cut = s.substring(0, StringBoundChars)
    if (Character.isHighSurrogate(cut.last)) cut.dropRight(1) else cut
  }

  /** Upper-bound truncation for string stats: identity when short
    * enough; otherwise the [[StringBoundChars]]-char prefix with its
    * last code point incremented (skipping the surrogate range), so
    * the result is STRICTLY GREATER than every string sharing the
    * prefix in UTF-8 byte order. None when no code point of the
    * prefix is incrementable — that bucket stays unprunable on the
    * column rather than risking a too-small upper bound.
    */
  private[graft] def truncUpper(s: String): Option[String] = {
    if (s.length <= StringBoundChars) return Some(s)
    val cut = s.substring(0, StringBoundChars)
    // never split a surrogate pair: back off one char if the cut ends
    // on a high surrogate
    val base =
      if (Character.isHighSurrogate(cut.last)) cut.dropRight(1) else cut
    val cps = base.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      val next =
        if (cps(i) == 0xD7FF) 0xE000 // skip the surrogate block
        else cps(i) + 1
      if (cps(i) < Character.MAX_CODE_POINT) {
        val out = new java.lang.StringBuilder
        var j = 0
        while (j < i) { out.appendCodePoint(cps(j)); j += 1 }
        out.appendCodePoint(next)
        return Some(out.toString)
      }
      i -= 1
    }
    None
  }

  /** Normalize a collected min/max value into a (tag, repr) pair the
    * driver can compare without Spark: numbers become
    * numerically-comparable decimal strings (tag "n"); timestamps AND
    * dates share tag "t" in epoch MICROS (a date is midnight UTC,
    * exactly Spark's date→timestamp cast), so a date bound prunes a
    * timestamp column correctly instead of comparing days against
    * micros; strings stay UTF-8-lexicographic (tag "s"). NaN and ±Inf
    * (BigDecimal can represent neither; Spark's min/max sorts NaN
    * GREATEST) and unsupported types return None — the bucket simply
    * stays unprunable on that column. Cross-tag bound/stat pairs never
    * prune (pruning is an optimization, never a filter).
    */
  private def statRepr(v: Any): Option[(String, String)] = v match {
    case null => None
    case d: Double if d.isNaN || d.isInfinite => None
    case f: Float if f.isNaN || f.isInfinite => None
    case d: Double => Some(("n", BigDecimal(d).toString))
    case f: Float => Some(("n", BigDecimal(f.toDouble).toString))
    case n: java.lang.Number => Some(("n", n.toString))
    case t: java.sql.Timestamp =>
      Some(("t", (math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L).toString))
    case t: java.time.LocalDateTime =>
      Some(("t", (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000).toString))
    case t: java.time.Instant =>
      Some(("t", (t.getEpochSecond * 1000000L + t.getNano / 1000).toString))
    case d: java.sql.Date =>
      Some(("t", (BigDecimal(d.toLocalDate.toEpochDay) *
        BigDecimal(86400000000L)).toBigInt.toString))
    case d: java.time.LocalDate =>
      Some(("t", (BigDecimal(d.toEpochDay) *
        BigDecimal(86400000000L)).toBigInt.toString))
    case s: String => Some(("s", s))
    case _ => None
  }

  /** Snapshot ids on disk. Incomplete (mid-checkpoint) snapshots are
    * excluded unless asked for: a manifest written by a
    * `maxBucketsPerRun`-truncated run lists only the buckets verified so
    * far, and exposing it as "latest" would hand readers a partial
    * table (Iceberg never exposes partial commits).
    */
  private def snapshotIds(root: String,
      includeIncomplete: Boolean = false): Seq[Int] = {
    val dir = Paths.get(root, "snapshots")
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir).iterator
      .map(_.getFileName.toString)
      .collect {
        case s if s.startsWith("v") && s.endsWith(".manifest.jsonl") =>
          s.stripPrefix("v").stripSuffix(".manifest.jsonl").toInt
        case s if includeIncomplete && s.startsWith("v") &&
            s.endsWith(s".manifest$Incomplete.jsonl") =>
          s.stripPrefix("v").stripSuffix(s".manifest$Incomplete.jsonl").toInt
      }
      .toSeq.sorted
  }

  private val Incomplete = ".incomplete"

  /** Latest COMPLETE snapshot — what readers see by default. */
  def latestSnapshot(root: String): Option[Int] = snapshotIds(root).lastOption

  /** Latest snapshot including mid-checkpoint ones — what `write` resumes
    * from (so a rerun skips buckets the truncated run already wrote).
    */
  def latestAnySnapshot(root: String): Option[Int] =
    snapshotIds(root, includeIncomplete = true).lastOption

  def isIncomplete(root: String, snapshot: Int): Boolean =
    Files.exists(Paths.get(root, "snapshots",
      s"v$snapshot.manifest$Incomplete.jsonl"))

  // stats payloads (column names, min/max reprs) are base64-coded so
  // arbitrary string values can never break the line grammar; the
  // stats object holds only arrays, so it contains no nested braces
  private val Line =
    ("""\{"bucket":(-?\d+),"rows":(\d+),"xxh":(-?\d+)""" +
      """(?:,"sv":(\d+))?,"path":"([^"]*)"""" +
      """(?:,"extra":\[((?:"[^"]*",?)*)\])?""" +
      """(?:,"stats":\{([^}]*)\})?\}""").r
  private val Quoted = """"([^"]*)"""".r
  private val StatEntry =
    """"([A-Za-z0-9+/=]*)":\["([nst])","([A-Za-z0-9+/=]*)","([A-Za-z0-9+/=]*)"\]""".r

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  def manifest(root: String, snapshot: Int): Seq[BucketLineage] = {
    val complete = Paths.get(root, "snapshots", s"v$snapshot.manifest.jsonl")
    val p =
      if (Files.exists(complete)) complete
      else Paths.get(root, "snapshots",
        s"v$snapshot.manifest$Incomplete.jsonl")
    Files.readAllLines(p).asScala.toSeq.collect {
      case Line(b, r, x, sv, path, extraBody, statsBody) =>
        val stats =
          if (statsBody == null) Map.empty[String, (String, String, String)]
          else StatEntry.findAllMatchIn(statsBody).map { m =>
            unb64(m.group(1)) ->
              ((m.group(2), unb64(m.group(3)), unb64(m.group(4))))
          }.toMap
        val extra = Option(extraBody).toSeq
          .flatMap(Quoted.findAllMatchIn(_).map(_.group(1)))
        BucketLineage(b.toInt, r.toLong, x.toLong, path, stats,
          Option(sv).map(_.toInt), extra)
    }
  }

  private def writeManifest(root: String, snapshot: Int,
      entries: Seq[BucketLineage], incomplete: Boolean): Unit = {
    val dir = Paths.get(root, "snapshots")
    Files.createDirectories(dir)
    val body = entries.sortBy(_.bucket).map { e =>
      val statsPart =
        if (e.stats.isEmpty) ""
        else e.stats.toSeq.sortBy(_._1).map { case (c, (t, lo, hi)) =>
          s""""${b64(c)}":["$t","${b64(lo)}","${b64(hi)}"]"""
        }.mkString(""","stats":{""", ",", "}")
      val svPart = e.schemaV.map(v => s""","sv":$v""").getOrElse("")
      val extraPart =
        if (e.extra.isEmpty) ""
        else e.extra.map(p => s""""$p"""")
          .mkString(""","extra":[""", ",", "]")
      s"""{"bucket":${e.bucket},"rows":${e.rows},"xxh":${e.xxh}""" +
        s"""$svPart,"path":"${e.path}"$extraPart$statsPart}"""
    }.mkString("", "\n", "\n")
    val suffix = if (incomplete) Incomplete else ""
    Files.writeString(dir.resolve(s"v$snapshot.manifest$suffix.jsonl"), body)
  }

  private def schemaPath(root: String, snapshot: Int): Path =
    Paths.get(root, "snapshots", s"v$snapshot.schema.ddl")

  private def ddlOf(root: String, snapshot: Int): String = {
    val p = schemaPath(root, snapshot)
    if (!Files.exists(p)) throw new IllegalStateException(
      s"snapshot v$snapshot at $root carries no schema file")
    Files.readString(p)
  }

  /** The table schema a snapshot was committed under (from its stored
    * DDL). This is the schema [[read]] serves — files written before an
    * additive evolution lack the added columns and read as null.
    */
  def tableSchema(root: String, snapshot: Int)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(ddlOf(root, snapshot))

  /** Additive conformance: project `df` to `target` — missing columns
    * become typed nulls, shared columns must match types EXACTLY (a
    * type change is not additive; loud), extra columns are rejected.
    */
  private def conformTo(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    target.fields.foreach(f => have.get(f.name).foreach(t =>
      require(t == f.dataType,
        s"SnapshotStore: column '${f.name}' changed type $t -> " +
          s"${f.dataType} — only ADDITIVE evolution is supported")))
    val extra = have.keySet -- target.fields.map(_.name).toSet
    require(extra.isEmpty,
      s"SnapshotStore: columns $extra absent from the target schema — " +
        "only ADDITIVE evolution is supported")
    df.select(target.fields.toSeq.map(f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }

  /** Manifest-scoped file read under a snapshot's committed schema,
    * keeping each row's bucket column. The schema is passed EXPLICITLY
    * (the given DDL + the two partition columns): files written before
    * an additive evolution resolve missing columns to null by name,
    * per-file footer inference never runs, and the column types are
    * pinned to what the snapshot committed — not to whatever parquet
    * file the reader lists first. `paths` must be non-empty.
    */
  private def scan(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val full = StructType(schema.fields ++
      Seq(StructField("run", IntegerType), StructField(B, IntegerType)))
    spark.read.option("basePath", s"$root/runs").schema(full)
      .parquet(paths: _*).drop("run")
  }

  /** [[scan]] of snapshot `v`'s files without the bucket column; an
    * empty path list reads as a typed empty frame.
    */
  private def readEntries(spark: SparkSession, root: String, v: Int,
      paths: Seq[String]): DataFrame = {
    val schema = tableSchema(root, v)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else scan(spark, root, schema, paths).drop(B)
  }

  private def runDir(root: String, snap: Int): String = s"$root/runs/run=$snap"

  private def bucketDir(root: String, snap: Int, b: Int): String =
    s"${runDir(root, snap)}/$B=$b"

  /** A manifest entry for bucket `b` as run `snap` wrote it. */
  private def written(root: String, snap: Int, b: Int,
      in: Incoming): BucketLineage =
    BucketLineage(b, in._1, in._2, bucketDir(root, snap, b), in._3)

  /** Runs `body`, which writes run `snap`, over a clean run directory
    * (a leftover of a crashed attempt is dropped first, see
    * [[dropStaleRunDir]]); when `body` throws, the run directory it
    * left is deleted: nothing is published, so nothing references it.
    */
  private def newRun[A](root: String, snap: Int)(body: => A): A = {
    dropStaleRunDir(root, snap)
    try body
    catch { case e: Throwable => dropStaleRunDir(root, snap); throw e }
  }

  /** The commit point: writes snapshot `snap`'s schema, then its
    * manifest (`entries`), and logs the commit. A run that wrote no
    * bucket leaves no run directory.
    */
  private def publish(root: String, snap: Int, ddl: String,
      entries: Seq[BucketLineage], writtenBuckets: Seq[Int], rows: Long,
      remaining: Seq[Int], op: String, guard: String): WriteResult = {
    if (writtenBuckets.isEmpty) dropStaleRunDir(root, snap)
    // schema travels with every snapshot (BEFORE the manifest — the
    // manifest is the commit point): an EMPTY table state (zero
    // buckets, no parquet files to infer from) must still read back
    // as a typed empty frame, not crash on a missing basePath
    Files.createDirectories(Paths.get(root, "snapshots"))
    Files.writeString(schemaPath(root, snap), ddl)
    // a truncated run publishes an INCOMPLETE manifest: readers skip
    // it by default (latestSnapshot/read), the next write resumes it
    writeManifest(root, snap, entries, incomplete = remaining.nonEmpty)
    val ws = writtenBuckets.toSet
    val result = WriteResult(snap, writtenBuckets.sorted,
      entries.map(_.bucket).filterNot(ws).sorted, remaining)
    logCommit(op, result, guard, rows)
    result
  }

  private def rowsOf(in: Map[Int, Incoming]): Long = in.values.map(_._1).sum

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One line per commit: the op, the snapshot published (the latest
    * one when nothing was), bucket counts, the replay guard's outcome
    * (`none` where no guard applies, `ruled_out` when the manifest
    * stats spared every stored read, `scanned` when some touched
    * buckets were read) and the rows the run wrote.
    */
  private def logCommit(op: String, r: WriteResult, guard: String,
      rows: Long): Unit =
    log.info(s"snapshot.commit op=$op snap=${r.snapshot} " +
      s"written=${r.written.size} carried=${r.carried.size} " +
      s"guard=$guard rows=$rows")

  /** Write (or resume writing) `df` as the next snapshot of the table at
    * `root`. Buckets whose lineage matches the previous snapshot are
    * carried by reference; at most `maxBucketsPerRun` changed buckets are
    * written this run (the rest stay `remaining` for the next call).
    */
  def write(df: DataFrame, root: String, bucketExpr: Column,
      maxBucketsPerRun: Int = Int.MaxValue,
      statsCols: Seq[String] = Seq.empty): WriteResult = {
    // "__bucket" would be silently OVERWRITTEN by withColumn and "run"
    // collides with the run=<snap> partition directory at read time —
    // fail loud instead of corrupting or wedging the table
    require(!df.columns.contains(B) && !df.columns.contains("run"),
      s"column names '$B' and 'run' are reserved by SnapshotStore " +
        s"(found: ${df.columns.filter(c => c == B || c == "run")
          .mkString(",")})")
    val bucketed = df.withColumn(B, bucketExpr)
    // resume from the latest manifest INCLUDING incomplete ones: a
    // truncated run's buckets are already on disk and must be skipped
    val prevSnap = latestAnySnapshot(root)
    val snap = prevSnap.getOrElse(0) + 1
    val ddl = df.schema.toDDL
    DriverFinish.described(df.sparkSession, "snapshot.write") {
      if (prevSnap.isEmpty && maxBucketsPerRun == Int.MaxValue) {
        // nothing to carry and no bound on the run: every bucket is
        // written, and the write computes its lineage
        val in = newRun(root, snap)(writeRun(bucketed, runDir(root, snap),
          statsCols))
        publish(root, snap, ddl, in.toSeq.map { case (b, x) =>
          written(root, snap, b, x) }, in.keys.toSeq, rowsOf(in), Seq.empty,
          "write", "none")
      } else Lineage.scoped { sc =>
        // the carry and the run bound need the lineage BEFORE the
        // write; the cache makes the lineage fold and the file write
        // observe ONE execution of the input plan (a non-deterministic
        // input would otherwise choose buckets by one execution and
        // write another's rows)
        val cached = sc.persist(bucketed)
        val incoming = lineage(cached, statsCols)
        val prev: Map[Int, BucketLineage] = prevSnap match {
          case Some(v) => manifest(root, v).map(e => e.bucket -> e).toMap
          case None => Map.empty
        }
        // carry-by-reference is only sound when the DDL is UNCHANGED:
        // the content hash covers values, not names, so a column rename
        // (or same-shape evolution) could hash-match files whose parquet
        // schema no longer serves the new DDL — a full rewrite is the
        // only honest write() across a schema change (use mergeChanges
        // for pruned additive evolution)
        val sameSchema = prevSnap.forall(v => ddlOf(root, v) == ddl)
        val carried =
          if (!sameSchema) Seq.empty[Int]
          else incoming.keys.toSeq.sorted.filter(b => prev.get(b).exists(p =>
            (p.rows, p.xxh) == ((incoming(b)._1, incoming(b)._2))))
        val (chosen, remaining) = incoming.keys.toSeq.sorted
          .filterNot(carried.contains).splitAt(maxBucketsPerRun)
        val in = newRun(root, snap) {
          if (chosen.isEmpty) Map.empty[Int, Incoming]
          else writeRun(cached.filter(col(B).isin(chosen: _*)),
            runDir(root, snap), statsCols)
        }
        publish(root, snap, ddl,
          carried.map(b => prev(b).copy(stats = incoming(b)._3)) ++
            in.toSeq.map { case (b, x) => written(root, snap, b, x) },
          in.keys.toSeq, rowsOf(in), remaining, "write", "none")
      }
    }
  }

  /** Dynamic-partition-OVERWRITE commit (Iceberg's
    * `overwrite_partitions`): replace EXACTLY `buckets` with the
    * incoming frame's rows — every incoming row must land in one of
    * them (loud otherwise) — while EVERY other bucket of the previous
    * snapshot is carried by reference, files untouched. This is the
    * commit incremental view maintenance needs: [[write]] would drop
    * buckets absent from the frame (it treats the frame as the whole
    * table). A listed bucket with no incoming rows becomes empty.
    * Unchanged listed buckets (same rows/xxh) are carried, not
    * rewritten. Refuses to run over an incomplete (mid-checkpoint)
    * snapshot — resume that write first.
    *
    * ONE job: the frame is written whole and its lineage computed by
    * the write; the decisions follow it. Rows outside the listed
    * buckets delete the run and fail; an unchanged listed bucket keeps
    * its previous files and its new copy is deleted.
    */
  def overwriteBuckets(df: DataFrame, root: String, bucketExpr: Column,
      buckets: Seq[Int], statsCols: Seq[String] = Seq.empty)
      : WriteResult = {
    require(buckets.nonEmpty, "overwriteBuckets: empty bucket list")
    require(!df.columns.contains(B) && !df.columns.contains("run"),
      s"column names '$B' and 'run' are reserved by SnapshotStore")
    val prevSnap = latestSnapshot(root).getOrElse(
      throw new IllegalStateException(
        s"overwriteBuckets: no complete snapshot at $root — " +
          "bootstrap with write() first"))
    require(latestAnySnapshot(root).contains(prevSnap),
      s"overwriteBuckets: $root has an incomplete snapshot newer " +
        s"than v$prevSnap — resume that write first")
    val bucketSet = buckets.toSet
    val bucketed = df.withColumn(B, bucketExpr)
    val snap = prevSnap + 1
    val in = DriverFinish.described(df.sparkSession, "snapshot.overwrite") {
      newRun(root, snap) {
        val in = writeRun(bucketed, runDir(root, snap), statsCols)
        val stray = in.keys.filterNot(bucketSet.contains).toSeq
        require(stray.isEmpty,
          s"overwriteBuckets: incoming rows land outside the declared " +
            s"overwrite set: buckets ${stray.sorted.mkString(",")}")
        in
      }
    }
    val prev = manifest(root, prevSnap).map(e => e.bucket -> e).toMap
    // additive evolution: carried-by-reference entries keep serving
    // files written under the OLD schema — pin their schema version
    // so readers project the added columns as null and verify()
    // re-hashes them under the right column set. The DDL equality
    // check also rejects non-additive drift via conformTo at the
    // callers; here a changed DDL only disables same-content carry
    // for the overwritten buckets (values-only hashes can't be
    // trusted across a column set change).
    val evolved = ddlOf(root, prevSnap) != df.schema.toDDL
    val pin: BucketLineage => BucketLineage = e =>
      if (evolved) e.copy(schemaV = e.schemaV.orElse(Some(prevSnap)))
      else e
    val carriedOther = prev.keys.toSeq.sorted
      .filterNot(bucketSet.contains).map(prev).map(pin)
    val same =
      if (evolved) Seq.empty[Int]
      else in.keys.toSeq.sorted.filter(b => prev.get(b).exists(p =>
        (p.rows, p.xxh) == ((in(b)._1, in(b)._2))))
    same.foreach(b => deleteRecursively(Paths.get(bucketDir(root, snap, b))))
    val changed = in.keys.toSeq.sorted.filterNot(same.contains)
    publish(root, snap, df.schema.toDDL,
      carriedOther ++ same.map(b => prev(b).copy(stats = in(b)._3)) ++
        changed.map(b => written(root, snap, b, in(b))),
      changed, rowsOf(in -- same), Seq.empty, "overwrite", "none")
  }

  /** Fast-append commit (Iceberg's `AppendFiles`): add `df`'s rows to
    * the latest snapshot and publish the union as a new one. Only the
    * incoming rows are written, into the new run directory; a touched
    * bucket keeps its files and gains the new directory as an `extra`
    * path, with `rows` summed, `xxh` XORed and stats bounds widened
    * over the columns the table already tracks (a column either side
    * leaves untracked stays untracked). An empty store is bootstrapped
    * with [[write]].
    *
    * `df` must carry the table's columns with the table's types (in
    * any order). A replayed append converges: incoming rows already
    * stored (equal on every column, null-safe) are dropped, while
    * duplicates WITHIN `df` are kept.
    *
    * The rows are written first, in ONE job that also computes their
    * per-bucket lineage; the replay guard runs after it. It never reads
    * a bucket the incoming rows miss, nor one the manifest stats rule
    * out — on some tracked column the bucket's incoming rows hold no
    * null and their [min, max] misses the stored one (with ids that
    * only grow, a stats-tracked id column rules out every bucket, and
    * the append is that one job). The buckets left are scanned once and
    * semi-joined against the rows just written, which the planner
    * broadcasts when they fit under
    * `spark.sql.autoBroadcastJoinThreshold`, so the stored side is
    * filtered map-side, never exchanged; only the buckets that turn out
    * to hold already-stored rows are rewritten without them. The commit
    * thus costs O(incoming rows) plus a scan of the buckets the stats
    * cannot rule out.
    *
    * Appending nothing publishes nothing and returns the latest
    * snapshot. Refuses to run over an incomplete snapshot, and into a
    * bucket still pinned to an older column set by additive evolution
    * (its stored hash covers other columns — fold it with
    * [[rewriteSnapshot]] first).
    */
  def append(df: DataFrame, root: String, bucketExpr: Column)
      : WriteResult = {
    require(!df.columns.contains(B) && !df.columns.contains("run"),
      s"column names '$B' and 'run' are reserved by SnapshotStore")
    val prevSnap = latestSnapshot(root) match {
      case Some(v) => v
      case None if latestAnySnapshot(root).isEmpty =>
        return write(df, root, bucketExpr)
      case None => throw new IllegalStateException(
        s"append: $root holds only an incomplete snapshot — resume " +
          "that write first")
    }
    require(latestAnySnapshot(root).contains(prevSnap),
      s"append: $root has an incomplete snapshot newer than " +
        s"v$prevSnap — resume that write first")
    val schema = tableSchema(root, prevSnap)
    val absent = schema.fieldNames.filterNot(df.columns.contains)
    require(absent.isEmpty,
      s"append: incoming rows lack table columns ${absent.mkString(",")}")
    val bucketed = conformTo(df, schema).withColumn(B, bucketExpr)
    val prev = manifest(root, prevSnap).map(e => e.bucket -> e).toMap
    val statsCols = prev.values.flatMap(_.stats.keys).toSeq.distinct.sorted
    val snap = prevSnap + 1
    val spark = df.sparkSession
    val (in, guard) = DriverFinish.described(spark, "snapshot.append") {
      newRun(root, snap) {
        val all = writeRun(bucketed, runDir(root, snap), statsCols)
        val suspect = all.toSeq.collect {
          case (b, (_, _, st, nulls))
              if prev.get(b).exists(e => !disjoint(e.stats, st, nulls)) => b
        }.sorted
        val (in, guard) =
          if (suspect.isEmpty) (all, "ruled_out")
          else (replayGuard(spark, root, prevSnap, snap, prev, suspect, all,
            statsCols), "scanned")
        // an entry pinned to a schema version with the same columns
        // (e.g. one that differed only in nullability) hashes alike
        val cols = schema.fieldNames.toSeq
        val pinned = in.keys.filter(b => prev.get(b)
          .flatMap(_.schemaV)
          .exists(sv => tableSchema(root, sv).fieldNames.toSeq != cols))
          .toSeq.sorted
        require(pinned.isEmpty,
          s"append: buckets ${pinned.mkString(",")} still serve files of " +
            "an older schema version — rewriteSnapshot first")
        (in, guard)
      }
    }
    if (in.isEmpty) {
      dropStaleRunDir(root, snap)
      val r = WriteResult(prevSnap, Seq.empty, prev.keys.toSeq.sorted,
        Seq.empty)
      logCommit("append", r, guard, 0L)
      r
    } else {
      val touched = in.toSeq.map { case (b, x @ (n, h, st, _)) =>
        prev.get(b) match {
          case Some(e) => e.copy(rows = e.rows + n, xxh = e.xxh ^ h,
            stats = widen(e.stats, st),
            extra = e.extra :+ bucketDir(root, snap, b))
          case None => written(root, snap, b, x)
        }
      }
      val carried = prev.keys.toSeq.sorted.filterNot(in.contains)
      publish(root, snap, ddlOf(root, prevSnap), carried.map(prev) ++ touched,
        in.keys.toSeq, rowsOf(in), Seq.empty, "append", guard)
    }
  }

  /** [[append]]'s replay guard over the `suspect` buckets of run `snap`,
    * whose rows are written and whose lineage is `in`: semi-joins the
    * stored rows of those buckets against the rows just written, and
    * rewrites each bucket that holds an already-stored row without such
    * rows (beside the run, then swapped in). Returns the run's lineage
    * after the rewrite; a bucket left with no row is dropped from it.
    */
  private def replayGuard(spark: SparkSession, root: String, prevSnap: Int,
      snap: Int, prev: Map[Int, BucketLineage], suspect: Seq[Int],
      in: Map[Int, Incoming], statsCols: Seq[String]): Map[Int, Incoming] =
    Lineage.scoped { sc =>
      val schema = tableSchema(root, prevSnap)
      def sameRow(a: DataFrame, b: DataFrame): Column =
        schema.fieldNames.map(c => a(c) <=> b(c)).reduce(_ && _)
      val fresh = scan(spark, root, schema, suspect.map(bucketDir(root, snap, _)))
      val stored = scan(spark, root, schema, suspect.flatMap(prev(_).paths))
      // the stored rows an incoming row repeats, read by the lineage
      // fold (which names the buckets holding them) and the rewrite
      val already = sc.persist(stored.join(fresh, sameRow(stored, fresh),
        "left_semi"))
      val dirty = lineage(already).keys.toSeq.sorted
      if (dirty.isEmpty) in
      else {
        val side = s"${runDir(root, snap)}/_guard"
        val redo = scan(spark, root, schema, dirty.map(bucketDir(root, snap, _)))
        val rewritten = writeRun(redo.join(already, sameRow(redo, already),
          "left_anti"), side, statsCols)
        dirty.foreach { b =>
          val dir = Paths.get(bucketDir(root, snap, b))
          deleteRecursively(dir)
          val kept = Paths.get(side, s"$B=$b")
          if (Files.exists(kept)) Files.move(kept, dir)
        }
        deleteRecursively(Paths.get(side))
        in -- dirty ++ rewritten
      }
    }

  /** True when no stored row of a bucket with stats `stored` can equal
    * an incoming row of that bucket, whose stats are `in` and whose
    * columns `nulls` hold a null: on some column both sides track, the
    * incoming rows hold no null and the two bounding ranges do not
    * meet. Bounds are safe enclosures (truncated string bounds
    * included), so disjoint ranges mean disjoint values.
    */
  private def disjoint(stored: Map[String, (String, String, String)],
      in: Map[String, (String, String, String)], nulls: Set[String])
      : Boolean =
    in.exists { case (c, (t, lo, hi)) =>
      !nulls(c) && stored.get(c).exists { case (t2, sLo, sHi) =>
        t2 == t && (statLt(t, hi, sLo) || statLt(t, sHi, lo))
      }
    }

  /** The bounding box of two stats maps: per column, the lower of the
    * lower bounds and the higher of the upper bounds. A column missing
    * on either side, or tagged differently, is dropped (untracked).
    */
  private def widen(a: Map[String, (String, String, String)],
      b: Map[String, (String, String, String)])
      : Map[String, (String, String, String)] =
    a.flatMap { case (c, (t, lo, hi)) =>
      b.get(c).collect { case (`t`, lo2, hi2) =>
        c -> ((t, if (statLt(t, lo2, lo)) lo2 else lo,
          if (statLt(t, hi, hi2)) hi2 else hi))
      }
    }

  /** Bucket-subset read: exactly the listed buckets at a snapshot —
    * the targeted-read half of incremental maintenance (read the few
    * buckets a change touched, never the table).
    */
  def readBuckets(spark: SparkSession, root: String, buckets: Seq[Int],
      snapshot: Option[Int] = None): DataFrame = {
    val v = snapshot.orElse(latestSnapshot(root)).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    val set = buckets.toSet
    val paths = manifest(root, v)
      .filter(e => set.contains(e.bucket)).flatMap(_.paths)
    readEntries(spark, root, v, paths)
  }

  /** Iceberg `rewrite_data_files`-style storage maintenance: rewrite
    * the CURRENT snapshot's files — optionally Z-order-clustered
    * within each bucket — and publish the result as a NEW snapshot
    * with IDENTICAL content and bucket lineage. Old snapshots stay
    * readable (append-only runs; reclaim with [[expireSnapshots]]).
    *
    * Content preservation is PROVEN, not assumed: the rewritten
    * frame's per-bucket (rows, xxh) lineage is recomputed and must
    * equal the source manifest's (bit_xor of row hashes is
    * order-independent, so re-clustering cannot change it); any
    * mismatch deletes the new files and aborts before a manifest is
    * published — the commit point is never reached.
    *
    * `layoutCols` non-empty sorts rows inside each bucket by the
    * Z-order key of those columns ([[Layout.zValue]], sorted as an
    * expression — no column is added, content stays bit-identical), so
    * parquet row-group min/max stats become tight hyper-rectangles and
    * multi-dimensional filters prune at the row-group level. Empty
    * `layoutCols` is plain compaction (small files of a bucket merge
    * into one sorted write per partition). Either way every directory
    * a bucket gained through [[append]] folds back into one.
    */
  def rewriteSnapshot(spark: SparkSession, root: String,
      layoutCols: Seq[String] = Seq.empty, bits: Int = 10)
      : WriteResult = {
    val v = latestSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    // refuse while a truncated checkpoint is pending: rewriting the
    // last COMPLETE snapshot above an incomplete one would bury the
    // incomplete run's resume lineage (the next write resumes from
    // latestAnySnapshot) and orphan its already-written buckets
    latestAnySnapshot(root).foreach { any =>
      if (any != v) throw new IllegalStateException(
        s"snapshot v$any at $root is an incomplete checkpoint — " +
          "finish the write (resume it) before rewriting storage")
    }
    val entries = manifest(root, v)
    val snap = latestAnySnapshot(root).getOrElse(0) + 1
    if (entries.isEmpty) // empty table state: carry the schema over
      return publish(root, snap, ddlOf(root, v), Seq.empty, Seq.empty, 0L,
        Seq.empty, "rewrite", "none")
    // explicit current-snapshot schema: files carried across an
    // additive evolution serve their missing columns as null, so the
    // rewrite MATERIALIZES the evolution — every output file gets the
    // full current schema and the snapshot collapses back to a single
    // schema version (the entries' schemaV pins are cleared below)
    val curSchema = tableSchema(root, v)
    val df0 = scan(spark, root, curSchema, entries.flatMap(_.paths))
    val cols = curSchema.fieldNames.toSeq
    val in = DriverFinish.described(spark, "snapshot.rewrite") {
      val sortKeys: Seq[Column] =
        if (layoutCols.isEmpty) Seq(col(B))
        else Seq(col(B), Layout.zValue(layoutCols.map(col),
          Layout.rangesOf(df0, layoutCols), bits))
      newRun(root, snap) {
        val in = writeRun(df0.repartition(col(B))
          .sortWithinPartitions(sortKeys: _*), runDir(root, snap), Seq.empty)
        // content preservation proven PER SCHEMA VERSION from the
        // rewritten rows: the write's own lineage for entries hashed
        // under the current column set; an entry pinned to another
        // column set has its new files re-hashed under exactly those
        // columns (one fold per such version)
        val mismatch = entries.groupBy(_.schemaV.getOrElse(v)).toSeq
          .flatMap { case (sv, group) =>
            val schema = tableSchema(root, sv)
            val got =
              if (schema.fieldNames.toSeq == cols) in
              else lineage(scan(spark, root, schema,
                group.map(e => bucketDir(root, snap, e.bucket))))
            group.collect {
              case e if !got.get(e.bucket)
                .exists(t => (t._1, t._2) == ((e.rows, e.xxh))) => e.bucket
            }
          }.sorted
        if (mismatch.nonEmpty) throw new IllegalStateException(
          s"rewrite changed content of buckets $mismatch — aborted, " +
            "no manifest published")
        in
      }
    }
    // every new file holds the current column set, so each entry
    // records the hash of its rows under it (the write's lineage)
    publish(root, snap, curSchema.toDDL,
      entries.map(e => e.copy(path = bucketDir(root, snap, e.bucket),
        xxh = in(e.bucket)._2, schemaV = None, extra = Seq.empty)),
      entries.map(_.bucket), rowsOf(in), Seq.empty, "rewrite", "none")
  }

  /** Snapshot-scoped read: exactly the files the manifest lists. The
    * bucket partition column is re-attached from the directory layout.
    */
  def read(spark: SparkSession, root: String,
      snapshot: Option[Int] = None): DataFrame = {
    val v = snapshot.orElse(latestSnapshot(root)).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    readEntries(spark, root, v, manifest(root, v).flatMap(_.paths))
  }

  /** Normalize a caller-supplied range bound with the same rules as
    * [[statRepr]]; unsupported types are a loud error (a silently
    * unprunable read would defeat the point of asking for one).
    */
  private def boundRepr(v: Any): (String, String) =
    statRepr(v).getOrElse(throw new IllegalArgumentException(
      s"SnapshotStore range bound of unsupported type: $v " +
        s"(${if (v == null) "null" else v.getClass.getName})"))

  private def statLt(tag: String, a: String, b: String): Boolean =
    if (tag == "s")
      // Spark's UTF8String min/max orders by UNSIGNED UTF-8 bytes;
      // Java's String.compareTo orders by UTF-16 code units and the
      // two disagree on supplementary characters — compare the bytes
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    else BigDecimal(a) < BigDecimal(b)

  /** The manifest entries a range predicate on `colName` can NOT rule
    * out: bucket survives unless its recorded [min, max] bounding box
    * lies entirely outside [lower, upper]. Entries without stats for
    * the column (older manifests, all-null buckets, untracked columns)
    * always survive — pruning is an optimization, never a filter.
    * Driver-side manifest math only; no Spark job, no file I/O.
    */
  def prunedManifest(root: String, colName: String,
      lower: Option[Any], upper: Option[Any],
      snapshot: Option[Int] = None): Seq[BucketLineage] = {
    val v = snapshot.orElse(latestSnapshot(root)).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    val lo = lower.map(boundRepr)
    val hi = upper.map(boundRepr)
    manifest(root, v).filter { e =>
      e.stats.get(colName) match {
        case None => true
        case Some((tag, bMin, bMax)) =>
          val loOk = lo.forall { case (t, b) =>
            t == tag && !statLt(tag, bMax, b) } || lo.exists(_._1 != tag)
          val hiOk = hi.forall { case (t, b) =>
            t == tag && !statLt(tag, b, bMin) } || hi.exists(_._1 != tag)
          loOk && hiOk
      }
    }
  }

  /** Bucket-pruned range read — the 100 TB lookup path: consult the
    * manifest's per-bucket bounding boxes first, scan ONLY the bucket
    * directories the predicate can touch, then apply the exact
    * residual filter. On a store bucketed/Z-ordered by the read key a
    * selective predicate turns a table scan into a handful of file
    * reads; on anything else it degrades gracefully to read+filter.
    * Bounds are inclusive; None = unbounded on that side.
    */
  def readRange(spark: SparkSession, root: String, colName: String,
      lower: Option[Any], upper: Option[Any],
      snapshot: Option[Int] = None): DataFrame = {
    require(lower.nonEmpty || upper.nonEmpty,
      "readRange: at least one of lower/upper must be bounded " +
        "(use read() for a full scan)")
    val v = snapshot.orElse(latestSnapshot(root)).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    val kept = prunedManifest(root, colName, lower, upper, Some(v))
    val base = readEntries(spark, root, v, kept.flatMap(_.paths))
    val c = col(colName)
    val residual = (lower.map(b => c >= lit(b)) ++
      upper.map(b => c <= lit(b))).reduce(_ && _)
    base.filter(residual)
  }

  /** Buckets whose content changed between two snapshots (new buckets
    * count as changed; `from=None` means "everything", for a cold
    * start). Pure manifest diff — no Spark job, no file reads: the
    * per-bucket (rows, xxh) lineage IS the change detector.
    */
  def changedBuckets(root: String, from: Option[Int],
      to: Int): Seq[Int] = {
    val cur = manifest(root, to).map(e => e.bucket -> e).toMap
    val base = from.map(v => manifest(root, v).map(e => e.bucket -> e)
      .toMap).getOrElse(Map.empty)
    cur.keys.toSeq.sorted.filter { b =>
      !base.get(b).exists(p =>
        (p.rows, p.xxh) == ((cur(b).rows, cur(b).xxh)))
    }
  }

  /** Incremental read: only the buckets that changed between `from`
    * and `to`, at their `to` state. The downstream incremental-
    * recompute pattern: process `readChanges(...)`, merge into derived
    * state keyed by bucket — unchanged buckets (the vast majority of a
    * 100 TB table between snapshots) are never scanned, which is the
    * point. Buckets DELETED since `from` don't appear (this store is
    * append/overwrite-per-bucket; removals surface as changed empty
    * buckets).
    */
  def readChanges(spark: SparkSession, root: String, from: Option[Int],
      to: Int): DataFrame = {
    val changed = changedBuckets(root, from, to).toSet
    val paths = manifest(root, to)
      .filter(e => changed.contains(e.bucket)).flatMap(_.paths)
    readEntries(spark, root, to, paths)
  }

  /** Row-level change-data-capture between two snapshots: every key
    * classified `insert` / `update` / `delete` — reading ONLY the
    * buckets whose lineage differs between the two manifests. The
    * bucket function is deterministic on its key column, so a key
    * lives in the same bucket at both snapshots, and a bucket with
    * equal (rows, xxh) lineage provably carries no changed row (xxh
    * is a bit_xor of full-row hashes) — at 100 TB the diff costs two
    * scans of the CHANGED buckets plus one key-partitioned join over
    * them, never a table scan. This is the read side of Iceberg's
    * changelog: q232/q233's maintenance consumes changed buckets
    * wholesale; this emits the per-row verdicts an auditor or a
    * downstream CDC sink needs.
    *
    * Requires `keyCols` to be unique per snapshot (the store's
    * overwrite unit is a bucket, so uniqueness is the caller's data
    * contract — a duplicated key would cross-join in the diff).
    * `update` means any non-key column changed, detected by
    * xxhash64 over the non-key columns (the same collision posture
    * as the store's lineage). Rows identical at both snapshots are
    * not emitted — a diff reports changes, not the table.
    */
  def snapshotDiff(spark: SparkSession, root: String, from: Int,
      to: Int, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff: need >= 1 key column")
    val a = manifest(root, from).map(e => e.bucket -> e).toMap
    val b = manifest(root, to).map(e => e.bucket -> e).toMap
    val changed = (a.keySet ++ b.keySet).toSeq.sorted.filter { k =>
      a.get(k).map(e => (e.rows, e.xxh)) !=
        b.get(k).map(e => (e.rows, e.xxh))
    }
    val oldDf0 = readBuckets(spark, root, changed, Some(from))
    val newDf = readBuckets(spark, root, changed, Some(to))
    // additive evolution between the snapshots: conform the OLD side
    // to the new schema (added columns read as null there), so a row
    // whose added column gained a value classifies as an update and an
    // otherwise-identical row stays silent. Anything non-additive —
    // dropped columns, type changes — fails loudly inside conformTo.
    require(oldDf0.columns.toSet.subsetOf(newDf.columns.toSet),
      s"snapshotDiff: non-additive schema change between v$from and " +
        s"v$to — ${oldDf0.columns.toSeq.sorted} vs " +
        s"${newDf.columns.toSeq.sorted}")
    val oldDf = conformTo(oldDf0, newDf.schema)
    keyCols.foreach(k => require(oldDf.columns.contains(k),
      s"snapshotDiff: key column '$k' not in the table"))
    require(!keyCols.contains("change_type") &&
      !oldDf.columns.contains("change_type"),
      "snapshotDiff: table already has a 'change_type' column")
    // hash in a FIXED column order (sorted) so the verdict cannot
    // depend on parquet field order across runs
    val dataCols = oldDf.columns.filterNot(keyCols.contains).toSeq.sorted
    val rowHash: Column =
      if (dataCols.isEmpty) lit(0L) // key-only table: updates impossible
      else expr(s"xxhash64(struct(" +
        dataCols.map(c => s"`$c`").mkString(",") + "))")
    val o = oldDf.select(keyCols.map(col) :+ rowHash.as("__oh"): _*)
    val n = newDf.select(keyCols.map(col) :+ rowHash.as("__nh"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__oh").isNull, lit("insert"))
          .when(col("__nh").isNull, lit("delete"))
          .when(col("__oh") =!= col("__nh"), lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type"): _*)
  }

  /** MERGE INTO: apply a CDC change set to the latest snapshot and
    * publish the result as a new one, rewriting ONLY the buckets the
    * change keys land in (every other bucket carries by reference —
    * the write-side twin of [[snapshotDiff]]'s pruned read). `changes`
    * carries the full table schema plus `opCol` with values `upsert`
    * (replace the key's row, or insert it) and `delete` (drop the key
    * if present; its non-key columns are ignored). Keys must be
    * unique within `changes` except that one delete + one upsert of
    * the same key nets to the upsert (the row is replaced). The op
    * domain is validated with a bounded limit-1 probe — a typo'd op
    * must fail the commit, not silently drop rows.
    *
    * Scale shape: touched buckets come from ONE bounded distinct over
    * the change keys' bucket ids (<= nBuckets rows); only those
    * buckets are read, anti-joined against the change keys, unioned
    * with the upserts, and partition-overwritten. A 1000-row change
    * set against a 100 TB table costs a few buckets, never a scan.
    */
  def mergeChanges(spark: SparkSession, root: String,
      changes: DataFrame, keyCols: Seq[String], bucketExpr: Column,
      opCol: String = "op", statsCols: Seq[String] = Seq.empty)
      : WriteResult = {
    require(keyCols.nonEmpty, "mergeChanges: need >= 1 key column")
    require(changes.columns.contains(opCol),
      s"mergeChanges: changes frame is missing op column '$opCol'")
    val prevSnap = latestSnapshot(root).getOrElse(
      throw new IllegalStateException(
        s"mergeChanges: no complete snapshot at $root — " +
          "bootstrap with write() first"))
    val badOp = changes.select(col(opCol))
      .filter(col(opCol).isNull ||
        !col(opCol).isin("upsert", "delete")).limit(1).collect()
    require(badOp.isEmpty,
      s"mergeChanges: op column holds '${badOp.headOption.map(_.get(0))
        .orNull}' — only 'upsert'/'delete' are allowed")
    val touched = changes.select(bucketExpr.cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) { // empty change set: the merge is a no-op
      val carried = manifest(root, prevSnap).map(_.bucket).sorted
      return WriteResult(prevSnap, Seq.empty, carried, Seq.empty)
    }
    val cur = readBuckets(spark, root, touched, Some(prevSnap))
    keyCols.foreach(k => require(cur.columns.contains(k),
      s"mergeChanges: key column '$k' not in the table"))
    // the changes frame may carry a SUPERSET of the table schema:
    // extra columns evolve the table additively — existing rows (and
    // every untouched, carried-by-reference bucket) serve null for
    // them, exactly Iceberg's add-column semantics. Missing table
    // columns are still an error (dropping columns is not additive).
    require(cur.columns.toSet.subsetOf(changes.columns.toSet - opCol),
      s"mergeChanges: changes must carry the full table schema + " +
        s"'$opCol' (extra columns evolve the table) — table " +
        s"${cur.columns.toSeq.sorted} vs changes " +
        s"${changes.columns.toSeq.sorted}")
    val targetSchema = org.apache.spark.sql.types.StructType(
      changes.schema.fields.filterNot(_.name == opCol))
    val upserts = changes.filter(col(opCol) === "upsert")
      .select(targetSchema.fields.toSeq.map(f => col(f.name)): _*)
    val replacedKeys = changes.select(keyCols.map(col): _*).distinct()
    val kept = conformTo(
      cur.join(replacedKeys, keyCols, "left_anti"), targetSchema)
    val next = kept.unionByName(upserts)
    overwriteBuckets(next, root, bucketExpr, touched, statsCols)
  }

  /** Multi-snapshot changelog — Iceberg's `table_changes` shape:
    * [[snapshotDiff]] applied to every CONSECUTIVE complete-snapshot
    * pair in `(from, to]`, unioned with a `to_snapshot` column naming
    * the snapshot each change landed in. Each step reads only that
    * step's lineage-changed buckets, so the total cost is the sum of
    * the actual change volumes — replaying a quiet month of a 100 TB
    * table touches almost nothing. Consecutive-pair semantics mean a
    * key changed in several snapshots appears once PER step (the CDC
    * contract); collapse with a groupBy on the keys for a net diff —
    * or call [[snapshotDiff]](from, to) directly, which is cheaper
    * than the changelog it summarizes.
    */
  def snapshotChangelog(spark: SparkSession, root: String, from: Int,
      to: Int, keyCols: Seq[String]): DataFrame = {
    require(from <= to,
      s"snapshotChangelog: from $from must be <= to $to")
    val snaps = snapshotIds(root).filter(v => v >= from && v <= to)
    require(snaps.headOption.contains(from) &&
      snaps.lastOption.contains(to),
      s"snapshotChangelog: [$from, $to] must start and end on " +
        s"complete snapshots of $root (found $snaps)")
    val steps = snaps.sliding(2).collect { case Seq(a, b) =>
      snapshotDiff(spark, root, a, b, keyCols)
        .withColumn("to_snapshot", lit(b))
    }.toSeq
    steps.reduceOption(_ unionByName _).getOrElse(
      snapshotDiff(spark, root, from, from, keyCols)
        .withColumn("to_snapshot", lit(from)))
  }

  final case class ExpireResult(expiredSnapshots: Seq[Int],
      deletedBucketDirs: Seq[String])

  /** Iceberg-style snapshot expiry: drop all but the last `keepLast`
    * COMPLETE snapshots (incomplete manifests newer than the newest
    * complete one are kept — they are the resume target of an
    * in-flight checkpointed write), then garbage-collect every bucket
    * directory no surviving manifest references.
    *
    * Retention is computed from REFERENCED PATHS (every path of an
    * entry, appended directories included), not run ids: a run
    * directory can be partially live (some of its buckets carried by
    * reference into newer manifests), so the deletion unit is the
    * bucket dir. Data files stay immutable until the last manifest
    * referencing them expires — exactly Iceberg's
    * `expire_snapshots` contract. Driver-side metadata work only; no
    * Spark jobs.
    */
  def expireSnapshots(root: String, keepLast: Int): ExpireResult = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val complete = snapshotIds(root)
    val all = snapshotIds(root, includeIncomplete = true)
    val keptComplete = complete.takeRight(keepLast)
    val newestComplete = complete.lastOption.getOrElse(Int.MinValue)
    val kept = all.filter(v =>
      keptComplete.contains(v) ||
        (v > newestComplete && isIncomplete(root, v)))
    val expired = all.filterNot(kept.contains)
    if (expired.isEmpty) return ExpireResult(Seq.empty, Seq.empty)

    // compare NORMALIZED paths: manifest paths are string-built
    // (s"$root/runs/...") while Files.list yields normalized ones — an
    // unnormalized root (trailing slash, ./ prefix) would otherwise
    // classify EVERY live bucket dir as an orphan and delete the data
    // the kept manifests reference
    val live: Set[String] = kept.flatMap(v => manifest(root, v)
      .flatMap(_.paths).map(Paths.get(_).normalize().toString)).toSet
    // every bucket dir on disk that no kept manifest references
    val runsDir = Paths.get(root, "runs")
    val orphans: Seq[Path] =
      if (!Files.isDirectory(runsDir)) Seq.empty
      else listDir(runsDir)
        .filter(Files.isDirectory(_))
        .flatMap(run => listDir(run))
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith(s"$B="))
        .filterNot(d => live.contains(d.normalize().toString))
    orphans.foreach(deleteRecursively)
    // drop now-empty run dirs and the expired manifests
    if (Files.isDirectory(runsDir))
      listDir(runsDir)
        .filter(d => Files.isDirectory(d) && listDir(d).isEmpty)
        .foreach(Files.delete(_))
    expired.foreach { v =>
      Seq(s"v$v.manifest.jsonl", s"v$v.manifest$Incomplete.jsonl",
        s"v$v.schema.ddl")
        .map(Paths.get(root, "snapshots", _))
        .foreach(Files.deleteIfExists(_))
    }
    ExpireResult(expired, orphans.map(_.toString))
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.delete(p)
  }

  /** Snapshot ids come from MANIFESTS (the commit point), so a run
    * directory already on disk for a brand-new snapshot id is always
    * the leftover of a crashed attempt that wrote parquet but never
    * committed. `mode("append")` next to it would silently DUPLICATE
    * every chosen bucket's rows (the manifest's lineage is computed
    * from the in-memory frame, so nothing would catch it) — delete the
    * stale files before writing.
    */
  private def dropStaleRunDir(root: String, snap: Int): Unit = {
    val p = Paths.get(root, "runs", s"run=$snap")
    if (Files.exists(p)) deleteRecursively(p)
  }

  /** Per-partition metrics check: recompute each listed bucket's
    * (rows, xxh) from storage and diff against the manifest. Empty
    * result = lineage verified.
    *
    * Entries pinned to an older schema version (carried across an
    * additive evolution) are re-hashed under THAT version's column
    * set — one pass per distinct schema version present, which is 1
    * for any table that never evolved and stays O(few) after
    * (rewriteSnapshot collapses the versions back to one). Each pass
    * is ONE job with no exchange: every task folds the rows it scans
    * per bucket with the fold the write ran ([[graft.io.BucketFold]]),
    * and the driver merges the partials.
    */
  def verify(spark: SparkSession, root: String,
      snapshot: Option[Int] = None): Seq[(Int, String)] = {
    val v = snapshot.orElse(latestSnapshot(root)).get
    val entries = manifest(root, v)
    val (present, gone) = entries.partition(e =>
      e.paths.forall(p => Files.isDirectory(Paths.get(p))))
    gone.map(e => e.bucket -> "missing in storage") ++
    present.groupBy(_.schemaV.getOrElse(v)).toSeq.sortBy(_._1)
      .flatMap { case (sv, group) =>
        val actual = DriverFinish.described(spark, "snapshot.verify") {
          lineage(scan(spark, root, tableSchema(root, sv),
            group.flatMap(_.paths)))
        }
        group.flatMap { e =>
          actual.get(e.bucket) match {
            case None => Some(e.bucket -> "missing in storage")
            case Some((r, _, _, _)) if r != e.rows =>
              Some(e.bucket -> s"rows ${e.rows} != $r")
            case Some((_, x, _, _)) if x != e.xxh =>
              Some(e.bucket -> s"xxh ${e.xxh} != $x")
            case _ => None
          }
        }
      }
  }
}

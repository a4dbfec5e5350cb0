package graft.streaming

import graft.core.Lineage
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming counterparts of the temporal feature ops
  * (graft.temporal.*): the same semantics expressed with readStream /
  * watermark / stateful operators, so a pipeline built on the batch
  * engine can run incrementally over an event stream.
  *
  * The reference has no streaming surface (tubular is batch-only); these
  * re-express §2.11 of SURVEY.md for unbounded inputs.
  */
object StreamingOps {

  /** Gap sessionization on a stream: Spark's native session_window
    * (merging windows that close after `gap` of event-time silence) +
    * watermark for state eviction. Codegen'd, no custom state — the
    * Spark-first answer to "sessionize a click stream".
    *
    * Output: entity, session start/end, event count, value sum.
    */
  def sessionizeStream(events: DataFrame, entity: String, ts: String,
      gap: String, watermark: String = "10 minutes",
      valueCol: Option[String] = None): DataFrame = {
    val aggCols = count(lit(1)).as("n_events") +:
      valueCol.map(v => sum(col(v)).as(s"${v}_sum")).toSeq
    val agg = events
      .withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), gap).as("session"),
        col(entity))
      .agg(aggCols.head, aggCols.tail: _*)
    val outCols = Seq(col(entity),
      col("session.start").as("session_start"),
      col("session.end").as("session_end"),
      col("n_events")) ++ valueCol.map(v => col(s"${v}_sum"))
    agg.select(outCols: _*)
  }

  /** Sliding/tumbling rolling aggregate on a stream: watermark +
    * window() groupBy — the streaming analogue of
    * WindowOps.rollingRange.
    */
  def rollingWindowStream(events: DataFrame, entity: String, ts: String,
      windowLen: String, slide: String, valueCol: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), windowLen, slide).as("w"), col(entity))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as(s"${valueCol}_sum"),
        avg(col(valueCol)).as(s"${valueCol}_avg"))
      .select(col(entity), col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_events"),
        col(s"${valueCol}_sum"), col(s"${valueCol}_avg"))

  /** Real-time OHLC bars: tumbling event-time buckets per entity with
    * open/close picked by event time (min_by/max_by — declarative
    * aggregates, so the state store holds one running (n, o, h, l, c)
    * tuple per open bar, never the readings). Epoch-aligned windows
    * mean the buckets are IDENTICAL to
    * [[graft.temporal.WindowOps.resampleBars]]'s
    * `floor(epoch/width)` grid, and the emitted bars match the batch
    * op's non-empty bars exactly (spec-pinned); empty-bucket synthesis
    * and close-carry stay batch concerns — a stream cannot emit a bar
    * for a bucket no event ever opened. NaN/null readings follow the
    * same missing-reading contract: they never win open/close and
    * don't count toward `n` (an all-missing bucket emits n=0 with
    * null OHLC rather than being silently absent, so the consumer can
    * distinguish "no events" from "events but no readings").
    *
    * Output: entity, `bar_start_s` (epoch seconds), n, open, high,
    * low, close. Append mode: a bar finalizes when the watermark
    * passes its bucket end.
    */
  def ohlcBarsStream(events: DataFrame, entity: String, ts: String,
      valueCol: String, widthSeconds: Long,
      watermark: String = "10 minutes"): DataFrame = {
    require(widthSeconds > 0,
      s"ohlcBarsStream: widthSeconds > 0, got $widthSeconds")
    val v = col(valueCol).cast("double")
    val clean = when(isnan(v), lit(null)).otherwise(v)
    val ord = when(clean.isNotNull,
      struct(col(ts).cast("timestamp").as("t")))
    events
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), s"$widthSeconds seconds").as("w"),
        col(entity))
      .agg(count(clean).as("n"),
        min_by(clean, ord).as("open"),
        max(clean).as("high"),
        min(clean).as("low"),
        max_by(clean, ord).as("close"))
      .select(col(entity),
        unix_seconds(col("w.start")).as("bar_start_s"),
        col("n"), col("open"), col("high"), col("low"), col("close"))
  }

  /** Event-time windowed top-k on a stream ("trending items"):
    * watermark + tumbling window + the bounded-heap
    * [[graft.functions.TopKBy]] aggregate. State per (window, group)
    * is the k-entry heap — bytes, not rows — and the aggregate's
    * serialize/merge cycle is exactly what incremental batches
    * exercise (spec-pinned). Append mode: a window's top-k finalizes
    * when the watermark passes, like any windowed agg.
    *
    * Output: group, window start/end, `rank`/`score`/`id` exploded.
    */
  def windowedTopKStream(events: DataFrame, groupCol: String,
      ts: String, scoreCol: String, idCol: String, k: Int,
      windowLen: String, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), windowLen).as("w"), col(groupCol))
      .agg(graft.functions.TopKBy.topKBy(col(scoreCol).cast("double"),
        col(idCol).cast("long"), k).as("__topk"))
      .select(col(groupCol), col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(groupCol), col("window_start"), col("window_end"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.score").as("score"), col("__e.id").as("id"))

  /** Stream -> snapshot-store sink: materialize a stream into the
    * Iceberg-style [[graft.io.SnapshotStore]] via foreachBatch. Each
    * micro-batch becomes one snapshot of the UNION of everything seen
    * so far for its buckets; unchanged buckets are carried by
    * reference (lineage diff), so a quiet bucket costs zero writes.
    * Combined with `readChanges`, downstream jobs incrementally
    * process exactly the buckets each batch touched.
    *
    * Exactly-once across failure recovery: foreachBatch can REPLAY a
    * batch whose snapshot already committed (crash after the manifest
    * write but before the stream offsets commit). A committed batchId
    * marker under `<root>/_stream_commits` makes the replay a no-op —
    * the lineage diff alone cannot, because unioning an
    * already-absorbed batch again would double its rows.
    *
    * NOTE: the default materialization unions the previous snapshot's
    * content, re-reading prior buckets — fine for modest tables; at
    * scale merge against your upsert keys instead.
    */
  def snapshotSink(stream: DataFrame, root: String,
      bucketExpr: org.apache.spark.sql.Column,
      queryName: String = "graft-snapshot-sink")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        snapshotSinkBatch(batch, batchId, root, bucketExpr)
      }

  /** One sink micro-batch (exposed for tests): idempotent per batchId
    * via a write-ahead intent marker. Before writing, the batch
    * records the base snapshot it builds on; a replay finds the
    * marker and skips IF a newer snapshot exists (the write
    * committed), or redoes the write if not (crash before commit).
    * Both crash windows — before and after the manifest write — are
    * covered; single-writer per root, like any streaming sink.
    */
  private[graft] def snapshotSinkBatch(batch: DataFrame, batchId: Long,
      root: String, bucketExpr: org.apache.spark.sql.Column): Unit = {
    val commits = java.nio.file.Paths.get(root, "_stream_commits")
    val marker = commits.resolve(s"batch-$batchId")
    val latest = graft.io.SnapshotStore.latestSnapshot(root)
    if (java.nio.file.Files.exists(marker)) {
      val base = java.nio.file.Files.readString(marker).trim.toInt
      if (latest.exists(_ > base)) return // write committed; replay no-op
      // else: crashed between intent and commit — redo below
    } else {
      java.nio.file.Files.createDirectories(commits)
      writeAtomic(marker, latest.getOrElse(0).toString)
    }
    val s = batch.sparkSession
    val prev = latest
      .map(v => graft.io.SnapshotStore.read(s, root, Some(v)))
    val full = prev match {
      case Some(p) => p.unionByName(batch)
      case None => batch
    }
    graft.io.SnapshotStore.write(full, root, bucketExpr)
    ()
  }

  /** Streaming NEAR-dup ingestion against the persisted
    * [[graft.dedup.MinhashIndex]]: each micro-batch runs
    * `batchNearDups` (batch-only signatures, one map-side scan of the
    * stored band rows, one candidate-restricted scan of the text),
    * drops batch docs that near-duplicate the corpus or a smaller-id
    * batch sibling, emits survivors via `emit`, and absorbs them into
    * the index — so the NEXT batch dedups against them too.
    *
    * Per micro-batch the probe costs three Spark actions and a driver
    * finish when its pieces fit under
    * `spark.sql.autoBroadcastJoinThreshold`: the driver then holds at
    * most that many bytes (UnsafeRow-sized) of each of the batch's band
    * rows, the matching stored band rows and the candidates' texts,
    * plus at most threshold / 32 candidate pairs, and nothing is
    * persisted or written under the checkpoint dir. A larger
    * micro-batch falls back to the probe's shuffle plan (its
    * intermediates released before the probe returns).
    *
    * A write-ahead intent marker (same pattern as [[snapshotSink]])
    * makes a fully-committed batch's replay a no-op; a MID-batch
    * crash redoes the batch and converges to the same index state
    * (the band/text appends skip rows already stored), with `emit`
    * delivered at-least-once — point it at an idempotent downstream, the
    * standard foreachBatch contract. Ids must be MONOTONE across
    * ingestion (every batch id greater than everything absorbed
    * before) — enforced against a tracked high-water mark, because
    * the keep-the-smaller-id rule depends on it. Empty micro-batches
    * are no-ops.
    *
    * This is the full ingestion story composed: streaming arrival,
    * LSH candidate generation off a checkpointed index, exact
    * verification, and index growth — with the corpus never
    * re-signatured.
    */
  def dedupIngestSink(stream: DataFrame, corpusText: DataFrame,
      idCol: String, textCol: String, indexRoot: String,
      threshold: Double, emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream
      .queryName("graft-dedup-ingest")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupIngestBatch(batch, batchId, corpusText, idCol, textCol,
          indexRoot, threshold, emit)
      }

  /** One ingestion micro-batch (exposed for tests). */
  private[graft] def dedupIngestBatch(batch: DataFrame, batchId: Long,
      corpusText: DataFrame, idCol: String, textCol: String,
      indexRoot: String, threshold: Double,
      emit: DataFrame => Unit): Unit = {
    // the batch feeds several actions below (emptiness, min/max agg,
    // signatures, the survivors join) — evaluate the source once
    Lineage.scoped(sc => dedupIngestBatchImpl(sc, sc.persist(batch),
      batchId, corpusText, idCol, textCol, indexRoot, threshold, emit))
  }

  private def dedupIngestBatchImpl(sc: Lineage.Scope, batch: DataFrame,
      batchId: Long, corpusText: DataFrame, idCol: String,
      textCol: String, indexRoot: String, threshold: Double,
      emit: DataFrame => Unit): Unit = {
    val s = batch.sparkSession
    val commits = java.nio.file.Paths.get(indexRoot, "_ingest_commits")
    val marker = commits.resolve(s"batch-$batchId")
    val bandsRoot = s"$indexRoot/bands"
    val latestBands = graft.io.SnapshotStore.latestSnapshot(bandsRoot)
    val hwmPath = java.nio.file.Paths.get(indexRoot, "max_id.txt")
    // whether this batchId was ever attempted before: the all-doomed
    // replay exit below is ONLY legitimate on a redo — a FRESH batch
    // whose ids sit at/below the high-water mark is a source contract
    // violation (id reset) that must keep failing loudly
    val markerPreExisted = java.nio.file.Files.exists(marker)
    if (markerPreExisted) {
      val base = java.nio.file.Files.readString(marker).trim.toInt
      if (latestBands.exists(_ > base)) {
        // committed; replay no-op — but refresh the high-water mark
        // in case the crash hit between appendBatch and the hwm write
        if (!batch.isEmpty) {
          val mx = batch.agg(max(col(idCol).cast("long")))
            .head().getLong(0)
          val cur = if (java.nio.file.Files.exists(hwmPath))
            java.nio.file.Files.readString(hwmPath).trim.toLong
          else Long.MinValue
          if (mx > cur) writeAtomic(hwmPath, mx.toString)
        }
        return
      }
      // else: crashed mid-batch — redo (the appends below skip rows
      // already stored)
    } else {
      java.nio.file.Files.createDirectories(commits)
      writeAtomic(marker, latestBands.getOrElse(0).toString)
    }
    if (batch.isEmpty) {
      // commit the empty batch by bumping nothing: rewrite the marker
      // as already-satisfied (base -1 so any snapshot counts as done)
      writeAtomic(marker, "-1")
      return
    }
    // verification corpus = the base corpus + every previously
    // absorbed survivor (their text lives in the index root, so the
    // caller's corpus frame can stay immutable)
    val textsRoot = s"$indexRoot/texts"
    val storedTexts = graft.io.SnapshotStore.latestSnapshot(textsRoot)
      .map(_ => graft.io.SnapshotStore.read(s, textsRoot))
    val base = corpusText
      .select(col(idCol).cast("long").as(idCol), col(textCol))
    val fullCorpus = storedTexts
      .map(base.unionByName(_).dropDuplicates(idCol)).getOrElse(base)
    // enforce the monotone-id contract the keep-smaller-id rule
    // needs: batch ids must exceed the tracked high-water mark
    val mm = batch.agg(min(col(idCol).cast("long")),
      max(col(idCol).cast("long"))).head()
    val minBatchId = mm.getLong(0)
    val maxBatchId = mm.getLong(1)
    val hwmExists = java.nio.file.Files.exists(hwmPath)
    val hwm: Long =
      if (hwmExists)
        java.nio.file.Files.readString(hwmPath).trim.toLong
      else { // first batch: one-time corpus max
        val r = fullCorpus.agg(max(col(idCol))).head()
        if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      }
    if (markerPreExisted && hwmExists && hwm >= maxBatchId) {
      // REDO of a known batchId (marker pre-existed) where the hwm —
      // written LAST — already covers this batch's max: a previous
      // attempt fully absorbed it but the bands snapshot never
      // advanced — the legitimate ALL-DOOMED batch (no survivors = no
      // publish). Without this exit, the replay of a committed
      // all-doomed batch would fail the monotonicity require below
      // forever and wedge the stream. A FRESH batch (no marker) with
      // ids at/below the hwm falls through to that require instead:
      // silent drop would mask an id-reset contract violation.
      return
    }
    require(minBatchId > hwm,
      s"dedupIngestSink: batch ids must be monotone — batch min " +
        s"$minBatchId <= absorbed max $hwm")
    val pairs = graft.dedup.MinhashIndex.batchNearDups(
      batch, fullCorpus, idCol, textCol, indexRoot, threshold)
    // a batch doc dies if it pairs with the corpus or with a SMALLER
    // batch sibling (id_a < id_b, so with monotone ids the doomed
    // side is always id_b when id_b is in the batch)
    val doomed = pairs
      .filter(col("id_b") >= minBatchId)
      .select(col("id_b").as("__dead")).distinct()
    val survivors = sc.persist(batch.join(doomed,
      batch(idCol).cast("long") === col("__dead"), "left_anti"))
    emit(survivors) // at-least-once on mid-batch crash redo
    val survText = survivors
      .select(col(idCol).cast("long").as(idCol), col(textCol))
    // an all-doomed batch leaves the index UNTOUCHED: writing an
    // empty survivors frame would publish a snapshot with zero
    // buckets (no runs/ data for a later read to infer schema from)
    // while absorbing nothing — skip both writes instead
    if (!survivors.isEmpty) {
      // a fast append of the survivors' texts; a redo skips the texts
      // an interrupted attempt already stored. The store tracks id
      // bounds from its first write, so with monotone ids the append
      // reads no stored text.
      val textBuckets = pmod(xxhash64(col(idCol)), lit(16)).cast("int")
      if (storedTexts.isEmpty)
        graft.io.SnapshotStore.write(survText, textsRoot, textBuckets,
          statsCols = Seq(idCol))
      else graft.io.SnapshotStore.append(survText, textsRoot, textBuckets)
      graft.dedup.MinhashIndex.appendBatch(survText,
        idCol, textCol, indexRoot)
    }
    writeAtomic(hwmPath, maxBatchId.toString)
  }

  /** Crash-safe small-file write: the recovery markers and high-water
    * mark are REPLAY decision inputs, so a torn write (truncate
    * happened, bytes didn't) must be impossible — write a sibling tmp
    * then atomically move it over the target.
    */
  private def writeAtomic(p: java.nio.file.Path, s: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, s)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Streaming benchmark-decontamination gate: drop ingested docs that
    * share >= `minShared` winnowing fingerprints with a STATIC eval
    * set. Runs per micro-batch via foreachBatch (winnowing's per-doc
    * character windows aren't expressible as a streaming-native
    * window), calling the batch [[graft.text.TextOps.contamination]]
    * against the (benchmark-sized, effectively broadcast) eval frame;
    * clean docs flow to `emit`. Stateless across batches — no marker
    * needed, re-delivery just re-emits the same clean set
    * (at-least-once like any foreachBatch emission). The eval set is
    * fingerprinted ONCE at stream construction and cached — not once
    * per micro-batch. Null-id docs: winnowing merges them into one
    * pseudo-document (over-flagging, the conservative direction) and
    * the null-safe anti-join still drops them when flagged.
    */
  def decontaminateStream(stream: DataFrame, testSet: DataFrame,
      idCol: String, textCol: String, minShared: Long,
      emit: DataFrame => Unit,
      queryName: String = "graft-decontaminate")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val testFps = graft.text.TextOps
      .winnowFingerprints(testSet, idCol, textCol)
      .withColumnRenamed("doc_id", "test_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // corpus_id keeps the batch id's native type — a cast would
        // null out non-numeric ids; <=> catches null ids too
        val dirty = graft.text.TextOps.contaminationWithFps(
          batch, testFps, idCol, textCol, minShared = minShared)
          .select(col("corpus_id").as("__dirty")).distinct()
        emit(batch.join(dirty,
          batch(idCol) <=> col("__dirty"), "left_anti"))
        ()
      }
  }

  /** Streaming similarity enrichment: each incoming query vector gets
    * its exact-reranked top-k neighbors from a STATIC IVF index (the
    * fitted model + inverted lists, built once by `Knn.ivfBuild`/
    * `ivfLists` or loaded via `ivfLoad` from a SnapshotStore-persisted
    * index). Stateless across batches — the index is fitted state, not
    * stream state — so there is no watermark and re-delivery just
    * re-emits the same neighbors (at-least-once like any foreachBatch
    * emission). The inverted lists are persisted ONCE at stream
    * construction, not re-scanned per micro-batch; per batch the work
    * is the probe projection + one join against the cached lists —
    * the per-event cost a feature-enrichment stream needs at ingest
    * scale.
    */
  def annEnrichStream(stream: DataFrame,
      model: graft.ann.Knn.IvfModel, lists: DataFrame,
      queryIdCol: String, vecCol: String, k: Int, nprobe: Int,
      emit: DataFrame => Unit,
      queryName: String = "graft-ann-enrich")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val idx = lists
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ann.Knn.ivfQuery(model, idx, batch, queryIdCol,
          vecCol, k, nprobe))
        ()
      }
  }

  /** Streaming exact dedup — the incremental counterpart of
    * `Dedup.exact`: key = xxhash64 of the content columns, state scoped
    * by the watermark (`dropDuplicatesWithinWatermark`), so the state
    * store holds ONE 8-byte hash per document inside the lateness
    * horizon instead of growing unboundedly. At ingest scale the
    * horizon is the dedup contract: duplicates farther apart than the
    * watermark are the batch `Dedup.exact` backfill's job (same
    * lambda-architecture split as the as-of enrich below).
    */
  def dedupStream(docs: DataFrame, ts: String, contentCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__content_key", xxhash64(contentCols.map(col): _*))
      .withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark("__content_key")
      .drop("__content_key")

  // ---- streaming as-of enrich ------------------------------------------

  /** A tagged record on the unioned feature/event stream:
    * side 0 = feature snapshot (carries `value`), side 1 = event.
    */
  case class Tagged(entity: String, ts: Timestamp, side: Int,
      value: Option[Double], payload: Option[Double])

  case class Enriched(entity: String, ts: Timestamp, payload: Double,
      featureAtOrBefore: Option[Double], featureTs: Option[Timestamp])

  /** Per-entity carry state (public: the state encoder's generated code
    * must reach the constructor). `featureTs` is epoch MICROSECONDS:
    * `Timestamp.getTime` is millisecond-truncated, and both the
    * ordering and the emitted feature_ts must keep Spark's native
    * microsecond precision (a µs-level tie mis-sorts at ms grain).
    */
  case class CarryState(featureTs: Long, value: Double)

  private[graft] def toMicros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming point-in-time enrich — the incremental counterpart of
    * AsOfJoin: per entity, keep the LATEST feature snapshot seen so far
    * (by event time) in group state; each event is emitted with the
    * newest feature whose ts <= event ts.
    *
    * Within a micro-batch, records are processed in event-time order
    * with features winning ties (same <=-semantics as the batch join).
    * Cross-batch ordering relies on the source watermark: a feature
    * arriving later than an already-emitted event cannot retro-enrich
    * it (streams are append-only) — the batch AsOfJoin is the backfill
    * path for late data, exactly the lambda shape production feature
    * stores use.
    */
  def asOfEnrichStream(tagged: Dataset[Tagged]): Dataset[Enriched] = {
    import tagged.sparkSession.implicits._
    tagged
      .groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(enrichGroup)
  }

  private def enrichGroup(entity: String, rows: Iterator[Tagged],
      state: GroupState[CarryState]): Iterator[Enriched] = {
    val sorted = rows.toSeq.sortBy(t => (toMicros(t.ts), t.side))
    var carry = state.getOption
    val out = Seq.newBuilder[Enriched]
    sorted.foreach { t =>
      if (t.side == 0) {
        if (carry.forall(_.featureTs <= toMicros(t.ts)))
          carry = Some(CarryState(toMicros(t.ts), t.value.get))
      } else {
        // a LATE event (older than the carried feature) must not see
        // that future feature — the zero-leakage contract. Only-latest
        // state cannot recover the older feature that was overwritten,
        // so the late event enriches to None; the batch AsOfJoin is
        // the documented backfill path for late data.
        val eligible = carry.filter(_.featureTs <= toMicros(t.ts))
        out += Enriched(entity, t.ts, t.payload.getOrElse(Double.NaN),
          eligible.map(_.value),
          eligible.map(c => fromMicros(c.featureTs)))
      }
    }
    carry.foreach(state.update)
    out.result().iterator
  }

  // ---- streaming exact EWMA (time-decay recurrence) ---------------------

  case class DecayEvent(entity: Long, eventId: Long, ts: Timestamp,
      value: Double)
  case class DecayOut(eventId: Long, entity: Long, ts: Timestamp,
      decayed: Double)
  /** One double + one timestamp per entity — the WHOLE state. */
  case class DecayState(lastTsUs: Long, s: Double)

  /** Streaming EXACT time-decay recurrence
    * `s_t = x_t + s_prev * 2^(-(t - t_prev)/halfLife)` — the unbounded
    * companion of the batch [[graft.temporal.WindowOps.decayedRollingSum]]
    * (which truncates at k lags): streaming is where the exact
    * recurrence is natural, because the sequential per-entity scan the
    * batch engine refuses is exactly what arrival order provides. One
    * (timestamp, double) pair of state per entity — the online
    * feature-store counter shape: bounded state forever, every event
    * emits its decayed feature value at arrival.
    *
    * Within a micro-batch, rows are processed in (event-time, id)
    * order. ACROSS batches the source must be per-entity
    * ts-nondecreasing (the append-only feature-counter contract); a
    * row older than the carried state is a contract violation and
    * fails loudly rather than silently corrupting the recurrence —
    * the batch operator is the documented backfill path.
    *
    * State TTL: by default state lives forever (one pair per entity —
    * fine while the ENTITY UNIVERSE is bounded). For an unbounded
    * universe (session ids, request ids) pass
    * `evictAfterHalfLives = Some(k)`: an entity idle for k half-lives
    * has its state dropped via event-time timeout, and its next event
    * restarts the recurrence from scratch. This is PRINCIPLED
    * truncation, not approximation drift — the dropped term's weight
    * was already below `2^-k` of the carried value (k=20 → ~1e-6
    * relative, below the 6dp the feature is read at; spec asserts the
    * bound). Requires a watermark on `ts` (the timeout clock).
    */
  def decayedFeatureStream(events: Dataset[DecayEvent],
      halfLifeSeconds: Double,
      evictAfterHalfLives: Option[Double] = None): Dataset[DecayOut] = {
    import events.sparkSession.implicits._
    require(halfLifeSeconds > 0,
      s"decayedFeatureStream: halfLife > 0, got $halfLifeSeconds")
    evictAfterHalfLives.foreach(k => require(k > 0,
      s"decayedFeatureStream: evictAfterHalfLives > 0, got $k"))
    val hlUs = halfLifeSeconds * 1e6
    val ttlMs = evictAfterHalfLives.map(k =>
      math.max(1L, (k * halfLifeSeconds * 1000.0).toLong))
    val timeoutConf = ttlMs match {
      case Some(_) => GroupStateTimeout.EventTimeTimeout
      case None => GroupStateTimeout.NoTimeout
    }
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (entity: Long, rows: Iterator[DecayEvent],
         state: GroupState[DecayState]) =>
          if (state.hasTimedOut) {
            // idle >= k half-lives: the carried value is < 2^-k of
            // anything the next event would read — drop it
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq
              .sortBy(e => (toMicros(e.ts), e.eventId))
            var st = state.getOption
            val out = Seq.newBuilder[DecayOut]
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              st.foreach { p =>
                require(t >= p.lastTsUs,
                  s"decayedFeatureStream: entity $entity got ts $t " +
                    s"older than carried state ${p.lastTsUs} — source " +
                    "must be per-entity ts-nondecreasing (use the " +
                    "batch decayedRollingSum to backfill late data)")
              }
              // same expression tree as the batch/SQL mirror:
              // x + s * pow(0.5, dt/hl)
              val dec = st match {
                case Some(p) =>
                  e.value + p.s * math.pow(0.5,
                    (t - p.lastTsUs).toDouble / hlUs)
                case None => e.value
              }
              st = Some(DecayState(t, dec))
              out += DecayOut(e.eventId, entity, e.ts, dec)
            }
            st.foreach { p =>
              state.update(p)
              ttlMs.foreach(ttl =>
                state.setTimeoutTimestamp(p.lastTsUs / 1000L + ttl))
            }
            out.result().iterator
          }
      }
  }

  case class EwmEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class EwmOut(eventId: Long, entity: Long, ts: Timestamp,
    ewmMean: Option[Double])
  case class EwmState(lastTsUs: Long, s: Double)

  /** ONLINE irregular-interval exponentially-weighted MEAN — the
    * streaming companion of [[graft.temporal.Sequential.ewmMean]]
    * (which is also the exact batch backfill path): one
    * (lastTs, level) pair per entity carried across micro-batches,
    * each arriving reading folding `s + (1 - 2^(-dt/hl)) * (x - s)`
    * in the batch operator's exact IEEE operand order — so stream,
    * batch scan, and the recursive-CTE oracle agree to the last ulp
    * (q206 certifies against LITERALLY q193's oracle, the fourth
    * shared batch/stream pair after CUSUM, decay, and z-score).
    *
    * Same source contract as [[decayedFeatureStream]]: (event-time,
    * id) order within a batch, per-entity ts-nondecreasing across
    * batches (loud failure otherwise, backfill late data with the
    * batch ewmMean). A missing (null/NaN) reading emits null and
    * leaves BOTH the level and the decay clock untouched — the clock
    * runs between OBSERVATIONS, exactly like the batch op.
    * State: one (long, double) pair per entity, forever (level
    * features must not silently evict — state schema v1, see
    * [[StreamVersion]]).
    */
  def ewmMeanStream(events: Dataset[EwmEvent],
      halfLifeSeconds: Double): Dataset[EwmOut] = {
    import events.sparkSession.implicits._
    require(halfLifeSeconds > 0,
      s"ewmMeanStream: halfLife > 0, got $halfLifeSeconds")
    val hlUs = halfLifeSeconds * 1e6
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[EwmEvent],
         state: GroupState[EwmState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption
          val out = Seq.newBuilder[EwmOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            st.foreach { p =>
              require(t >= p.lastTsUs,
                s"ewmMeanStream: entity $entity got ts $t older than " +
                  s"carried state ${p.lastTsUs} — source must be " +
                  "per-entity ts-nondecreasing (backfill late data " +
                  "with the batch Sequential.ewmMean)")
            }
            val m = e.value.filterNot(_.isNaN)
            val lvl: Option[Double] = m.map { xv =>
              val s2 = st match {
                case Some(p) => p.s + (1.0 - math.pow(0.5,
                  (t - p.lastTsUs).toDouble / hlUs)) * (xv - p.s)
                case None => xv
              }
              st = Some(EwmState(t, s2))
              s2
            }
            out += EwmOut(e.eventId, entity, e.ts, lvl)
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  case class HoltEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class HoltOut(eventId: Long, entity: Long, ts: Timestamp,
    level: Option[Double], trend: Option[Double],
    forecast: Option[Double])
  case class HoltState(lastTsUs: Long, l: Double, b: Double)

  /** ONLINE Holt double-exponential (level + trend) smoothing — the
    * streaming companion of
    * [[graft.temporal.Sequential.holtSmooth]]: one
    * `(lastTs, level, trend)` triple per entity carried across
    * micro-batches, each arriving value folded with the IDENTICAL
    * operand order as the batch scan —
    * `l' = a·x + (1-a)·(l+b)` reading the old pair, then
    * `b' = B·(l'-l) + (1-B)·b` reading the OLD l — so stream, batch,
    * and the shared recursive-CTE oracle agree to the last ulp
    * (q270 certifies against LITERALLY q266's oracle).
    *
    * Row-sequenced (observation count, not wall clock, drives the
    * fold, like the batch op); a missing (null/NaN) reading emits
    * null level/trend/forecast and leaves the state untouched. Same
    * source contract as the other per-entity recurrences here:
    * (event-time, id) order within a batch, per-entity
    * ts-nondecreasing across batches (loud failure otherwise). State
    * is one triple per entity, forever — level features must not
    * silently evict (state schema v1, see [[StreamVersion]]).
    */
  def holtSmoothStream(events: Dataset[HoltEvent],
      alpha: Double, beta: Double): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    require(alpha > 0 && alpha <= 1,
      s"holtSmoothStream: alpha in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1,
      s"holtSmoothStream: beta in [0,1], got $beta")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[HoltEvent],
         state: GroupState[HoltState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption
          val out = Seq.newBuilder[HoltOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            st.foreach { p =>
              require(t >= p.lastTsUs,
                s"holtSmoothStream: entity $entity got ts $t older " +
                  s"than carried state ${p.lastTsUs} — source must " +
                  "be per-entity ts-nondecreasing (backfill late " +
                  "data with the batch Sequential.holtSmooth)")
            }
            val m = e.value.filterNot(_.isNaN)
            val lb: Option[(Double, Double)] = m.map { xv =>
              val (l2, b2) = st match {
                case Some(p) =>
                  val lNew = alpha * xv + (1.0 - alpha) * (p.l + p.b)
                  (lNew, beta * (lNew - p.l) + (1.0 - beta) * p.b)
                case None => (xv, 0.0)
              }
              st = Some(HoltState(t, l2, b2))
              (l2, b2)
            }
            out += HoltOut(e.eventId, entity, e.ts,
              lb.map(_._1), lb.map(_._2),
              lb.map { case (l2, b2) => l2 + b2 })
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  case class CusumEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class CusumOut(eventId: Long, entity: Long, ts: Timestamp,
    cusumPos: Double, cusumNeg: Double, alarm: Boolean)
  case class CusumState(lastTsUs: Long, sp: Long, sn: Long)

  /** ONLINE two-sided CUSUM change-point scores — the streaming
    * companion of [[graft.temporal.Sequential.cusum]] (which is also
    * the exact batch backfill path): one `(lastTs, sPos, sNeg)`
    * integer-micro-unit triple per entity carried across micro-batches
    * via flatMapGroupsWithState, every event emitting its scores and
    * alarm at arrival. Integer adds + max have no float order to
    * drift, so the stream, the batch scan, and the recursive-CTE
    * oracle agree bit-exactly given the same per-entity (ts, id)
    * arrival order.
    *
    * Same source contract as [[decayedFeatureStream]]: rows are
    * processed in (event-time, id) order within a batch, and ACROSS
    * batches the source must be per-entity ts-nondecreasing — an
    * older-than-state row fails loudly (backfill late data with the
    * batch operator). A missing (null/NaN) value leaves the state
    * unchanged.
    * State lives forever (one triple per entity — bounded entity
    * universe assumed; CUSUM state must NOT silently evict, a
    * half-accumulated drift score is the signal).
    */
  def cusumStream(events: Dataset[CusumEvent], target: Double,
      slack: Double, threshold: Double): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    require(slack >= 0, s"cusumStream: slack >= 0, got $slack")
    require(threshold > 0, s"cusumStream: threshold > 0, got $threshold")
    val km = math.round((target + slack) * 1e6)
    val kn = math.round((target - slack) * 1e6)
    val thrM = math.round(threshold * 1e6)
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[CusumEvent],
         state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(CusumState(Long.MinValue, 0L, 0L))
          val out = Seq.newBuilder[CusumOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(t >= st.lastTsUs,
              s"cusumStream: entity $entity got ts $t older than " +
                s"carried state ${st.lastTsUs} — source must be " +
                "per-entity ts-nondecreasing (backfill late data with " +
                "the batch Sequential.cusum)")
            // the ONE shared value->micro-unit definition (Spark
            // round() semantics) the batch scan and oracle also use;
            // NaN is a missing reading, like the batch scan's guard
            val xm = e.value.filterNot(_.isNaN)
              .map(graft.temporal.StreamingRound.halfUp6)
            val sp = math.max(0L, st.sp + xm.map(_ - km).getOrElse(0L))
            val sn = math.max(0L, st.sn + xm.map(kn - _).getOrElse(0L))
            st = CusumState(t, sp, sn)
            out += CusumOut(e.eventId, entity, e.ts,
              sp / 1e6, sn / 1e6, sp > thrM || sn > thrM)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class GapEvent(entity: Long, eventId: Long, ts: Timestamp)
  case class GapSurpriseState(lastTsUs: Long, hasLast: Boolean,
    nGaps: Long, sumGapsUs: Long)
  case class GapSurpriseOut(eventId: Long, entity: Long,
    ts: Timestamp, gapUs: Option[Long], nPriorGaps: Long,
    meanPriorGapUs: Option[Double], gapSurprise: Option[Double])

  /** ONLINE gap surprise — the streaming companion of
    * [[graft.temporal.WindowOps.gapSurprise]]: each arriving event's
    * inter-arrival gap scored against the expanding mean of the
    * entity's STRICTLY PRIOR gaps, carried as ONE (lastTs, n, Σ)
    * triple per entity — O(1) state, never a buffer. The gap sum is
    * exact integer micros (a Long holds > 290k years of gaps); the
    * two readout divisions run in the batch operator's operand
    * order, so stream, batch, and the shared DuckDB oracle agree on
    * every value bit for bit (q334 certifies against LITERALLY
    * q332's oracle).
    *
    * Same source contract as the other per-entity recurrences here:
    * (event-time, id) order within a batch, per-entity
    * ts-nondecreasing across batches (loud failure otherwise).
    */
  def gapSurpriseStream(events: Dataset[GapEvent])
      : Dataset[GapSurpriseOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[GapEvent],
         state: GroupState[GapSurpriseState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(
            GapSurpriseState(Long.MinValue, hasLast = false, 0L, 0L))
          val out = Seq.newBuilder[GapSurpriseOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(!st.hasLast || t >= st.lastTsUs,
              s"gapSurpriseStream: entity $entity got ts $t older " +
                s"than carried state ${st.lastTsUs} — source must be " +
                "per-entity ts-nondecreasing (backfill late data " +
                "with the batch WindowOps.gapSurprise)")
            val gap = if (st.hasLast) Some(t - st.lastTsUs) else None
            // the batch chain: mean = Σ(double)/n(double), surprise
            // = gap(double)/mean — identical operand order
            val meanPrior = if (st.nGaps > 0)
              Some(st.sumGapsUs.toDouble / st.nGaps.toDouble)
            else None
            val surprise = for {
              g <- gap; m <- meanPrior if m > 0
            } yield g.toDouble / m
            out += GapSurpriseOut(e.eventId, entity, e.ts, gap,
              st.nGaps, meanPrior, surprise)
            st = GapSurpriseState(t, hasLast = true,
              st.nGaps + gap.size, st.sumGapsUs + gap.getOrElse(0L))
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class TcEvent(entity: Long, eventId: Long, ts: Timestamp,
    eventType: Option[String])
  case class TcState(lastTsUs: Long, hasLast: Boolean,
    counts: Seq[Long], total: Long)
  case class TcOut(eventId: Long, entity: Long, ts: Timestamp,
    priorCounts: Seq[Long], priorTotal: Long)

  /** ONLINE expanding type counts — the streaming companion of
    * [[graft.temporal.WindowOps.expandingTypeCounts]]: each arriving
    * event reads its entity's strictly-prior per-type counters
    * (emitted BEFORE the update, so an event never counts itself),
    * carried as ONE |types|+1-long register row per entity. Exact
    * integers; q356 certifies against LITERALLY the batch op's
    * oracle. Same source contract as the other recurrences here
    * (per-entity ts-nondecreasing across batches, loud failure
    * otherwise); a null/unknown type still advances `priorTotal`
    * only if non-null, exactly like the batch conditional counts.
    */
  def typeCountsStream(events: Dataset[TcEvent],
      types: Seq[String]): Dataset[TcOut] = {
    import events.sparkSession.implicits._
    require(types.nonEmpty, "typeCountsStream: types non-empty")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[TcEvent],
         state: GroupState[TcState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(TcState(Long.MinValue,
            hasLast = false, Seq.fill(types.size)(0L), 0L))
          val out = Seq.newBuilder[TcOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(!st.hasLast || t >= st.lastTsUs,
              s"typeCountsStream: entity $entity got ts $t older " +
                s"than carried state ${st.lastTsUs} — source must " +
                "be per-entity ts-nondecreasing (backfill late data " +
                "with the batch WindowOps.expandingTypeCounts)")
            out += TcOut(e.eventId, entity, e.ts, st.counts, st.total)
            val i = e.eventType.map(types.indexOf).getOrElse(-1)
            val counts =
              if (i >= 0) st.counts.updated(i, st.counts(i) + 1L)
              else st.counts
            val total =
              if (e.eventType.isDefined) st.total + 1L else st.total
            st = TcState(t, hasLast = true, counts, total)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class DtEvent(entity: Long, eventId: Long, ts: Timestamp,
    eventType: Option[String])
  case class DtState(lastTsUs: Long, hasLast: Boolean,
    seen: Seq[String])
  case class DtOut(eventId: Long, entity: Long, ts: Timestamp,
    priorNTypes: Long)

  /** ONLINE expanding distinct-type count — the streaming companion
    * of [[graft.temporal.WindowOps.expandingDistinctTypes]]: each
    * arriving event reads how many DISTINCT types its entity had
    * shown strictly before (emitted BEFORE the update), carried as
    * the entity's seen-type set. State is O(|distinct types seen|)
    * per entity — bounded in any real taxonomy, and guarded by
    * `maxTypes` with a loud failure so a corrupt high-cardinality
    * type column cannot balloon the state store silently. q359
    * certifies against LITERALLY the batch op's oracle. Same source
    * contract as the other recurrences here.
    */
  def distinctTypesStream(events: Dataset[DtEvent],
      maxTypes: Int = 10000): Dataset[DtOut] = {
    import events.sparkSession.implicits._
    require(maxTypes >= 1, s"maxTypes >= 1, got $maxTypes")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[DtEvent],
         state: GroupState[DtState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(
            DtState(Long.MinValue, hasLast = false, Seq.empty))
          val out = Seq.newBuilder[DtOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(!st.hasLast || t >= st.lastTsUs,
              s"distinctTypesStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill late " +
                "data with the batch expandingDistinctTypes)")
            out += DtOut(e.eventId, entity, e.ts, st.seen.size.toLong)
            val seen = e.eventType match {
              case Some(tp) if !st.seen.contains(tp) =>
                require(st.seen.size < maxTypes,
                  s"distinctTypesStream: entity $entity exceeded " +
                    s"$maxTypes distinct types — state would grow " +
                    "unbounded; raise maxTypes only deliberately")
                st.seen :+ tp
              case _ => st.seen
            }
            st = DtState(t, hasLast = true, seen)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class TrEvent(entity: Long, eventId: Long, ts: Timestamp,
    eventType: String)
  case class TrState(lastTsUs: Long, hasLast: Boolean,
    prevType: Option[String])
  case class TrOut(eventId: Long, entity: Long, ts: Timestamp,
    prevType: Option[String], eventType: String,
    transN: Option[Long], prevN: Option[Long],
    transP: Option[Double], transSurprisal: Option[Double])

  /** ONLINE Markov transition scoring — the serving side of
    * [[graft.operators.Behavior.transitionFeatures]]: a FITTED
    * corpus transition matrix (the batch op's own
    * (prev, cur) → (trans_n, prev_n) rows, bounded by |types|²)
    * ships in the closure, and the stream carries ONE register per
    * entity — its previous type — scoring each arriving event with
    * the batch operand order (`n/prev_n`, `−ln p`). An entity's
    * first event scores null (no pseudo-start), and a (prev, cur)
    * pair the matrix never saw scores null — late-data honesty, not
    * a crash. q360 certifies against LITERALLY q267's oracle.
    */
  def transitionScoreStream(events: Dataset[TrEvent],
      matrix: Map[(String, String), (Long, Long)])
      : Dataset[TrOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[TrEvent],
         state: GroupState[TrState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(
            TrState(Long.MinValue, hasLast = false, None))
          val out = Seq.newBuilder[TrOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(!st.hasLast || t >= st.lastTsUs,
              s"transitionScoreStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill late " +
                "data with the batch transitionFeatures)")
            val hit = st.prevType.flatMap(p =>
              matrix.get((p, e.eventType)))
            val p = hit.map { case (n, pn) =>
              n.toDouble / pn.toDouble }
            out += TrOut(e.eventId, entity, e.ts, st.prevType,
              e.eventType, hit.map(_._1), hit.map(_._2), p,
              p.map(x => -math.log(x)))
            st = TrState(t, hasLast = true, Some(e.eventType))
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class ZEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class ZOut(eventId: Long, entity: Long, ts: Timestamp,
    rz: Option[Double], anomaly: Boolean)
  /** ring holds the last <= k ROWS as micro-units with None marking
    * a missing reading — a missing row still occupies a frame slot,
    * exactly like the batch op's k-ROW window. STATE SCHEMA v2: v1
    * encoded missing as a Long.MinValue sentinel, which collided
    * with a genuine reading of exactly -2^63 micro-units; a v1
    * checkpoint cannot deserialize under this build (see
    * [[graft.streaming.StreamVersion]]).
    */
  case class ZState(lastTsUs: Long, ring: Seq[Option[Long]])

  /** ONLINE rolling z-score anomaly flags — the streaming companion
    * of [[graft.temporal.WindowOps.rollingZScore]]: each arriving
    * reading scored against the mean/std of its entity's PRIOR `k`
    * ROWS, carried as one bounded ring (<= k longs) per entity.
    * Frame moments are exact integers (squared sums in BigInt), the
    * micro-unit conversion is the shared
    * [[graft.temporal.StreamingRound.halfUp6]], and the float
    * readout divisions run in the batch operator's operand order —
    * so stream, batch, and the shared DuckDB oracle agree on every
    * value (q201 certifies against LITERALLY q197's oracle).
    *
    * Same source contract as the other per-entity recurrences here:
    * (event-time, id) order within a batch, per-entity
    * ts-nondecreasing across batches (loud failure otherwise), a
    * missing (null/NaN) reading emits null/no-flag but still
    * occupies a baseline slot.
    */
  def zScoreStream(events: Dataset[ZEvent], k: Int,
      cutoff: Double = 3.0, minObs: Int = 2): Dataset[ZOut] = {
    import events.sparkSession.implicits._
    require(k >= minObs && minObs >= 2,
      s"zScoreStream: need k >= minObs >= 2, got k=$k minObs=$minObs")
    require(cutoff > 0, s"zScoreStream: cutoff > 0, got $cutoff")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[ZEvent],
         state: GroupState[ZState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption
            .getOrElse(ZState(Long.MinValue, Vector.empty))
          val out = Seq.newBuilder[ZOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(t >= st.lastTsUs,
              s"zScoreStream: entity $entity got ts $t older than " +
                s"carried state ${st.lastTsUs} — source must be " +
                "per-entity ts-nondecreasing (backfill late data " +
                "with the batch rollingZScore)")
            val m = e.value.filterNot(_.isNaN)
              .map(graft.temporal.StreamingRound.halfUp6)
            val prior = st.ring.flatten
            val n = prior.size
            val rz: Option[Double] = m match {
              case Some(mv) if n >= minObs =>
                val s = prior.sum
                val sq = prior.foldLeft(BigInt(0))((a, x) =>
                  a + BigInt(x) * BigInt(x))
                val meanM = s.toDouble / n.toDouble
                val varM = sq.toDouble / n.toDouble - meanM * meanM
                val stdM = math.sqrt(math.max(varM, 0.0))
                if (stdM == 0.0) None
                else Some((mv.toDouble - meanM) / stdM)
              case _ => None
            }
            val ring = (st.ring :+ m).takeRight(k)
            st = ZState(t, ring)
            out += ZOut(e.eventId, entity, e.ts, rz,
              rz.exists(z => math.abs(z) > cutoff))
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class CorrEvent(entity: Long, eventId: Long, ts: Timestamp,
    x: Option[Double], y: Option[Double])
  case class CorrOut(eventId: Long, entity: Long, ts: Timestamp,
    corr: Option[Double], beta: Option[Double])
  /** ring holds the last <= k ROWS; a slot is Some((mx, my)) only
    * when BOTH readings were present (pairwise-complete, like the
    * batch op) and None otherwise — an incomplete row still occupies
    * a frame slot, exactly like the batch op's k-ROW window.
    */
  case class CorrState(lastTsUs: Long, ring: Seq[Option[(Long, Long)]])

  /** ONLINE trailing co-movement — the streaming companion of
    * [[graft.temporal.WindowOps.rollingCorr]]: each arriving row
    * scored with the Pearson correlation and OLS beta of its
    * entity's PRIOR `k` rows, carried as one bounded ring
    * (<= k pairs) per entity. Frame moments are exact integers
    * (BigInt — Σx, Σy, Σx², Σy², Σxy over the complete pairs), the
    * micro-unit conversion is the shared
    * [[graft.temporal.StreamingRound.halfUp6]], and the float
    * readout runs in the batch operator's operand order
    * (num/sqrt(dx·dy), num/dx on exact integers) — so stream,
    * batch, and the shared DuckDB oracle agree on every value
    * (q257 certifies against LITERALLY q256's oracle).
    *
    * Same source contract as the other per-entity recurrences here:
    * (event-time, id) order within a batch, per-entity
    * ts-nondecreasing across batches (loud failure otherwise).
    */
  def rollingCorrStream(events: Dataset[CorrEvent], k: Int,
      minObs: Int = 2): Dataset[CorrOut] = {
    import events.sparkSession.implicits._
    require(k >= minObs && minObs >= 2,
      s"rollingCorrStream: need k >= minObs >= 2, got k=$k minObs=$minObs")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[CorrEvent],
         state: GroupState[CorrState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption
            .getOrElse(CorrState(Long.MinValue, Vector.empty))
          val out = Seq.newBuilder[CorrOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(t >= st.lastTsUs,
              s"rollingCorrStream: entity $entity got ts $t older " +
                s"than carried state ${st.lastTsUs} — source must be " +
                "per-entity ts-nondecreasing (backfill late data " +
                "with the batch rollingCorr)")
            val pair = for {
              xv <- e.x.filterNot(_.isNaN)
              yv <- e.y.filterNot(_.isNaN)
            } yield (graft.temporal.StreamingRound.halfUp6(xv),
              graft.temporal.StreamingRound.halfUp6(yv))
            val prior = st.ring.flatten
            val n = prior.size
            var corr: Option[Double] = None
            var beta: Option[Double] = None
            if (n >= minObs) {
              val nB = BigInt(n)
              val sx = prior.foldLeft(BigInt(0))((a, p) => a + BigInt(p._1))
              val sy = prior.foldLeft(BigInt(0))((a, p) => a + BigInt(p._2))
              val sxx = prior.foldLeft(BigInt(0))((a, p) =>
                a + BigInt(p._1) * BigInt(p._1))
              val syy = prior.foldLeft(BigInt(0))((a, p) =>
                a + BigInt(p._2) * BigInt(p._2))
              val sxy = prior.foldLeft(BigInt(0))((a, p) =>
                a + BigInt(p._1) * BigInt(p._2))
              val num = nB * sxy - sx * sy
              val dx = nB * sxx - sx * sx
              val dy = nB * syy - sy * sy
              if (dx > 0) {
                beta = Some(num.toDouble / dx.toDouble)
                if (dy > 0)
                  corr = Some(num.toDouble /
                    math.sqrt(dx.toDouble * dy.toDouble))
              }
            }
            st = CorrState(t, (st.ring :+ pair).takeRight(k))
            out += CorrOut(e.eventId, entity, e.ts, corr, beta)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class MinMaxEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class MinMaxOut(eventId: Long, entity: Long, ts: Timestamp,
    min: Option[Double], max: Option[Double], count: Long)
  /** `idx` numbers rows per entity from 0; the window at row i is
    * indices (i-k, i]. `present` rings the last <= k slot-occupancy
    * flags (for the O(1) count update); the two deques hold only the
    * monotone SURVIVORS (index, value) — the min deque ascending, the
    * max deque descending — so per-row work is amortized O(1) however
    * large k is, the property a ring-rescan (O(k) per row) loses at
    * feature-store window sizes.
    */
  case class MinMaxState(lastTsUs: Long, idx: Long, count: Long,
    present: Seq[Boolean], minDq: Seq[(Long, Double)],
    maxDq: Seq[(Long, Double)])

  /** ONLINE trailing min / max / non-null count over the last `k`
    * ROWS (inclusive of current) — the streaming companion of
    * [[graft.temporal.WindowOps.rollingRows]] with
    * `aggs = min, max, count`, certified against LITERALLY the batch
    * op's windowed-SQL oracle (q269 vs q37). min/max are SELECTIONS,
    * not arithmetic: the emitted doubles are the input doubles, so
    * stream, batch window, and oracle agree bit-for-bit with no
    * rounding discipline needed.
    *
    * Value ordering mirrors the batch window exactly:
    * `java.lang.Double.compare` (NaN greatest, like Spark and
    * DuckDB column MIN/MAX); a SQL NULL occupies a frame slot but
    * joins neither deque nor the count, exactly like `MIN(value)` /
    * `COUNT(value)` over a frame with NULLs.
    *
    * Same source contract as the other per-entity recurrences here:
    * (event-time, id) order within a batch, per-entity
    * ts-nondecreasing across batches (loud failure otherwise — late
    * data is the batch operator's backfill job).
    */
  def rollingMinMaxStream(events: Dataset[MinMaxEvent], k: Int)
      : Dataset[MinMaxOut] = {
    import events.sparkSession.implicits._
    require(k >= 1, s"rollingMinMaxStream: k >= 1, got $k")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[MinMaxEvent],
         state: GroupState[MinMaxState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(
            MinMaxState(Long.MinValue, 0L, 0L, Vector.empty,
              Vector.empty, Vector.empty))
          val out = Seq.newBuilder[MinMaxOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(t >= st.lastTsUs,
              s"rollingMinMaxStream: entity $entity got ts $t older " +
                s"than carried state ${st.lastTsUs} — source must be " +
                "per-entity ts-nondecreasing (backfill late data " +
                "with the batch rollingRows)")
            val i = st.idx
            var present = st.present
            var cnt = st.count
            // slot leaving the frame as this row enters
            if (present.size == k.toLong) {
              if (present.head) cnt -= 1
              present = present.tail
            }
            present = present :+ e.value.isDefined
            var minDq = st.minDq
            var maxDq = st.maxDq
            e.value.foreach { v =>
              cnt += 1
              while (minDq.nonEmpty &&
                  java.lang.Double.compare(minDq.last._2, v) >= 0)
                minDq = minDq.init
              minDq = minDq :+ (i, v)
              while (maxDq.nonEmpty &&
                  java.lang.Double.compare(maxDq.last._2, v) <= 0)
                maxDq = maxDq.init
              maxDq = maxDq :+ (i, v)
            }
            // fronts whose index left the window (i-k, i]
            while (minDq.nonEmpty && minDq.head._1 <= i - k)
              minDq = minDq.tail
            while (maxDq.nonEmpty && maxDq.head._1 <= i - k)
              maxDq = maxDq.tail
            st = MinMaxState(t, i + 1, cnt, present, minDq, maxDq)
            out += MinMaxOut(e.eventId, entity, e.ts,
              minDq.headOption.map(_._2), maxDq.headOption.map(_._2),
              cnt)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  // ---- streaming image near-dup (phash) --------------------------------

  case class PhashImage(imageId: String, ts: Timestamp, phash: Long)
  case class PhashPair(idA: String, idB: String, hamming: Int)
  case class BandedImage(band: Int, bits: Long, imageId: String,
      phash: Long, ts: Timestamp)
  /** STATE-SCHEMA COMPATIBILITY: `maxTs` was added after the first
    * release of [[phashNearDupStream]]. flatMapGroupsWithState state
    * encoders are schema-sensitive, so a checkpoint written by the
    * pre-`maxTs` build cannot deserialize under this one — restarting
    * an old stream on this version needs a FRESH checkpoint directory
    * (state v2; treat any future field change here the same way).
    */
  case class BucketState(ids: List[(String, Long)],
    maxTs: Long = 0L)

  private def bandBits(phash: Long, band: Int, width: Int): Long = {
    val mask = if (width == 64) -1L else (1L << width) - 1
    (phash >> (band * width)) & mask
  }

  /** Streaming counterpart of
    * [[graft.multimodal.Multimodal.phashNearDups]]: each image explodes
    * to its `bands` (band, bits) keys; per key, group state holds the
    * images seen inside the event-time horizon and every arrival emits
    * its near-dup pairs (exact bit_count verify) immediately.
    *
    * Exactly-once across bands WITHOUT a second dedup shuffle: both
    * phashes are known inside a bucket, so a pair is emitted only from
    * the FIRST band on which the two hashes agree — every other shared
    * bucket recomputes the same band index and stays silent (the batch
    * operator uses `distinct()` for this; streams shouldn't pay that
    * extra stateful stage).
    *
    * State is bounded two ways: event-time timeout clears buckets
    * `horizon` past the watermark (same contract as [[dedupStream]] —
    * older near-dups are the batch operator's backfill job), and
    * `maxPerBucket` ring-evicts pathological hot buckets. The ring cap
    * trades completeness for bounded state: a pair whose FIRST shared
    * band sits in an over-capacity bucket that evicted one side is not
    * re-emitted by the other shared buckets (they defer to the first
    * band by design) — beyond-capacity collisions are the batch
    * operator's backfill job, like late data.
    */
  def phashNearDupStream(imgs: Dataset[PhashImage], maxDist: Int,
      bands: Int = 4, watermark: String = "10 minutes",
      horizonMs: Long = 10L * 60 * 1000, maxPerBucket: Int = 1024)
      : Dataset[PhashPair] = {
    require(bands >= 1 && 64 % bands == 0 && maxDist < bands,
      s"need maxDist < bands and bands | 64, got $maxDist/$bands")
    import imgs.sparkSession.implicits._
    val width = 64 / bands
    imgs
      .flatMap(i => (0 until bands).map(b =>
        BandedImage(b, bandBits(i.phash, b, width), i.imageId, i.phash,
          i.ts)))
      // watermark AFTER the typed flatMap: the object-serialization
      // boundary would otherwise drop the event-time marker the
      // EventTimeTimeout needs
      .withWatermark("ts", watermark)
      .groupByKey(r => (r.band, r.bits))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandedImage],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.map(_.ids).getOrElse(Nil)
            val out = Seq.newBuilder[PhashPair]
            // the timeout must never REGRESS: a late-but-valid row
            // alone in a batch has a small max ts, and re-arming from
            // it would evict newer state early — carry the bucket's
            // historical max
            var maxTs = state.getOption.map(_.maxTs).getOrElse(0L)
            rows.toSeq.sortBy(r => (r.ts.getTime, r.imageId))
              .foreach { r =>
                maxTs = math.max(maxTs, r.ts.getTime)
                if (!seen.exists(_._1 == r.imageId)) {
                  seen.foreach { case (oid, oph) =>
                    val d = java.lang.Long.bitCount(r.phash ^ oph)
                    val first = (0 until bands).find(b =>
                      bandBits(r.phash, b, width) ==
                        bandBits(oph, b, width))
                    if (d <= maxDist && first.contains(key._1)) {
                      val (a, b) =
                        if (oid < r.imageId) (oid, r.imageId)
                        else (r.imageId, oid)
                      out += PhashPair(a, b, d)
                    }
                  }
                  seen = ((r.imageId, r.phash) :: seen).take(maxPerBucket)
                }
              }
            state.update(BucketState(seen, maxTs))
            state.setTimeoutTimestamp(maxTs + horizonMs)
            out.result().iterator
          }
      }
  }

  // ---- streaming range join ---------------------------------------------

  /** Streaming counterpart of
    * [[graft.temporal.RangeJoin.pointInInterval]]: events attach to the
    * campaign/validity intervals they fall inside, incrementally, as a
    * native stream-stream inner join. Both sides carry watermarks and
    * the join condition bounds `ts` within `maxIntervalSeconds` of the
    * interval's start — the two facts Spark needs to age out buffered
    * state instead of holding both streams forever (the unbounded
    * inequality join is rejected by the engine for exactly that
    * reason). `maxIntervalSeconds` is the streaming analogue of the
    * batch operator's `maxBucketsPerInterval` guard: intervals longer
    * than it simply stop matching at the horizon, they cannot grow
    * state.
    */
  def rangeJoinStream(events: DataFrame, intervals: DataFrame,
      keyCols: Seq[String], ts: String, start: String, end: String,
      maxIntervalSeconds: Long,
      watermark: String = "10 minutes"): DataFrame = {
    require(maxIntervalSeconds > 0, "maxIntervalSeconds must be positive")
    val e = events.withWatermark(ts, watermark)
    val i = intervals.withWatermark(start, watermark)
    val cond = keyCols.map(k => e(k) === i(k)).reduce(_ && _) &&
      e(ts) >= i(start) && e(ts) <= i(end) &&
      e(ts) <= i(start) +
        expr(s"INTERVAL $maxIntervalSeconds SECONDS")
    keyCols.foldLeft(e.join(i, cond, "inner"))((d, k) => d.drop(i(k)))
  }

  // ---- streaming per-group quantile sketch ------------------------------

  case class QRow(key: String, value: Double)
  case class QuantEstimate(key: String, prob: Double, value: Double,
    total: Double)

  /** Running per-key quantiles over an unbounded stream with BOUNDED
    * state — the streaming face of [[graft.core.Sketch]]: fixed-bin
    * histogram counts merge ASSOCIATIVELY, so each micro-batch folds
    * its rows into a `bins`-double array per key (state never grows
    * with data, only with keys) and emits the key's refreshed quantile
    * estimates (update semantics).
    *
    * Ranges are EXPLICIT and fixed up front — every batch must bin
    * identically for the merge to mean anything (same contract as
    * [[graft.io.Layout.zValue]]; pass table-level ranges, out-of-range
    * values clamp to the edge bins). Error <= (mx - mn) / bins, same
    * readout rule as the batch sketch (target = p * total, linear
    * interpolation inside the hit bin, last-nonempty-bin fallback).
    * NaN values are skipped like the batch path; feed non-null rows.
    */
  def groupedQuantileSketchStream(rows: Dataset[QRow],
      probs: Seq[Double], mn: Double, mx: Double,
      bins: Int = 256): Dataset[QuantEstimate] = {
    import rows.sparkSession.implicits._
    require(bins >= 1 && mx >= mn, s"bad sketch config: [$mn,$mx]/$bins")
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"quantiles must be in [0,1], got $probs")
    val width = (mx - mn) / bins
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[QRow],
         state: GroupState[Array[Double]]) =>
          val counts = state.getOption.getOrElse(new Array[Double](bins))
          it.foreach { r =>
            if (!r.value.isNaN) {
              val b =
                if (width == 0) 0
                else math.min(math.max(
                  math.floor((r.value - mn) / width).toLong, 0L),
                  bins - 1L).toInt
              counts(b) += 1.0
            }
          }
          state.update(counts)
          val total = counts.sum
          if (total == 0) Iterator.empty
          else probs.iterator.map { p =>
            val target = p * total
            var cum = 0.0; var hit = -1; var cw = 0.0; var cumAt = 0.0
            var last = -1
            var b = 0
            while (b < bins) {
              if (counts(b) > 0) {
                cum += counts(b); last = b
                if (hit < 0 && cum >= target) {
                  hit = b; cw = counts(b); cumAt = cum
                }
              }
              b += 1
            }
            if (hit < 0) { hit = last; cw = counts(last); cumAt = cum }
            val frac =
              if (cw == 0) 0.0
              else math.min(math.max((target - (cumAt - cw)) / cw, 0.0), 1.0)
            QuantEstimate(key, p, mn + (hit + frac) * width, total)
          }
      }
  }

  /** Streaming image near-dup ingest over a persisted
    * [[graft.multimodal.PhashIndex]]: each micro-batch is banded,
    * joined against the stored index (batch-vs-corpus + batch-internal
    * pairs, exact `bit_count` verification — the image table itself is
    * never read), its pairs delivered through `emit`, and the batch
    * absorbed into the index so the NEXT micro-batch pairs against it
    * too. Chunking therefore cannot change the answer: a cross-chunk
    * pair surfaces as a vs-index pair of the later chunk, so the union
    * of emissions over any monotone chunking of a batch equals the
    * one-shot [[graft.multimodal.PhashIndex.batchNearDups]] over the
    * whole batch — q210 certifies that against literally q208's
    * oracle (the shared batch/stream pattern of q185/q188, q147/q189,
    * q197/q201, q193/q206).
    *
    * Replay safety without a marker: `appendBatch` drops band rows
    * already stored (a redone append converges to the same content),
    * and a re-queried batch re-emits the same pairs — `emit` is
    * at-least-once, the standard foreachBatch contract; point it at an
    * idempotent downstream. Ids must be globally unique across corpus
    * and stream.
    */
  def phashIngestSink(stream: DataFrame, idCol: String,
      phashCol: String, indexRoot: String, maxDist: Int,
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream
      .queryName("graft-phash-ingest")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // the batch feeds banding twice (query + absorb) — evaluate
          // the source once
          Lineage.scoped { sc =>
            sc.persist(batch)
            emit(graft.multimodal.PhashIndex.batchNearDups(batch,
              idCol, phashCol, indexRoot, maxDist))
            graft.multimodal.PhashIndex.appendBatch(batch, idCol,
              phashCol, indexRoot)
          }
        }
        ()
      }

  /** Streaming image-ingest VERIFY: the full q220 path — persisted
    * phash index proposes candidates (the corpus is never re-banded),
    * the normalized pair PSNR verify decodes ONLY the candidates, and
    * per-pair pixel verdicts stream out — online. Each micro-batch of
    * `(idCol, bytes, fmt, phashCol, ...)` rows:
    *
    *   1. queries the stored index for near-dup candidates touching
    *      the batch ([[graft.multimodal.PhashIndex.batchNearDups]]);
    *   2. pixel-verifies every candidate pair against `payloads` (the
    *      stored corpus payload table) plus the batch's own payloads,
    *      with [[graft.multimodal.Multimodal.pairPsnrVerify]]
    *      (`normalizeDims` on, so rematerialized scales confirm) and
    *      `emit`s the verdict rows — a pair whose counterpart payload
    *      is in NEITHER source (e.g. an earlier micro-batch) audits
    *      `decode_ok=false`, never drops;
    *   3. absorbs the batch into the index, so later micro-batches
    *      see it — the union of emissions over any chunking equals
    *      the one-shot batch answer for corpus-side pairs (q225 is
    *      certified against LITERALLY q220's oracle, the sixth
    *      shared batch/stream pair).
    *
    * `emit` is at-least-once on failure/replay (the foreachBatch
    * contract): point it at an idempotent downstream keyed on
    * (id_a, id_b). Ids must be globally unique across corpus and
    * stream; genuinely new images produce no candidates and therefore
    * ZERO codec work.
    */
  def imageIngestVerifySink(stream: DataFrame, idCol: String,
      phashCol: String, indexRoot: String, maxDist: Int,
      payloads: DataFrame, emit: DataFrame => Unit,
      minPsnrDb: Double = 40.0)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(payloads.columns.contains("bytes") &&
      payloads.columns.contains("fmt"),
      "imageIngestVerifySink: payloads needs (id, bytes, fmt) columns")
    stream.writeStream
      .queryName("graft-image-ingest-verify")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Lineage.scoped { sc =>
            sc.persist(batch)
            val cand = graft.multimodal.PhashIndex.batchNearDups(
              batch.select(col(idCol), col(phashCol)),
              idCol, phashCol, indexRoot, maxDist)
            val both = payloads
              .select(col(idCol).cast("long").as(idCol), col("bytes"),
                col("fmt"))
              .unionByName(batch.select(
                col(idCol).cast("long").as(idCol), col("bytes"),
                col("fmt")))
            emit(graft.multimodal.Multimodal.pairPsnrVerify(both,
              idCol, cand.select(col("id_a"), col("id_b")),
              minPsnrDb = minPsnrDb, normalizeDims = true))
            graft.multimodal.PhashIndex.appendBatch(
              batch.select(col(idCol), col(phashCol)), idCol,
              phashCol, indexRoot)
          }
        }
        ()
      }
  }

  // ---- streaming monotone-run / session-position / recency ------------

  case class MonoEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class MonoOut(eventId: Long, entity: Long, ts: Timestamp,
    dir: Option[Int], run: Option[Long])
  /** prevM: last OBSERVED micro-units; prevDir/runLen: the current
    * same-direction streak (state v1).
    */
  case class MonoState(lastTsUs: Long, prevM: Option[Long],
    prevDir: Option[Int], runLen: Long)

  /** ONLINE companion of [[graft.temporal.WindowOps.monotoneRun]],
    * certified against LITERALLY q292's oracle: per event, the sign
    * of the step from the nearest prior OBSERVED reading and the
    * length of the current same-direction streak. O(1) state (one
    * carried micro-value, one direction, one counter); direction is
    * integer math on the SAME half-up micro-units as the batch op,
    * so stream, batch, and oracle agree exactly. Missing readings
    * (None) emit nulls and perturb nothing. Same source contract as
    * the other per-entity recurrences (per-entity ts-nondecreasing;
    * late data is the batch operator's backfill job).
    */
  def monotoneRunStream(events: Dataset[MonoEvent])
      : Dataset[MonoOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[MonoEvent],
         state: GroupState[MonoState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(
            MonoState(Long.MinValue, None, None, 0L))
          val out = Seq.newBuilder[MonoOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(t >= st.lastTsUs,
              s"monotoneRunStream: entity $entity got ts $t older " +
                s"than carried state ${st.lastTsUs} — source must " +
                "be per-entity ts-nondecreasing (backfill late " +
                "data with the batch monotoneRun)")
            val m = e.value.filterNot(_.isNaN)
              .map(graft.temporal.StreamingRound.halfUp6)
            m match {
              case Some(cur) => st.prevM match {
                case Some(pv) =>
                  val dir = java.lang.Long.signum(cur - pv)
                  val run = if (st.prevDir.contains(dir))
                    st.runLen + 1 else 1L
                  out += MonoOut(e.eventId, entity, e.ts,
                    Some(dir), Some(run))
                  st = MonoState(t, Some(cur), Some(dir), run)
                case None =>
                  out += MonoOut(e.eventId, entity, e.ts, None, None)
                  st = MonoState(t, Some(cur), None, 0L)
              }
              case None =>
                out += MonoOut(e.eventId, entity, e.ts, None, None)
                st = st.copy(lastTsUs = t)
            }
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class PosEvent(entity: Long, eventId: Long, ts: Timestamp)
  case class PosOut(eventId: Long, entity: Long, ts: Timestamp,
    seq: Long, usInto: Long)
  /** Current gap session: start instant, last instant, ordinal of
    * the last event (state v1).
    */
  case class PosState(lastTsUs: Long, startUs: Long, seq: Long)

  /** ONLINE companion of
    * [[graft.temporal.WindowOps.sessionPosition]], certified against
    * LITERALLY q283's oracle: the 1-based in-session ordinal and
    * exact integer micros since session start, with the same gap
    * rule as the batch sessionize (`t − prev > gapSeconds·1e6`
    * starts a new session). O(1) integer state per entity — the
    * serve-time path for "position in session" features that the
    * batch op backfills.
    */
  def sessionPositionStream(events: Dataset[PosEvent],
      gapSeconds: Long): Dataset[PosOut] = {
    import events.sparkSession.implicits._
    require(gapSeconds > 0,
      s"sessionPositionStream: gapSeconds > 0, got $gapSeconds")
    val gapUs = gapSeconds * 1000000L
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[PosEvent],
         state: GroupState[PosState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[PosOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(st == null || t >= st.lastTsUs,
              s"sessionPositionStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill " +
                "late data with the batch sessionPosition)")
            st = if (st == null || t - st.lastTsUs > gapUs)
              PosState(t, t, 1L)
            else PosState(t, st.startUs, st.seq + 1)
            out += PosOut(e.eventId, entity, e.ts, st.seq,
              t - st.startUs)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class DayEvent(entity: Long, eventId: Long, ts: Timestamp)
  case class DayOut(eventId: Long, entity: Long, ts: Timestamp,
    streakDays: Long)
  /** Last active UTC day + current consecutive-day streak
    * (state v1).
    */
  case class DayState(lastTsUs: Long, lastDay: Long, streak: Long)

  /** ONLINE companion of
    * [[graft.operators.Behavior.activeDayStreak]], certified against
    * LITERALLY q280's oracle: the running consecutive-active-day
    * streak on the exact integer `epoch_us div 86400e6` day grid —
    * same day → same streak, next day → +1, any gap → reset to 1.
    * TWO longs of state per entity (vs the batch op's distinct-day
    * frame): the serve-time "day N of your streak" register.
    */
  def activeDayStreakStream(events: Dataset[DayEvent])
      : Dataset[DayOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[DayEvent],
         state: GroupState[DayState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[DayOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(st == null || t >= st.lastTsUs,
              s"activeDayStreakStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill " +
                "late data with the batch activeDayStreak)")
            val day = math.floorDiv(t, 86400000000L)
            st = if (st == null) DayState(t, day, 1L)
              else if (day == st.lastDay) st.copy(lastTsUs = t)
              else if (day == st.lastDay + 1)
                DayState(t, day, st.streak + 1)
              else DayState(t, day, 1L)
            out += DayOut(e.eventId, entity, e.ts, st.streak)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class TrendEvent(entity: Long, eventId: Long, ts: Timestamp,
    value: Option[Double])
  case class TrendOut(eventId: Long, entity: Long, ts: Timestamp,
    trend: Option[Double])
  /** Expanding OLS registers. `stt`/`stv` exceed a Long's range
    * (Σct² reaches ~10^31 at year-long micro spans), so the four
    * sums are exact BigInt DECIMAL STRINGS — schema-stable, exact
    * at any magnitude, O(1) parse per event (state v1). `t0` is
    * the entity's first instant (the centering constant).
    */
  case class TrendState(lastTsUs: Long, t0: Long, n: Long,
    st: String, sv: String, stt: String, stv: String)

  /** ONLINE companion of
    * [[graft.temporal.WindowOps.expandingTrend]], certified against
    * LITERALLY q299's oracle: the running OLS slope (value/second)
    * over all observations so far, O(1) state per entity. The five
    * moments are exact integers (BigInt), and the emitted double
    * replays the batch path exactly: BigDecimal.doubleValue on the
    * exact numerator/denominator (the same correctly-rounded
    * conversion Spark's decimal(38,0)→double cast performs), then
    * one double division.
    */
  def expandingTrendStream(events: Dataset[TrendEvent])
      : Dataset[TrendOut] = {
    import events.sparkSession.implicits._
    def d(b: BigInt): Double =
      new java.math.BigDecimal(b.bigInteger).doubleValue
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[TrendEvent],
         state: GroupState[TrendState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[TrendOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(st == null || t >= st.lastTsUs,
              s"expandingTrendStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill " +
                "late data with the batch expandingTrend)")
            if (st == null)
              st = TrendState(t, t, 0L, "0", "0", "0", "0")
            val m = e.value.filterNot(_.isNaN)
              .map(graft.temporal.StreamingRound.halfUp6)
            m match {
              case Some(mv) =>
                val ct = BigInt(t - st.t0)
                val n = st.n + 1
                val sT = BigInt(st.st) + ct
                val sV = BigInt(st.sv) + BigInt(mv)
                val sTT = BigInt(st.stt) + ct * ct
                val sTV = BigInt(st.stv) + ct * BigInt(mv)
                st = TrendState(t, st.t0, n, sT.toString,
                  sV.toString, sTT.toString, sTV.toString)
                val num = BigInt(n) * sTV - sT * sV
                val den = BigInt(n) * sTT - sT * sT
                out += TrendOut(e.eventId, entity, e.ts,
                  if (n >= 2 && den > 0) Some(d(num) / d(den))
                  else None)
              case None =>
                st = st.copy(lastTsUs = t)
                out += TrendOut(e.eventId, entity, e.ts, None)
            }
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class FmEvent(entity: Long, eventId: Long, ts: Timestamp,
    eventType: String, value: Option[Double])
  case class FmOut(eventId: Long, entity: Long, ts: Timestamp,
    seq: Long, usInto: Long, since: Seq[Option[Long]],
    dir: Option[Int], run: Option[Long], trend: Option[Double])
  /** The composed serve-time state: session counter + per-type
    * registers + monotone streak + BigInt OLS registers — one state
    * row per entity for the WHOLE feature matrix (state v1).
    */
  case class FmState(lastTsUs: Long, startUs: Long, seq: Long,
    seen: Seq[Option[Long]], prevM: Option[Long],
    prevDir: Option[Int], runLen: Long, t0: Long, n: Long,
    st: String, sv: String, stt: String, stv: String)

  /** ONE-PASS STREAMING FEATURE MATRIX — the online companion of
    * [[graft.temporal.WindowOps.featureMatrix]], certified against
    * LITERALLY q303's composite oracle: session position,
    * recency-by-type, monotone-run momentum and the expanding OLS
    * trend updated from a SINGLE state row per entity, one state
    * read/write per event — the serve-time shape where four
    * separate stateful operators would pay four state lookups and
    * four shuffles. Each register updates exactly as its standalone
    * op does ([[sessionPositionStream]], [[recencyByTypeStream]],
    * [[monotoneRunStream]], [[expandingTrendStream]]).
    */
  def featureMatrixStream(events: Dataset[FmEvent],
      types: Seq[String], gapSeconds: Long): Dataset[FmOut] = {
    import events.sparkSession.implicits._
    require(types.nonEmpty,
      "featureMatrixStream: types must be non-empty")
    require(gapSeconds > 0,
      s"featureMatrixStream: gapSeconds > 0, got $gapSeconds")
    val gapUs = gapSeconds * 1000000L
    def d(b: BigInt): Double =
      new java.math.BigDecimal(b.bigInteger).doubleValue
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[FmEvent],
         state: GroupState[FmState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[FmOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(st == null || t >= st.lastTsUs,
              s"featureMatrixStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill " +
                "late data with the batch featureMatrix)")
            if (st == null)
              st = FmState(t, t, 0L, types.map(_ => None), None,
                None, 0L, t, 0L, "0", "0", "0", "0")
            // session position (q283 gap rule; seq 0 marks "none")
            val (startUs, seq) =
              if (st.seq == 0L || t - st.lastTsUs > gapUs) (t, 1L)
              else (st.startUs, st.seq + 1)
            // recency: emit BEFORE the register update
            val since = st.seen.map(_.map(t - _))
            val ti = types.indexOf(e.eventType)
            val seen = if (ti >= 0) st.seen.updated(ti, Some(t))
              else st.seen
            // monotone + trend share the half-up micro-units
            val m = e.value.filterNot(_.isNaN)
              .map(graft.temporal.StreamingRound.halfUp6)
            var (prevM, prevDir, runLen) =
              (st.prevM, st.prevDir, st.runLen)
            var (n, sT, sV, sTT, sTV) = (st.n, BigInt(st.st),
              BigInt(st.sv), BigInt(st.stt), BigInt(st.stv))
            var dirOut: Option[Int] = None
            var runOut: Option[Long] = None
            var trendOut: Option[Double] = None
            m.foreach { cur =>
              prevM match {
                case Some(pv) =>
                  val dir = java.lang.Long.signum(cur - pv)
                  runLen = if (prevDir.contains(dir)) runLen + 1
                    else 1L
                  prevDir = Some(dir)
                  dirOut = Some(dir); runOut = Some(runLen)
                case None => ()
              }
              prevM = Some(cur)
              val ct = BigInt(t - st.t0)
              n += 1
              sT += ct; sV += BigInt(cur)
              sTT += ct * ct; sTV += ct * BigInt(cur)
              val num = BigInt(n) * sTV - sT * sV
              val den = BigInt(n) * sTT - sT * sT
              if (n >= 2 && den > 0)
                trendOut = Some(d(num) / d(den))
            }
            out += FmOut(e.eventId, entity, e.ts, seq, t - startUs,
              since, dirOut, runOut, trendOut)
            st = FmState(t, startUs, seq, seen, prevM, prevDir,
              runLen, st.t0, n, sT.toString, sV.toString,
              sTT.toString, sTV.toString)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  case class TypeEvent(entity: Long, eventId: Long, ts: Timestamp,
    eventType: String)
  case class TypeOut(eventId: Long, entity: Long, ts: Timestamp,
    since: Seq[Option[Long]])
  /** Last-seen instant per REQUESTED type, parallel to the
    * requested-type list (state v1).
    */
  case class TypeState(lastTsUs: Long, seen: Seq[Option[Long]])

  /** ONLINE companion of
    * [[graft.temporal.WindowOps.recencyByType]], certified against
    * LITERALLY q285's oracle: per event, the exact integer micros
    * since the entity's most recent STRICTLY EARLIER event of each
    * requested type (`since` parallel to `types`). The carry
    * registers update AFTER the row emits, so an event never reads
    * itself — the same strictly-prior frame as the batch window.
    * O(|types|) state per entity.
    */
  def recencyByTypeStream(events: Dataset[TypeEvent],
      types: Seq[String]): Dataset[TypeOut] = {
    import events.sparkSession.implicits._
    require(types.nonEmpty,
      "recencyByTypeStream: types must be non-empty")
    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (entity: Long, rows: Iterator[TypeEvent],
         state: GroupState[TypeState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.eventId))
          var st = state.getOption.getOrElse(
            TypeState(Long.MinValue, types.map(_ => None)))
          val out = Seq.newBuilder[TypeOut]
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            require(t >= st.lastTsUs,
              s"recencyByTypeStream: entity $entity got ts $t " +
                s"older than carried state ${st.lastTsUs} — source " +
                "must be per-entity ts-nondecreasing (backfill " +
                "late data with the batch recencyByType)")
            out += TypeOut(e.eventId, entity, e.ts,
              st.seen.map(_.map(t - _)))
            val i = types.indexOf(e.eventType)
            val seen = if (i >= 0) st.seen.updated(i, Some(t))
              else st.seen
            st = TypeState(t, seen)
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }
}

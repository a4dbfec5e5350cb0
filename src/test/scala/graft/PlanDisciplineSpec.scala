package graft

import graft.io.ImageTable
import graft.temporal.AsOfJoin
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan discipline checks (SURVEY.md §4, §7.4 "binary payload
  * discipline"): the opaque `bytes` payload must never be read — let
  * alone shuffled — unless an operator touches it, and the metadata
  * join must broadcast.
  */
class PlanDisciplineSpec extends SparkSpec {

  private lazy val imgPath: String = {
    val p = Files.createTempDirectory("plan_imgs").toString + "/imgs"
    ImageTable.images(spark, 500).write.mode("overwrite").parquet(p)
    p
  }

  test("metadata projection prunes bytes out of the parquet scan") {
    val imgs = spark.read.parquet(imgPath)
    val q = imgs.select("image_id", "w", "h", "fmt")
      .filter(col("fmt") === "png")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"), scan)
    assert(!scan.contains("bytes"),
      s"binary payload leaked into the scan:\n$scan")
    // the fmt filter must reach the scan as a pushed filter
    assert(scan.contains("PushedFilters: [IsNotNull(fmt), EqualTo(fmt,png)]")
      || scan.contains("EqualTo(fmt,png)"), scan)
  }

  test("as-of join + metadata join never reads bytes; meta join broadcasts") {
    val imgs = spark.read.parquet(imgPath)
    val evs = ImageTable.events(spark, 500, 3)
    val snaps = ImageTable.snapshots(spark, 500)
    val pit = AsOfJoin.join(evs, snaps, entity = "image_id",
      leftTs = "event_ts", rightTs = "feature_ts")
    val meta = imgs.select("image_id", "w", "h", "fmt", "caption")
    val out = pit.join(broadcast(meta), Seq("image_id"), "left")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("bytes"),
      s"binary payload entered the feature plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // exactly one hash exchange: the as-of union window on image_id
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("forward as-of join also plans exactly one hash exchange") {
    val evs = ImageTable.events(spark, 500, 3)
    val snaps = ImageTable.snapshots(spark, 500)
    val fwd = AsOfJoin.joinForward(evs, snaps, entity = "image_id",
      leftTs = "event_ts", rightTs = "feature_ts")
    val plan = fwd.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    // the frame flip must not introduce a sort beyond the window's own
    assert(!plan.contains("SinglePartition"), plan.take(600))
  }

  test("joinNearest: backward and forward carries share ONE exchange " +
      "and one sort (same partitioning and ordering for both frames)") {
    val evs = ImageTable.events(spark, 500, 3)
    val snaps = ImageTable.snapshots(spark, 500)
    val near = AsOfJoin.joinNearest(evs, snaps, entity = "image_id",
      leftTs = "event_ts", rightTs = "feature_ts")
    val plan = near.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert("Sort ".r.findAllIn(plan).size <= 2, // window sort only
      s"the dual frames must not add sorts:\n${plan.take(800)}")
    assert(!plan.contains("SinglePartition"), plan.take(600))
  }

  test("the as-of union exchange ships the entity and the event ts once: " +
      "the left payload struct holds neither, for all three joins") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StructType
    object plans extends AdaptiveSparkPlanHelper
    val evs = ImageTable.events(spark, 500, 3)
    val snaps = ImageTable.snapshots(spark, 500)
    Seq(
      "join" -> AsOfJoin.join(evs, snaps, entity = "image_id",
        leftTs = "event_ts", rightTs = "feature_ts"),
      "joinForward" -> AsOfJoin.joinForward(evs, snaps,
        entity = "image_id", leftTs = "event_ts", rightTs = "feature_ts"),
      "joinNearest" -> AsOfJoin.joinNearest(evs, snaps,
        entity = "image_id", leftTs = "event_ts", rightTs = "feature_ts",
        hotEntities = Seq("img_0000000001"))).foreach { case (op, out) =>
      val payloads = plans.collect(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.child.output
          .filter(_.name == "__l").map(_.dataType)
      }.flatten
      assert(payloads.size == 1, s"$op: one union exchange carries __l")
      val fields = payloads.head.asInstanceOf[StructType].fieldNames.toSet
      assert(fields == Set("event_id", "target"),
        s"$op: the exchange's __l holds $fields")
      assert(out.columns.toSeq == evs.columns.toSeq ++
        Seq("caption_at", "phash_at", "feat", "matched_ts"), op)
    }
  }

  test("resampleBars: bar agg + grid window are exactly TWO key " +
      "exchanges (bars ride the shuffle, not readings); no join, no " +
      "single-partition stage") {
    val evs = ImageTable.events(spark, 500, 3)
    val out = graft.temporal.WindowOps.resampleBars(evs, "image_id",
      "event_ts", "target", widthSeconds = 3600L)
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    // map-side partial agg before the first exchange: the shuffle
    // carries |bars|, not |readings| (min_by/max_by with a struct
    // ordering key lower to SortAggregate — still partial+final
    // around the exchange)
    assert("(SortAggregate|ObjectHashAggregate|HashAggregate)".r
      .findAllIn(plan).size >= 2, plan.take(800))
    assert(plan.contains("partial_min_by"), plan.take(800))
    assert(!plan.contains("Join") && !plan.contains("SinglePartition"),
      plan.take(800))
  }

  test("multiHorizon: one hash exchange per horizon (the as-of union " +
      "window each), no cartesian, no single-partition stage") {
    val evs = ImageTable.events(spark, 500, 3)
    val snaps = ImageTable.snapshots(spark, 500)
    val out = AsOfJoin.multiHorizon(evs, snaps, entity = "image_id",
      leftTs = "event_ts", horizonsSeconds = Seq(0L, 3600L, 86400L),
      rightTs = "feature_ts")
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 3, s"expected 3 exchanges, got $exchanges")
    assert(!plan.contains("Cartesian") && !plan.contains("SinglePart"),
      plan.take(600))
  }

  test("intervalFeatures: the feed cumulative is ONE window exchange, " +
      "lookups are as-of unions, the global mean is a broadcast — " +
      "never a per-event feed scan or cartesian blowup") {
    val evs = ImageTable.events(spark, 500, 3)
    val snaps = ImageTable.snapshots(spark, 500)
      .withColumn("v", col("feature_ts").cast("long").cast("double"))
    val out = AsOfJoin.intervalFeatures(evs, snaps,
      entity = "image_id", leftTs = "event_ts",
      windowsSeconds = Seq(3600L), rightTs = "feature_ts",
      valueCol = Some("v"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    // the only nested-loop is the 1-row global-mean attach
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl <= 1, s"expected <= 1 broadcast-literal attach, got $bnl")
    // bounded exchanges: cum window + groupBy + 2 as-of unions (+AQE
    // variance) — the point is it does NOT grow with events x feed
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 5, s"unexpected exchange count $exchanges")
  }

  test("behavioral profile matrix over an entity-bucketed log " +
      "plans ZERO shuffle exchanges (four rollups + three joins " +
      "all ride the bucket partitioning)") {
    val d = df("user_id STRING, ts TIMESTAMP, event_id BIGINT, " +
      "event_type STRING", Seq(
      org.apache.spark.sql.Row("u1",
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a"),
      org.apache.spark.sql.Row("u1",
        java.sql.Timestamp.valueOf("2024-01-01 10:00:10"), 2L, "b")))
    val name = s"plan_profile_bucketed_${System.nanoTime()}"
    graft.io.BucketedTable.write(d, name, "user_id", 4)
    val plan = graft.operators.Behavior.profileMatrix(
      graft.io.BucketedTable.read(spark, name),
      "user_id", "ts", "event_type", Seq("event_id"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      plan)
  }

  test("stacked session-position + gap-surprise + forward-label ops " +
      "share ONE entity exchange (hash(user) satisfies the " +
      "(user, session) clustering)") {
    import graft.temporal.WindowOps
    val d = df("u STRING, ts TIMESTAMP, id BIGINT, t STRING", Seq(
      org.apache.spark.sql.Row("u1",
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a")))
    val composed = WindowOps.timeToNextType(
      WindowOps.gapSurprise(
        WindowOps.sessionPosition(d, "u", "ts", 1800L, Seq("id")),
        "u", "ts", Seq("id")),
      "u", "ts", "t", Seq("a"), Seq("id"))
    val plan = composed.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan)
  }

  test("payload query reads bytes only when asked") {
    val imgs = spark.read.parquet(imgPath)
    val q = imgs.select(col("image_id"), length(col("bytes")).as("len"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("bytes"), scan)
  }

  test("phash near-dup never reads payload bytes from the scan") {
    val imgs = spark.read.parquet(imgPath)
    val q = graft.multimodal.Multimodal.phashNearDups(
      imgs, "image_id", "phash", maxDist = 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("bytes"),
      s"image dedup must move only the phash column:\n$plan")
  }

  test("winnowing is a map-only kernel pass: zero exchanges") {
    val p = Files.createTempDirectory("plan_docs").toString + "/docs"
    spark.range(0, 50)
      .selectExpr("id AS doc_id",
        "repeat(concat('tok', CAST(id AS STRING), ' '), 30) AS text")
      .write.mode("overwrite").parquet(p)
    val q = graft.text.TextOps.winnowFingerprints(
      spark.read.parquet(p), "doc_id", "text")
    val plan = q.queryExecution.executedPlan.toString
    // round 6: the per-partition kernel computes gram hashes, window
    // minima AND the per-doc fingerprint dedup inside the scan task —
    // distinct (doc_id, fp) pairs dedup entirely within a document,
    // so no HASH exchange may appear (no per-doc window, no global
    // distinct). The only exchange ever allowed is the adaptive
    // round-robin input spread for narrow scans (this tiny fixture
    // triggers it).
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(hashEx == 0 && rangeEx == 0,
      s"expected no hash/range exchanges, got $hashEx/$rangeEx:\n$plan")
  }

  test("columns-over-row horizontal aggregates stay codegen'd and " +
      "null-ignoring") {
    import org.apache.spark.sql.Row
    val d = df("a DOUBLE, b DOUBLE, c DOUBLE", Seq(
      Row(1.0, 2.0, 6.0), Row(null, 4.0, 2.0), Row(null, null, null)))
    val t = new graft.operators.AggregateColumnsOverRowTransformer(
      Seq("a", "b", "c"), Seq("min", "max", "sum", "mean"))
    val out = t.transform(d)
    val rows = out.orderBy(col("a").asc_nulls_last, col("b").asc_nulls_last)
      .collect()
    def g(r: Row, n: String): Option[Double] =
      Option(r.getAs[Any](n)).map(_.asInstanceOf[Double])
    assert(g(rows(0), "a_b_c_min") == Some(1.0) &&
      g(rows(0), "a_b_c_max") == Some(6.0) &&
      g(rows(0), "a_b_c_sum") == Some(9.0) &&
      g(rows(0), "a_b_c_mean") == Some(3.0))
    assert(g(rows(1), "a_b_c_min") == Some(2.0) && // nulls ignored
      g(rows(1), "a_b_c_sum") == Some(6.0) &&
      g(rows(1), "a_b_c_mean") == Some(3.0))
    assert(g(rows(2), "a_b_c_sum").isEmpty &&      // all-null -> null
      g(rows(2), "a_b_c_mean").isEmpty)
    // no interpreted higher-order lambda: the projection must sit
    // inside WholeStageCodegen
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"),
      s"interpreted HOF left in the horizontal fold:\n$plan")
  }

  test("rows-over-column aggregates plan as agg + broadcast join, " +
      "never a window") {
    // per-key scalars need no window: the unbounded-frame formulation
    // exchanges AND sorts every row of every key (and an in-window
    // exact percentile buffers whole groups in single tasks). The
    // transform must be one groupBy + a broadcast join-back with ZERO
    // exchange on the data side.
    import org.apache.spark.sql.Row
    val d = df("k BIGINT, v DOUBLE", Seq(
      Row(1L, 1.0), Row(1L, 2.0), Row(1L, 3.0), Row(2L, 5.0)))
    val t = new graft.operators.AggregateRowsOverColumnTransformer(
      Seq("v"), Seq("min", "median", "count"), key = "k")
    val out = t.transform(d)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"no window expected:\n$windows")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // and the values are still right (median of {1,2,3} = 2, {5} = 5)
    val got = out.orderBy("k", "v").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("v_median"))).distinct.toSeq
    assert(got == Seq((1L, 2.0), (2L, 5.0)))
  }

  test("z-order key is a codegen'd projection; layout adds exactly " +
      "one range exchange") {
    val imgs = spark.read.parquet(imgPath)
      .select(col("image_id"), col("w"), col("h"))
    val q = graft.io.Layout.zorder(imgs, Seq("w", "h"), bits = 8)
    val plan = q.queryExecution.executedPlan.toString
    // the interleave fold must stay inside codegen (no interpreted
    // lambdas), and the only exchange is the range repartition
    assert(!plan.contains("lambdafunction"), plan)
    val range = "Exchange rangepartitioning".r.findAllIn(plan).size
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(range == 1 && hash == 0,
      s"expected 1 range / 0 hash exchanges, got $range/$hash:\n$plan")
  }

  test("hashed TF vectorizer plans one exchange with map-side " +
      "partial aggregation") {
    val p = Files.createTempDirectory("plan_htf").toString + "/docs"
    spark.range(0, 50)
      .selectExpr("id AS doc_id",
        "repeat(concat('tok', CAST(id % 7 AS STRING), ' '), 20) AS text")
      .write.mode("overwrite").parquet(p)
    val q = graft.text.TextOps.hashedTfVector(
      spark.read.parquet(p), "doc_id", "text", 64)
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    // partial_sum before the exchange = map-side combine: the shuffle
    // carries <= |docs| x numFeatures rows, not one row per token
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"no map-side partial aggregation:\n$plan")
  }

  private lazy val docPath: String = {
    val p = Files.createTempDirectory("plan_docs").toString + "/docs"
    spark.range(0, 80)
      .selectExpr("id AS doc_id",
        "repeat(concat('w', CAST(id % 9 AS STRING), ' '), 30) AS text")
      .write.mode("overwrite").parquet(p)
    p
  }

  test("span dedup: equi-joins only (no BNLJ/cartesian), dup-gram " +
      "count is map-side combined, no single-partition stage") {
    // the distributed plan (threshold -1): a small input is otherwise
    // finished on the driver
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val plan = try graft.text.SpanDedup.duplicatedSpans(
      spark.read.parquet(docPath), "doc_id", "text", 8)
      .queryExecution.executedPlan.toString
    finally spark.conf.set(key, prev)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("SinglePartition"), plan.take(800))
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"no map-side combine on the gram counts:\n$plan")
  }

  test("span dedup removeDuplicatedSpans: reassembly is a per-row " +
      "kernel, not a token explode (round 6: no Generate and no " +
      "anti-join outside the gram cache)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.catalog.clearCache()
    val q = graft.text.SpanDedup.removeDuplicatedSpans(
      spark.read.parquet(docPath), "doc_id", "text", 8)
    def count(p: SparkPlan)(f: SparkPlan => Boolean): Int = p match {
      case _: InMemoryTableScanExec => if (f(p)) 1 else 0
      case n => (if (f(n)) 1 else 0) + n.children.map(count(_)(f)).sum
    }
    val plan = q.queryExecution.sparkPlan
    assert(count(plan)(_.isInstanceOf[GenerateExec]) == 0,
      s"token/coverage explode resurfaced outside the gram cache:\n$plan")
    val planStr = plan.toString
    assert(!planStr.contains("LeftAnti"),
      s"anti-join reassembly resurfaced:\n$planStr")
    assert(planStr.contains("MapPartitions"),
      s"kernel reassembly missing:\n$planStr")
    spark.catalog.clearCache()
  }

  test("span dedup duplicationRatio: ONE gram scan feeds the dup " +
      "aggregates (dup count + join-back read the persisted gram " +
      "frame; totals is a length projection; no Generate outside " +
      "the cache)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.catalog.clearCache()
    val q = graft.text.SpanDedup.duplicationRatio(
      spark.read.parquet(docPath), "doc_id", "text", 8)
    // count nodes WITHOUT descending into the cached relation: every
    // gram consumer must be an InMemoryTableScan of the gram cache,
    // and the expensive posexplode (Generate) must live ONLY inside
    // it (round 6: the per-doc totals no longer read grams at all —
    // they are a closed-form length projection off the document row)
    def count(p: SparkPlan)(f: SparkPlan => Boolean): Int = p match {
      case _: InMemoryTableScanExec => if (f(p)) 1 else 0
      case n => (if (f(n)) 1 else 0) + n.children.map(count(_)(f)).sum
    }
    val plan = q.queryExecution.sparkPlan
    val scans = count(plan)(_.isInstanceOf[InMemoryTableScanExec])
    val gens = count(plan)(_.isInstanceOf[GenerateExec])
    assert(scans >= 2, s"expected >=2 cache reads, got $scans:\n$plan")
    assert(gens == 0,
      s"gram posexplode recomputed outside the cache:\n$plan")
    // and the values still agree with a from-scratch recompute
    val viaCache = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    assert(viaCache.nonEmpty)
    assert(viaCache.exists(_._3 > 0),
      "fixture has duplicated windows by construction")
  }

  test("flagship fit cache is the NARROW fit projection: no payload " +
      "or transform-only columns ever enter the persisted frame") {
    val joined = graft.Flagship.joinedInput(spark, 200L, 2)
    val pipe = graft.Flagship.pipelineDef()
    val fitCols = graft.Flagship.fitProjection(pipe, joined)
      .columns.toSet
    // what the fit passes read (per fitInputCols) + the filter key
    assert(fitCols == Set("w", "h", "feat", "fmt", "caption_word",
      "target", "matched_ts", "event_ts"))
    // the wide columns the 10M-row cache build used to choke on stay
    // out; if a new pipeline step needs one of these, fitProjection
    // picks it up automatically from its fitInputCols
    Seq("caption", "phash_at", "caption_at", "image_id", "event_id")
      .foreach(c => assert(!fitCols.contains(c), s"wide col $c cached"))
    // and the pruned fit input still fits the pipeline
    pipe.fit(graft.Flagship.fitProjection(pipe, joined))
    assert(pipe.steps.forall(_._2.isFitted))
  }

  test("CMS counter build is ONE map-side-combined exchange (bounded " +
      "by depth x width partials regardless of input rows)") {
    val toks = spark.read.parquet(docPath)
      .select(explode(split(col("text"), " ")).as("token"))
    val q = graft.core.Sketch.cmsCounters(toks, "token", 4, 64)
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"no map-side partial aggregation:\n$plan")
  }

  test("mixture sample: totals join back broadcast, data side never " +
      "exchanges") {
    val q = graft.text.TextOps.mixtureSample(
      spark.read.parquet(docPath)
        .selectExpr("doc_id", "CAST(doc_id % 3 AS STRING) AS lang",
          "text", "30 AS n_tok"),
      "lang", "doc_id", "n_tok", Map("0" -> 0.5, "1" -> 0.5), 500L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // the only exchanges feed the |strata|-row totals aggregation and
    // its broadcast — the raw-rows side must not hash-exchange, so any
    // hashpartitioning exchanges must sit under the aggregate side
    // (bounded rows), which shows as at most one exchange total here
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"data side exchanged:\n$plan")
  }

  test("IVF embedding near-dup: assignment is a projection (no window, " +
      "no join before the cell join), no cartesian anywhere") {
    val e = spark.range(0, 200).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(xxhash64(col("id") % 4, i), lit(2000)).cast("double")
          / 1000.0 - 1.0).cast("float")).as("embedding"))
    val out = graft.dedup.Dedup.embeddingNearDupsIvf(e, "id",
      "embedding", nSeeds = 4, threshold = 0.9)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // the only window-free shape: cells come from a fold projection,
    // so no Window operator may exist in the whole plan
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("keep-best cluster dedup: selection is a partial-aggregated " +
      "max_by, never a per-cluster window sort") {
    val data = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).cast("double").as("sc"))
    val edges = spark.range(0, 400)
      .select(col("id").as("a"), (col("id") + 400).as("b"))
    val out = graft.dedup.Components.dedupByComponentsBest(
      data, "id", edges, "a", "b", "sc")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by"),
      s"selection lost its map-side combine:\n${plan.take(1200)}")
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("containment: candidate + verify joins are equi-joins only") {
    val d = spark.range(0, 100).selectExpr("id AS doc_id",
      "concat('w', id % 5, ' x', id % 7, ' y', id % 3, ' z', id % 11, " +
        "' v', id % 13) AS text")
    val out = graft.dedup.Dedup.containmentPairs(d, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = 50)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("HLL register build is ONE map-side-combined exchange (bounded " +
      "by 2^p partials regardless of input rows); readout adds none") {
    val toks = spark.read.parquet(docPath)
      .select(explode(split(col("text"), " ")).as("token"))
    val regs = graft.core.Hll.hllRegisters(toks, "token", p = 9)
    val plan = regs.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("Partial"),
      s"no map-side partial aggregation:\n${plan.take(1200)}")
    assert(!plan.contains("Window"), plan.take(1200))
  }

  test("L2 normalize and JSON extraction are shuffle-free projections") {
    val e = spark.range(0, 100).selectExpr("id",
      "array(CAST(id AS FLOAT), CAST(id + 1 AS FLOAT)) AS v",
      """concat('{"k": ', id, '}') AS props""")
    val norm = new graft.operators.VectorL2NormalizeTransformer(Seq("v"))
      .transform(e)
    val ext = new graft.operators.JsonFieldExtractor("props",
      Seq(("k", "$.k", "Int64"))).transform(e)
    Seq(norm, ext).foreach { q =>
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"stateless projection shuffled:\n${plan.take(800)}")
    }
  }

  test("context-block packing: block math is integral divide, no " +
      "single-partition stage") {
    val d = spark.range(0, 1000).selectExpr("id", "id % 7 AS tok")
    val out = graft.text.Sharding.packContextBlocks(d, "id", "tok", 64L)
    val analyzed = out.queryExecution.analyzed.toString
    assert(analyzed.contains(" div ") || analyzed.contains("div("),
      s"block index lost the integral divide:\n${analyzed.take(800)}")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("hashpartitioning(1)"), plan.take(800))
  }

  test("cluster-size weights: bounded groupBy + join back, no window, " +
      "no cartesian") {
    val docs = spark.range(0, 200).selectExpr("id")
    val edges = spark.range(0, 40)
      .selectExpr("id AS a", "id + 100 AS b")
    val out = graft.dedup.Components
      .clusterSizeWeights(docs, "id", edges, "a", "b")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"cluster sizing lost its map-side combine:\n${plan.take(1200)}")
  }

  test("Yeo-Johnson fit is ONE fused aggregation (all 17 candidates " +
      "in a single pass); transform is a shuffle-free projection") {
    val d = spark.range(0, 5000)
      .selectExpr("CAST(id % 97 AS DOUBLE) - 20.0 AS v")
    val t = new graft.operators.YeoJohnsonTransformer(Seq("v"))
    // count the jobs the fit runs via a listener: one agg = one job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { t.fit(d); Thread.sleep(300) }
    finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() <= 2, s"fit ran ${jobs.get()} jobs, expected 1-2")
    val plan = t.transform(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"transform shuffled:\n${plan.take(600)}")
  }

  test("per-group quantile gate: threshold side is a bounded agg, " +
      "no window over the corpus, no cartesian") {
    val d = spark.range(0, 2000)
      .selectExpr("CAST(id % 5 AS STRING) AS k",
        "CAST(id % 131 AS DOUBLE) AS v")
    val out = graft.operators.GroupOps
      .filterByGroupQuantile(d, "k", "v", prob = 0.75)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("gapStats: the groupBy rollup reuses the window's entity " +
      "partitioning — ONE exchange end to end") {
    val d = spark.range(0, 2000)
      .selectExpr("CAST(id % 7 AS STRING) AS e",
        "timestampadd(SECOND, CAST(id AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00') AS ts")
    val out = graft.temporal.WindowOps.gapStats(d, "e", "ts")
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n" +
      plan.take(1500))
    // and the rollup is a real partial aggregation
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("composed training table (q200 shape): three hash exchanges " +
      "(as-of on entity, encoder on type, entity windows reuse one), " +
      "no cartesian, assembly is pure projection") {
    val ev = ImageTable.events(spark, 300, 4)
      .withColumnRenamed("image_id", "user_id")
      .withColumnRenamed("event_ts", "ts")
      .withColumn("event_type",
        when(col("target") > 0.5, "purchase").otherwise("view"))
      .withColumn("value", col("target") * 10)
      .withColumn("event_id", monotonically_increasing_id())
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("pv"))
    val pit = AsOfJoin.join(ev, purch, entity = "user_id",
      leftTs = "ts", rightTs = "ts", rightValueCols = Seq("pv"))
    val out = graft.operators.Assemble.features(
      graft.temporal.WindowOps.timeToNextEvent(
        graft.temporal.WindowOps.rollingQuantile(
          graft.temporal.WindowOps.expandingMean(
            pit, "event_type", "ts", "value", out = "et_mean"),
          "user_id", "ts", "value", k = 7, q = 0.5, out = "med7"),
        "user_id", "ts", col("event_type") === "purchase", 86400L),
      Seq("pv", "et_mean", "med7"))
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"expected <= 3 exchanges, got $exchanges")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SinglePartition"), plan.take(1000))
  }

  test("skewReport: map-side-combined counts, no window, no sort " +
      "of raw rows, no cartesian") {
    val d = spark.range(0, 2000)
      .selectExpr("CAST(id % 3 AS STRING) AS k",
        "CAST(id AS STRING) AS o")
    val out = graft.operators.Profile.skewReport(d, Seq("k", "o"),
      shareThreshold = 0.01, partitions = 16)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      plan.take(1200))
    // melt -> partial count -> final count: >= 2 HashAggregates
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("phash index query: one batch banding reused across both " +
      "joins, equi-joins only, image payload never read") {
    val root = Files.createTempDirectory("plan_phashidx").toString
    val imgs = spark.read.parquet(imgPath)
      .selectExpr("CAST(substring(image_id, 5) AS BIGINT) AS id",
        "phash")
    graft.multimodal.PhashIndex.build(imgs, "id", "phash", root)
    val batch = imgs.limit(50)
      .selectExpr("id + 1000000 AS id", "phash")
    // the stored side never broadcasts at production scale, and a
    // large batch does not either; disable the test-scale
    // auto-broadcast so the exchange-reuse shape is the one such a
    // batch plans
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = graft.multimodal.PhashIndex.batchNearDups(batch, "id",
        "phash", root, maxDist = 3)
      q.collect() // AQE applies exchange reuse in the FINAL plan
      q.queryExecution.executedPlan.toString
    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", prevBc)
    // vs-corpus and within-batch both key off the ONE (band, bits)
    // repartition of the batch banding
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage") ||
      "REPARTITION_BY_COL".r.findAllIn(plan).size <= 1,
      s"batch banding must be computed once:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(1200))
    assert(!plan.contains("bytes"),
      s"index query must never read the image table:\n${plan.take(1200)}")
  }

  /** Every chain from `plan` down to a parquet scan of a path
    * containing `pathPart`, scan first — walking through adaptive
    * stages, reused exchanges and the physical plans of cached
    * relations.
    */
  private def scanChains(plan: org.apache.spark.sql.execution.SparkPlan,
      pathPart: String)
      : Seq[List[org.apache.spark.sql.execution.SparkPlan]] = {
    import org.apache.spark.sql.execution._
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: adaptive.QueryStageExec => Seq(q.plan)
      case r: exchange.ReusedExchangeExec => Seq(r.child)
      case i: columnar.InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case o => o.children
    }
    def go(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = p :: above
      val self = p match {
        case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains(pathPart)) => Seq(here)
        case _ => Seq.empty
      }
      self ++ kids(p).flatMap(go(_, here))
    }
    go(plan, Nil)
  }

  /** The nearest exchange or join above the scan at the head of
    * `chain`.
    */
  private def firstBarrier(
      chain: List[org.apache.spark.sql.execution.SparkPlan]) =
    chain.tail.find {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
      case _ => false
    }

  test("minhash index probe: a small batch reads the stored bands and " +
      "the corpus text map-side with no exchange above either scan; " +
      "with broadcast off it still plans equi-joins only") {
    import graft.dedup.MinhashIndex
    import org.apache.spark.sql.execution.SparkPlan
    val dir = Files.createTempDirectory("plan_mhidx").toString
    val corpusPath = s"$dir/corpus_text"
    spark.range(1, 201).selectExpr("id AS doc_id",
        "concat('document ', id, ' about topic ', id % 7, " +
          "' with shared words and token', id, ' tail') AS text")
      .write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    MinhashIndex.build(corpus, "doc_id", "text", s"$dir/index")
    // near-copies of the first 20 corpus docs, built apart from the
    // corpus file (every scan of that file is then a corpus-side
    // scan) and backed by an RDD, whose size the planner cannot
    // estimate — like a batch that arrives through joins or a stream
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(
      (1 to 20).map(i => org.apache.spark.sql.Row(i + 1000L,
        s"$i about topic ${i % 7} with shared words and token$i tail"))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
    /** The executed plan of every SQL action the probe runs. */
    def plansOf(): Seq[SparkPlan] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = { plans.add(qe.executedPlan); () }
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        val pairs = MinhashIndex.batchNearDups(batch, corpus, "doc_id",
          "text", s"$dir/index", 0.5)
        assert(pairs.count() > 0)
        drainListenerBus()
      } finally spark.listenerManager.unregister(l)
      import scala.jdk.CollectionConverters._
      plans.asScala.toList
    }
    val plans = plansOf()
    for (part <- Seq("bands/runs", "corpus_text")) {
      val chains = plans.flatMap(scanChains(_, part))
      assert(chains.nonEmpty, s"no scan of $part in:\n${plans.mkString("\n")}")
      chains.foreach { c =>
        assert(!c.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.exchange.Exchange]),
          s"$part must not feed an exchange:\n${c.last}")
      }
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val noBc = try { spark.conf.set(key, "-1"); plansOf() }
      finally spark.conf.set(key, prev)
    val all = noBc.flatMap(scanChains(_, "bands/runs")).flatten ++
      noBc.flatMap(scanChains(_, "corpus_text")).flatten
    assert(all.nonEmpty)
    assert(all.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.ShuffledJoin]),
      noBc.mkString("\n"))
    assert(!all.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")), noBc.mkString("\n"))
    noBc.foreach { p =>
      assert(!p.toString.contains("CartesianProduct") &&
        !p.toString.contains("BroadcastNestedLoop"), p.toString)
    }
  }

  test("pairPsnrVerify: candidate ids broadcast into the corpus scan " +
      "— the corpus never shuffles for a bounded pair set") {
    val imgs = spark.read.parquet(imgPath)
      .selectExpr("CAST(substring(image_id, 5) AS BIGINT) AS id",
        "bytes", "fmt")
    val pairs = imgs.select("id").limit(6)
      .selectExpr("id AS id_a", "id + 1 AS id_b")
    val q = graft.multimodal.Multimodal.pairPsnrVerify(imgs, "id", pairs)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the semi-join restricting the corpus to candidate ids must be a
    // broadcast (id-list side), not a corpus shuffle
    assert(plan.contains("BroadcastHashJoin") &&
      plan.toLowerCase.contains("leftsemi"),
      s"corpus restriction must be a broadcast semi join:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(1200))
  }

  test("whole-row rank/pack layouts refuse binary payload columns") {
    val imgs = spark.read.parquet(imgPath) // carries bytes
    val e1 = intercept[IllegalArgumentException] {
      graft.multimodal.Multimodal.packPatchBlocks(imgs, "image_id",
        "w", "h", "caption", patch = 14, blockSize = 256)
    }
    assert(e1.getMessage.contains("bytes"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.multimodal.AspectBatch.snapToLadder(imgs, "image_id",
        "w", "h", Seq((512, 512)), 8)
    }
    assert(e2.getMessage.contains("bytes"), e2.getMessage)
  }

  test("exifNormalizePlan is a pure projection: no exchange, bytes " +
      "pruned when unselected") {
    val imgs = spark.read.parquet(imgPath)
      .select(col("image_id"), col("w"), col("h"),
        (pmod(col("phash"), lit(8L)) + 1).cast("int").as("o"))
    val q = graft.multimodal.Batching.exifNormalizePlan(
      imgs, "o", "w", "h")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"orientation plan must not shuffle:\n$plan")
    assert(!plan.contains("bytes"),
      s"binary payload leaked into the plan:\n$plan")
  }

  test("contrastiveBatches: ONE data exchange on the cluster key, " +
      "no global sort") {
    val imgs = spark.read.parquet(imgPath)
      .select(col("image_id"), pmod(col("phash"), lit(97L)).as("cl"))
    val q = graft.multimodal.Batching.contrastiveBatches(
      imgs, "image_id", "cl", 32)
    val plan = q.queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"expected 1 hash exchange, got $ex:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"global single-partition/range stage in the batch plan:\n$plan")
    assert(!plan.contains("bytes"), plan)
  }

  test("captionPadBatches: ONE data exchange on the bucket key") {
    val imgs = spark.read.parquet(imgPath)
      .select("image_id", "caption")
    val q = graft.multimodal.Batching.captionPadBatches(
      imgs, "image_id", "caption", 8, 16)
    val plan = q.queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"expected 1 hash exchange, got $ex:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("repetitionPlan and sourceQuotaPlan aggregate map-side " +
      "(partial_ before the exchange)") {
    val docs = spark.range(0, 2000)
      .selectExpr("id AS doc_id", "CAST(id % 7 AS STRING) AS src",
        "id % 100 AS tok")
    val q = graft.text.TextOps.repetitionPlan(docs, "src", "tok",
      Map("0" -> 1000), 10000L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"),
      s"repetitionPlan agg must map-side combine:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"expected 1 exchange, got $ex:\n$plan")
  }

  test("splitLeakageMatrix: hash joins only — no cartesian, no " +
      "nested loop on the pair graph") {
    val assign = spark.range(0, 1000)
      .selectExpr("CAST(id AS STRING) AS id",
        "CASE WHEN id % 10 < 8 THEN 'train' ELSE 'test' END AS split")
    val pairs = spark.range(0, 500)
      .selectExpr("CAST(id AS STRING) AS id_a",
        "CAST(id + 1 AS STRING) AS id_b")
    val q = graft.dedup.Components.splitLeakageMatrix(
      pairs, assign, "id_a", "id_b", "id", "split")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(1500))
  }

  test("alignmentGate is a shuffle-free projection; bytes stay " +
      "pruned from the scan") {
    val imgs = spark.read.parquet(imgPath)
    val withEmb = imgs.select(col("image_id"),
      transform(sequence(lit(1), lit(8)),
        i => pmod(col("phash"), i.cast("long") + 1).cast("float"))
        .as("ie"),
      transform(sequence(lit(1), lit(8)),
        i => pmod(col("phash") + 3, i.cast("long") + 2).cast("float"))
        .as("ce"))
    val q = graft.multimodal.Multimodal.alignmentGate(
      withEmb, "ie", "ce", 0.5)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"alignment gate must not shuffle:\n$plan")
    assert(!plan.contains("bytes"),
      s"binary payload leaked into the gate plan:\n$plan")
  }

  test("joinWithFallback: ONE spine hash exchange (the entity as-of " +
      "union) + ONE bounded group-feed agg; the group pass broadcasts") {
    val spine = spark.range(1000).select(col("id").as("eid"),
      (col("id") % 50).as("e"), (col("id") % 7).as("g"),
      timestamp_seconds(col("id") * 60).as("ts"))
    val ef = spark.range(200).select((col("id") % 50).as("e"),
      timestamp_seconds(col("id") * 300).as("ts"),
      (col("id") * 2.0).as("f"))
    val gf = spark.range(70).select((col("id") % 7).as("g"),
      timestamp_seconds(col("id") * 600).as("ts"),
      (col("id") * 3.0).as("f"))
    val out = AsOfJoin.joinWithFallback(spine, ef, gf, "e", "g",
      Seq("f"), toleranceSeconds = Some(3600))
    val plan = out.queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    // 1 = entity-pass union window on the spine; 2 = the group feed's
    // own history aggregation (bounded by |groups x ts|, never spine
    // rows). The spine is shuffled exactly ONCE.
    assert(ex == 2, s"expected 2 hash exchanges, got $ex:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"group fallback pass must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"global stage in the fallback plan:\n$plan")
  }
}

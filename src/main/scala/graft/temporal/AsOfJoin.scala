package graft.temporal

import graft.core.DriverFinish
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Point-in-time (as-of) join: for each left row (entity, ts), attach
  * the latest right row with right.entity == left.entity and
  * right.ts <= left.ts (strict < available for leakage-free label
  * generation). Not present in the reference (tubular has no joins —
  * only the internal row-index zip at tubular/base.py:450-462); mandated
  * by BASELINE.json north_rule.
  *
  * == Strategies ==
  *
  * `union` (default, scales to arbitrary right-side size):
  * tag both sides, union, then one
  * `Window.partitionBy(entity).orderBy(ts, side)` with a
  * last(_, ignoreNulls) running carry-forward. Exactly ONE hash
  * exchange on entity + one sort (ts, side) — Spark's own
  * sort-merge-join machinery couldn't do an inequality-latest join in
  * fewer shuffles. All right-hand value columns ride the same window
  * spec, so Catalyst plans a single Window node.
  *
  * What rides that exchange, each key once: `__e` (entity), `__t` (ts),
  * the side and salt tags, `__l` (a struct of the left columns other
  * than the entity and the left ts; null on right rows) and `__r` (the
  * right value columns + the matched ts; null on left rows). The
  * output's entity and left ts are rebuilt from `__e`/`__t`. A left key
  * whose type differs from the unioned key's (an int entity against a
  * bigint one, a date ts against a timestamp: the union widens it)
  * also stays in `__l`, so the output keeps the left's values and
  * types. Output names, order, types and nullability do not depend on
  * which keys were rebuilt. Each call logs one `asof.plan` line at INFO
  * (strategy, hot keys, salt buckets, shipped and rebuilt columns).
  *
  * `broadcast` (small right side): right side is grouped per entity
  * into a ts-sorted array of structs, broadcast-hash-joined, and probed
  * with `filter(arr, r -> r.ts <= l.ts)[-1]` — zero shuffle on the
  * (huge) left side. Use when the right side fits the broadcast
  * threshold (dimension-style feature tables).
  *
  * == Skew ==
  *
  * Hot entities (celebrity keys) overload one reducer in the union
  * strategy. `saltBuckets = n` splits each LEFT row of a hot entity
  * into one of n sub-partitions by hashing its ts, and REPLICATES the
  * hot entities' right rows into every sub-partition, preserving
  * correctness (each sub-partition sees the full right history).
  * Cold entities keep salt 0 — no blow-up. AQE skew-join handling
  * remains on as a backstop.
  *
  * A 100 TB job discovers its skew at RUNTIME, not config time:
  * `autoSaltShare = Some(s)` runs [[detectHotEntities]] — a sampled,
  * column-pruned key-frequency pass — before planning and promotes
  * every key holding >= s of the (sampled) left rows into the salt
  * set, so no operator needs a hand-maintained celebrity list.
  */
object AsOfJoin {

  /** Sampled left-side hot-key detection: returns the entity keys
    * holding at least `rowShare` of the (sampled) rows, heaviest
    * first, capped at `maxKeys`.
    *
    * Scale shape: the scan is column-pruned to the entity column and
    * row-sampled (deterministic under the fixed seed, so the count
    * pass and the frequency pass see the SAME sample); the groupBy is
    * map-side combined, and only keys above the share threshold — at
    * most 1/rowShare of them, ~50 for the 2% default — survive to the
    * driver-side `collect`. Two light jobs over one pruned column.
    *
    * Statistics: a key holding share p of n sampled rows lands within
    * +-sqrt(p/n) of p (binomial std) — at the default 2% threshold,
    * 100k sampled rows resolve shares to +-0.04%, far tighter than
    * the decision boundary needs. Keys just AT the threshold may
    * flip either way; salting is a performance hint, so either
    * outcome is correct (result equivalence is spec-asserted for
    * salted vs unsalted).
    *
    * @param sampleFraction  <= 0 or >= 1 disables sampling (exact
    *                        counts; still one bounded-exchange pass)
    */
  def detectHotEntities(
      df: DataFrame,
      entity: String,
      rowShare: Double = 0.02,
      sampleFraction: Double = 1.0,
      maxKeys: Int = 64,
      seed: Long = 42L): Seq[String] = {
    require(rowShare > 0.0 && rowShare <= 1.0,
      s"as-of auto-salt: rowShare must be in (0, 1], got $rowShare")
    val keys = df.select(col(entity).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
    val sampled =
      if (sampleFraction > 0.0 && sampleFraction < 1.0)
        keys.sample(withReplacement = false, sampleFraction, seed)
      else keys
    // deterministic sample (fixed seed, per-partition Bernoulli): the
    // two passes below see identical rows
    DriverFinish.described(df.sparkSession, "asof.hot_keys") {
      val total = sampled.count()
      if (total == 0L) Seq.empty
      else {
        val floor = math.max(1L, math.ceil(rowShare * total).toLong)
        sampled.groupBy(col("__k"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= floor)
          .orderBy(col("__n").desc, col("__k"))
          .limit(maxKeys)
          .collect()
          .map(_.getString(0))
          .toSeq
      }
    }
  }

  /** @param leftTs / rightTs   timestamp column names
    * @param rightValueCols     right columns to carry (defaults: all but
    *                           entity/ts)
    * @param strict             true => right.ts <  left.ts (no same-instant
    *                           reads); false => <=
    * @param toleranceSeconds   optional max staleness; older matches -> null
    * @param hotEntities        explicit skew keys to salt (empty => no salting
    *                           unless autoSaltShare is set)
    * @param saltBuckets        sub-partitions per hot entity
    * @param autoSaltShare      when set and hotEntities is empty, run
    *                           [[detectHotEntities]] on the left side and
    *                           salt every key holding >= this row share
    * @param autoSaltSample     sample fraction for the detection pass
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      leftTs: String = "ts",
      rightTs: String = "ts",
      rightValueCols: Seq[String] = Seq.empty,
      strict: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      broadcastRight: Boolean = false,
      hotEntities: Seq[String] = Seq.empty,
      saltBuckets: Int = 8,
      autoSaltShare: Option[Double] = None,
      autoSaltSample: Double = 0.05): DataFrame =
    asOf("join", left, right, entity, leftTs, rightTs,
      valuesOf(right, entity, rightTs, rightValueCols), broadcastRight,
      resolveHot(left, entity, hotEntities, autoSaltShare, autoSaltSample),
      saltBuckets, Seq(Carry("__rv", forward = false, strict)))(
      (t, rv) => within(rv.head, t, toleranceSeconds, forward = false))

  /** Cold-start fallback as-of join: enrich the spine from an
    * entity-level feed, and for events the entity feed cannot serve —
    * no row at-or-before t, or the match is staler than
    * `toleranceSeconds` — fall back to a coarser GROUP-level feed
    * matched as-of the same instant. This is the feature store's
    * answer to brand-new entities and long-dormant ones: a fresh
    * user has no purchase history, but their cohort does, and a
    * cohort prior beats a null at serving time. `feature_source`
    * records which feed answered (`entity` / `group` / null when
    * neither could), so training can condition on provenance.
    *
    * Both feeds carry the SAME `valueCols` names; per event the
    * emitted value is the entity feed's whenever the entity match is
    * within tolerance (even if the matched row's value is null — a
    * null in a matched row is a legitimate reading, not a miss),
    * else the group feed's. Zero leakage at both levels: each pass is
    * a plain [[join]] (`right.ts <= t`, or `<` under `strict`).
    *
    * Scale shape: the entity pass is the salted/auto-salted
    * sort-merge join; the group pass runs over the SAME spine with
    * the group feed BROADCAST by default (a group feed has one row
    * per group x timestamp — bounded by construction next to a
    * 10^12-row spine), so the fallback adds zero spine shuffles.
    * Pass `broadcastGroupFeed = false` only for a group key so fine
    * it rivals the entity key.
    */
  def joinWithFallback(left: DataFrame, entityFeed: DataFrame,
      groupFeed: DataFrame, entity: String, group: String,
      valueCols: Seq[String], leftTs: String = "ts",
      rightTs: String = "ts", strict: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      groupToleranceSeconds: Option[Long] = None,
      broadcastGroupFeed: Boolean = true,
      hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    require(valueCols.nonEmpty, "joinWithFallback: need >= 1 value column")
    Seq(entity, group).foreach(c => require(left.columns.contains(c),
      s"joinWithFallback: left side is missing column '$c'"))
    valueCols.foreach { c =>
      require(entityFeed.columns.contains(c) &&
        groupFeed.columns.contains(c),
        s"joinWithFallback: both feeds must carry value column '$c'")
    }
    (valueCols ++ Seq("matched_ts", "feature_source") ++
      valueCols.map("__e_" + _) :+ "__e_mts").foreach(c =>
      require(!left.columns.contains(c),
        s"joinWithFallback: left side already has a '$c' column"))
    val e = join(left, entityFeed, entity, leftTs, rightTs, valueCols,
      strict, toleranceSeconds, broadcastRight = false, hotEntities,
      autoSaltShare = autoSaltShare)
    val eRen = valueCols.foldLeft(
      e.withColumnRenamed("matched_ts", "__e_mts")) { (d, c) =>
      d.withColumnRenamed(c, s"__e_$c")
    }
    val g = join(eRen, groupFeed, group, leftTs, rightTs, valueCols,
      strict, groupToleranceSeconds,
      broadcastRight = broadcastGroupFeed)
    val useE = col("__e_mts").isNotNull
    val out = left.columns.toSeq.map(col) ++
      valueCols.map(c =>
        when(useE, col(s"__e_$c")).otherwise(col(c)).as(c)) ++ Seq(
      when(useE, col("__e_mts")).otherwise(col("matched_ts"))
        .as("matched_ts"),
      when(useE, lit("entity"))
        .when(col("matched_ts").isNotNull, lit("group"))
        .otherwise(lit(null).cast("string")).as("feature_source"))
    g.select(out: _*)
  }

  /** One feature feed for [[joinMulti]]: `name` prefixes every
    * emitted column (`<name>_<valueCol>`, `<name>_matched_ts`), so
    * feeds cannot collide with each other or the left side.
    */
  case class Feed(
      name: String,
      right: DataFrame,
      rightTs: String = "ts",
      valueCols: Seq[String] = Seq.empty,
      strict: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      broadcastRight: Boolean = false)

  /** Point-in-time feature-store join: enrich `left` from SEVERAL
    * feature tables in one call — the everyday shape of training-set
    * assembly (one event spine, k feature feeds, each matched as-of
    * the event time with no future reads). Each feed is one [[join]]
    * pass — k feeds cost k sort-merge exchanges, linear in k with no
    * cross-feed blowup, and each feed independently chooses
    * broadcast/tolerance/strict (a tiny dimension feed broadcasts,
    * a skewed one salts via the shared auto-detection).
    *
    * Output = left columns + per feed `<name>_<col>` for each value
    * column and `<name>_matched_ts`. Prefixed names must not collide
    * with existing columns (checked up front, loudly).
    */
  def joinMulti(left: DataFrame, entity: String, leftTs: String,
      feeds: Seq[Feed], hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    require(feeds.nonEmpty, "joinMulti: need >= 1 feed")
    require(feeds.map(_.name).distinct.size == feeds.size,
      s"joinMulti: duplicate feed names in ${feeds.map(_.name)}")
    feeds.foldLeft(left) { (acc, f) =>
      val vals = valuesOf(f.right, entity, f.rightTs, f.valueCols)
      val renames = (vals :+ "matched_ts")
        .map(c => c -> s"${f.name}_$c")
      renames.foreach { case (from, to) =>
        require(!acc.columns.contains(to),
          s"joinMulti: output column $to already exists")
        require(from == "matched_ts" || !acc.columns.contains(from),
          s"joinMulti: feed ${f.name} value column $from shadows a " +
            "spine column — rename it inside the feed frame first")
      }
      val joined = join(acc, f.right, entity, leftTs, f.rightTs,
        vals, f.strict, f.toleranceSeconds, f.broadcastRight,
        hotEntities, autoSaltShare = autoSaltShare)
      renames.foldLeft(joined) { case (d, (from, to)) =>
        d.withColumnRenamed(from, to)
      }
    }
  }

  /** Multi-HORIZON point-in-time features: the same feed as-of
    * joined at `t − Δ` for every horizon Δ — "value now / 1h ago /
    * 1d ago" per entity×event, the standard feature-store lag-family
    * shape, with zero leakage at EVERY horizon (a join at `t − Δ`
    * reads only rows at or before `t − Δ`; negative horizons are
    * rejected up front because they would read the future).
    *
    * Output = left columns + `h<Δ>_<col>` per value column and
    * `h<Δ>_matched_ts` per horizon. Each horizon is one [[join]]
    * sort-merge pass (the [[joinMulti]] shape — linear in the number
    * of horizons, no cross-horizon blowup); the skew machinery
    * (explicit hot lists, auto-salting) composes through.
    */
  def multiHorizon(left: DataFrame, right: DataFrame, entity: String,
      leftTs: String, horizonsSeconds: Seq[Long],
      rightTs: String = "ts", rightValueCols: Seq[String] = Seq.empty,
      hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    require(horizonsSeconds.nonEmpty, "multiHorizon: need >= 1 horizon")
    require(horizonsSeconds.forall(_ >= 0),
      s"multiHorizon: a negative horizon reads the FUTURE — got " +
        s"$horizonsSeconds")
    require(horizonsSeconds.distinct.size == horizonsSeconds.size,
      s"multiHorizon: duplicate horizons in $horizonsSeconds")
    val vals = valuesOf(right, entity, rightTs, rightValueCols)
    horizonsSeconds.foldLeft(left) { (acc, d) =>
      val pfx = s"h$d"
      val renames = (vals :+ "matched_ts").map(c => c -> s"${pfx}_$c")
      renames.foreach { case (from, to) =>
        require(!acc.columns.contains(to),
          s"multiHorizon: output column $to already exists")
        require(from == "matched_ts" || !left.columns.contains(from),
          s"multiHorizon: value column $from shadows a spine column " +
            "— rename it inside the feed frame first")
      }
      val shifted = s"__ts_$pfx"
      require(!acc.columns.contains(shifted),
        s"multiHorizon: input already has a '$shifted' column")
      val base =
        if (d == 0L) acc.withColumn(shifted, col(leftTs))
        else acc.withColumn(shifted,
          expr(s"`$leftTs` - INTERVAL $d SECOND"))
      val joined = join(base, right, entity, shifted, rightTs,
        vals, hotEntities = hotEntities, autoSaltShare = autoSaltShare)
      renames.foldLeft(joined) { case (j, (from, to)) =>
        j.withColumnRenamed(from, to)
      }.drop(shifted)
    }
  }

  /** Point-in-time INTERVAL aggregates: for each spine event, the
    * count (and exact sum) of feed rows in `(t − Δ, t]` per window Δ
    * — "purchases in the last hour / day" style features, computed
    * WITHOUT a per-event scan of the feed. Construction: ONE
    * per-entity cumulative pass over the feed (RANGE frame, so
    * same-instant ties share the cumulative value), then one as-of
    * join at `t` and one at each `t − Δ`; the interval aggregate is
    * the difference of cumulatives. Sums ride DECIMAL(38,6), so the
    * difference is EXACT (a double cumsum difference would drift from
    * a directly-computed sum); `w<Δ>_sum` is null when the window
    * holds no non-null value (matching a direct SUM), `w<Δ>_count`
    * is 0, never null.
    *
    * Cost: one window exchange over the feed + (|windows|+1) sort-
    * merge as-of passes — linear, no per-event feed scan, skew
    * machinery composes. Zero leakage: every input instant is ≤ t.
    */
  def intervalFeatures(left: DataFrame, right: DataFrame,
      entity: String, leftTs: String, windowsSeconds: Seq[Long],
      rightTs: String = "ts", valueCol: Option[String] = None,
      hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    require(windowsSeconds.nonEmpty,
      "intervalFeatures: need >= 1 window")
    require(windowsSeconds.forall(_ > 0),
      s"intervalFeatures: windows must be > 0, got $windowsSeconds")
    require(windowsSeconds.distinct.size == windowsSeconds.size,
      s"intervalFeatures: duplicate windows in $windowsSeconds")
    windowsSeconds.foreach { d =>
      Seq(s"w${d}_count") ++ valueCol.map(_ => s"w${d}_sum") foreach {
        c => require(!left.columns.contains(c),
          s"intervalFeatures: output column $c already exists")
      }
    }
    val w = Window.partitionBy(col(entity)).orderBy(col(rightTs))
    val vDec = valueCol.map(v => col(v).cast("decimal(38,6)"))
    val withCum = {
      val base = right.withColumn("__cnt", count(lit(1)).over(w))
      vDec match {
        case None => base
        case Some(v) => base
          .withColumn("__vcnt", count(v).over(w))
          .withColumn("__sum", sum(v).over(w))
      }
    }
    val aggCols =
      Seq("__cnt") ++ (if (vDec.isDefined) Seq("__vcnt", "__sum")
        else Nil)
    // one row per (entity, instant): ties share the RANGE cumulative,
    // so max == the shared value
    val cum = withCum.groupBy(col(entity), col(rightTs))
      .agg(max(col(aggCols.head)).as(aggCols.head),
        aggCols.tail.map(c => max(col(c)).as(c)): _*)
    val joined = multiHorizon(left, cum, entity, leftTs,
      0L +: windowsSeconds, rightTs, aggCols, hotEntities,
      autoSaltShare)
    val out = windowsSeconds.foldLeft(joined) { (acc, d) =>
      val cntD = coalesce(col("h0___cnt"), lit(0L)) -
        coalesce(col(s"h${d}___cnt"), lit(0L))
      val r = acc.withColumn(s"w${d}_count", cntD.cast("long"))
      if (vDec.isEmpty) r
      else {
        val zero = lit(0).cast("decimal(38,6)")
        val vcntD = coalesce(col("h0___vcnt"), lit(0L)) -
          coalesce(col(s"h${d}___vcnt"), lit(0L))
        val sumD = coalesce(col("h0___sum"), zero) -
          coalesce(col(s"h${d}___sum"), zero)
        r.withColumn(s"w${d}_sum",
          when(vcntD > 0, sumD.cast("double")))
      }
    }
    val scaffolding = (0L +: windowsSeconds).flatMap(d =>
      (aggCols :+ "matched_ts").map(c => s"h${d}_$c"))
    out.drop(scaffolding: _*)
  }

  /** Train/serve feature-replay parity — the online/offline skew
    * check. Each spine row carries TWO instants: the training/label
    * time (`trainTs`, what the training set was built as-of) and the
    * serving time (`serveTs`, when the model actually scored). The
    * same feature feed is as-of joined at BOTH instants and every
    * value column is compared null-safely:
    * `<v>_train` / `<v>_serve` / `<v>_stale` (the value the model
    * trained on differs from the value it served on — feature skew),
    * plus `matched_ts_train` / `matched_ts_serve`. A row whose
    * serving time precedes its training time is upstream clock skew
    * and fails loudly.
    *
    * Cost: two [[join]] sort-merge passes over the same feed (the
    * [[joinMulti]] shape), no cross-instant blowup; all the skew
    * machinery (explicit hot lists, auto-salting) composes through.
    */
  def replayParity(left: DataFrame, right: DataFrame, entity: String,
      trainTs: String, serveTs: String, rightTs: String = "ts",
      rightValueCols: Seq[String] = Seq.empty,
      hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    val vals = valuesOf(right, entity, rightTs, rightValueCols)
    val outCols = vals.flatMap(v =>
      Seq(s"${v}_train", s"${v}_serve", s"${v}_stale")) ++
      Seq("matched_ts_train", "matched_ts_serve")
    outCols.foreach(c => require(!left.columns.contains(c),
      s"replayParity: output column $c already exists on the spine"))
    val guarded = left.withColumn("__rp_guard",
      when(col(serveTs) < col(trainTs), raise_error(concat(
        lit(s"replayParity: serving time $serveTs precedes training " +
          s"time $trainTs on entity "), col(entity).cast("string"))))
        .otherwise(lit(null).cast("string")))
    val trained = join(guarded, right, entity, trainTs, rightTs, vals,
      hotEntities = hotEntities, autoSaltShare = autoSaltShare)
    val trainedR = (vals :+ "matched_ts").foldLeft(trained) { (d, c) =>
      d.withColumnRenamed(c, s"${c}_train")
    }
    val served = join(trainedR, right, entity, serveTs, rightTs, vals,
      hotEntities = hotEntities, autoSaltShare = autoSaltShare)
    val servedR = (vals :+ "matched_ts").foldLeft(served) { (d, c) =>
      d.withColumnRenamed(c, s"${c}_serve")
    }
    vals.foldLeft(servedR) { (d, v) =>
      d.withColumn(s"${v}_stale",
        !(col(s"${v}_train") <=> col(s"${v}_serve")))
    }.drop("__rp_guard")
  }

  /** hotEntities wins when given; otherwise autoSaltShare triggers the
    * sampled detection pass (broadcast strategy never salts — it has
    * no shuffle to skew).
    */
  private def resolveHot(left: DataFrame, entity: String,
      hotEntities: Seq[String], autoSaltShare: Option[Double],
      autoSaltSample: Double): Seq[String] =
    if (hotEntities.nonEmpty) hotEntities
    else autoSaltShare match {
      case Some(share) =>
        detectHotEntities(left, entity, rowShare = share,
          sampleFraction = autoSaltSample)
      case None => Seq.empty
    }

  /** The right columns a join carries: the named ones, else all but
    * entity/ts.
    */
  private def valuesOf(right: DataFrame, entity: String, rightTs: String,
      named: Seq[String]): Seq[String] =
    if (named.nonEmpty) named
    else right.columns.filterNot(c => c == entity || c == rightTs).toSeq

  /** FORWARD as-of join: for each left row, the EARLIEST right row
    * with right.ts >= left.ts (strict: >) within the entity — the
    * time-mirrored dual of [[join]], for "time-to-next-event" /
    * future-label generation. Identical strategies and skew handling;
    * the union plan is still ONE exchange + one sort, with the window
    * frame flipped to (currentRow, unboundedFollowing) and a
    * first(ignoreNulls) carry-BACKWARD. `toleranceSeconds` bounds how
    * far in the FUTURE the match may be.
    *
    * Leakage note: this operator reads future rows BY DESIGN (labels),
    * the exact thing [[join]] must never do for features — keep their
    * outputs in separate columns/pipelines.
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      leftTs: String = "ts",
      rightTs: String = "ts",
      rightValueCols: Seq[String] = Seq.empty,
      strict: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      broadcastRight: Boolean = false,
      hotEntities: Seq[String] = Seq.empty,
      saltBuckets: Int = 8,
      autoSaltShare: Option[Double] = None,
      autoSaltSample: Double = 0.05): DataFrame =
    asOf("forward", left, right, entity, leftTs, rightTs,
      valuesOf(right, entity, rightTs, rightValueCols), broadcastRight,
      resolveHot(left, entity, hotEntities, autoSaltShare, autoSaltSample),
      saltBuckets, Seq(Carry("__rv", forward = true, strict)))(
      (t, rv) => within(rv.head, t, toleranceSeconds, forward = true))

  /** Nearest-match as-of join (pandas `merge_asof(direction='nearest')`
    * parity — no reference analogue, tubular has no joins at all): per
    * left row, the right row minimizing |right.ts - left.ts|, ties
    * broken BACKWARD (an equidistant past match always beats the future
    * one, so a same-instant right row wins outright).
    * `toleranceSeconds` bounds the distance on BOTH sides; outside it
    * the value columns and `matched_ts` are null.
    *
    * This mode reads the FUTURE by design — it is the sensor/caption
    * alignment shape (pair each image with the temporally closest
    * caption revision), NOT a leakage-safe training feature; use
    * [[join]] / [[joinForward]] for features and labels. There is no
    * `strict` flag for the same reason: strictness is a leakage
    * posture, meaningless for symmetric alignment.
    *
    * Scale shape: the SAME one-exchange tagged-union scan as the
    * backward join, with BOTH a backward and a forward carry over one
    * (entity, salt)-partitioned (ts, side) sort — the two window frames
    * share the partitioning and ordering, so Catalyst plans a single
    * Exchange + Sort feeding one Window node. Salting / auto-detection
    * and the broadcast strategy are identical to [[join]].
    */
  def joinNearest(
      left: DataFrame,
      right: DataFrame,
      entity: String,
      leftTs: String = "ts",
      rightTs: String = "ts",
      rightValueCols: Seq[String] = Seq.empty,
      toleranceSeconds: Option[Long] = None,
      broadcastRight: Boolean = false,
      hotEntities: Seq[String] = Seq.empty,
      saltBuckets: Int = 8,
      autoSaltShare: Option[Double] = None,
      autoSaltSample: Double = 0.05): DataFrame = {
    // distance of a candidate's matched ts from the left ts, in micros;
    // null candidate -> null distance (loses every comparison)
    def dist(cand: Column, t: Column): Column =
      abs(micros(cand.getField(MatchedTs)) - t)
    def ok(cand: Column, t: Column): Column = toleranceSeconds match {
      case Some(tol) => cand.isNotNull && dist(cand, t) <= tol * 1000000L
      case None      => cand.isNotNull
    }
    // the nearer of the backward/forward candidates under the
    // tolerance; tie -> backward. Backward candidates are at distance
    // >= 0, forward ones > 0 (same-instant rows ride the backward
    // carry), so `<=` implements the tie rule exactly.
    asOf("nearest", left, right, entity, leftTs, rightTs,
      valuesOf(right, entity, rightTs, rightValueCols), broadcastRight,
      resolveHot(left, entity, hotEntities, autoSaltShare, autoSaltSample),
      saltBuckets, Seq(Carry("__rb", forward = false, strict = false),
        Carry("__rf", forward = true, strict = true))) { (t, rv) =>
      val Seq(rb, rf) = rv
      when(ok(rb, t) && (!ok(rf, t) || dist(rb, t) <= dist(rf, t)), rb)
        .when(ok(rf, t), rf)
    }
  }

  private val MatchedTs = "__asof_matched_ts"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def micros(ts: Column): Column = unix_micros(ts.cast("timestamp"))

  /** `rv` when its matched ts lies within `tol` of the left ts `t`
    * (micros), looking back or `forward`.
    */
  private def within(rv: Column, t: Column, tol: Option[Long],
      forward: Boolean): Column = tol.fold(rv) { s =>
    val m = micros(rv.getField(MatchedTs))
    when((if (forward) m - t else t - m) <= s * 1000000L, rv)
  }

  /** One carried match per left row: the latest right row at or before
    * the left ts, or with `forward` the earliest at or after it;
    * `strict` excludes the same instant.
    */
  private final case class Carry(name: String, forward: Boolean,
      strict: Boolean) {
    /** The union's side tag of right rows: at equal ts, side 0 sorts
      * BEFORE the left rows (side 1) and side 2 AFTER, which decides
      * whether a same-instant right row falls inside the frame:
      * backward <= and forward > take 0, backward < and forward >= 2.
      */
    def rightSide: Int = if (forward == strict) 0 else 2

    def admits(rightTs: Column, leftTs: Column): Column =
      (forward, strict) match {
        case (false, false) => rightTs <= leftTs
        case (false, true)  => rightTs < leftTs
        case (true, false)  => rightTs >= leftTs
        case (true, true)   => rightTs > leftTs
      }
  }

  /** The one as-of builder behind [[join]], [[joinForward]] and
    * [[joinNearest]]: it attaches each carry's right struct (the value
    * columns + the matched ts) to every left row, `pick` chooses the
    * emitted one from the left ts in micros and the carries, and the
    * output is the left columns, the value columns and `matched_ts`.
    *
    * The left side travels as `__e` (entity), `__t` (left ts) and
    * `__l`, a struct of the other left columns; the entity and the left
    * ts are rebuilt from `__e`/`__t` when those have the left column's
    * own type (the union widens a key whose type differs from the
    * right side's, and such a key stays in `__l`). SQL equi-join
    * semantics on the right: a NULL entity never matches, and a NULL
    * ts is unordered dirty data (in the window it would sort first and
    * carry a pseudo-match with a NULL `matched_ts` into unmatched rows).
    */
  private def asOf(op: String, left: DataFrame, right: DataFrame,
      entity: String, leftTs: String, rightTs: String,
      valueCols: Seq[String], broadcastRight: Boolean, hot: => Seq[String],
      saltBuckets: Int, carries: Seq[Carry])(
      pick: (Column, Seq[Column]) => Column): DataFrame = {
    val leftCols = left.columns.toSeq
    val keys = left.select(col(entity).as("__e"), col(leftTs).as("__t"))
    val rightRows = right
      .filter(col(entity).isNotNull && col(rightTs).isNotNull)
    val keyTypes =
      if (broadcastRight) keys.schema
      else keys.unionByName(rightRows
        .select(col(entity).as("__e"), col(rightTs).as("__t"))).schema
    val rebuilt = Seq(entity -> "__e", leftTs -> "__t").filter {
      case (_, k) => keys.schema(k).dataType == keyTypes(k).dataType
    }.toMap
    val shipped = leftCols.filterNot(rebuilt.contains)
    val tagged = left.select(col(entity).as("__e"), col(leftTs).as("__t"),
      struct(shipped.map(col): _*).as("__l"))

    val (carried, hotKeys, buckets) =
      if (broadcastRight) {
        // per-entity ts-sorted history, broadcast and probed per carry:
        // backward takes the LAST admitted entry, forward the FIRST
        val hist = rightRows.groupBy(col(entity).as("__re"))
          .agg(sort_array(collect_list(struct(
            (col(rightTs).as(MatchedTs) +: valueCols.map(col)): _*)))
            .as("__hist"))
        val joined = tagged
          .join(broadcast(hist), col("__e") === col("__re"), "left")
        (carries.foldLeft(joined) { (d, c) =>
          val admitted = filter(col("__hist"),
            r => c.admits(r.getField(MatchedTs), col("__t")))
          d.withColumn(c.name, when(size(admitted) > 0,
            element_at(admitted, if (c.forward) 1 else -1)))
        }, Seq.empty[String], 1)
      } else {
        // tag both sides, union, and carry the right struct along one
        // (entity, salt)-partitioned (ts, side) sort: ONE exchange
        // (joinNearest's two carries both tag right rows 0)
        require(carries.map(_.rightSide).distinct.size == 1,
          s"asOf $op: carries need one right-side tag for one exchange")
        val side = carries.head.rightSide
        val hotKeys = hot
        val salted = hotKeys.nonEmpty && saltBuckets > 1
        val hotKey = col("__e").isin(hotKeys: _*)
        // a hot entity's left rows spread over the salt buckets by ts;
        // its right rows are replicated into every bucket
        val leftSalt =
          if (salted) when(hotKey,
            pmod(xxhash64(col("__t")), lit(saltBuckets)).cast("int"))
            .otherwise(lit(0))
          else lit(0)
        val rightSalt =
          if (salted) explode(when(hotKey,
            typedLit((0 until saltBuckets).toList))
            .otherwise(typedLit(List(0))))
          else lit(0)
        val taggedRight = rightRows
          .select(col(entity).as("__e"), col(rightTs).as("__t"),
            lit(side).as("__side"), struct(
              (valueCols.map(col) :+ col(rightTs).as(MatchedTs)): _*)
              .as("__r"))
          .withColumn("__salt", rightSalt)
        val unioned = tagged
          .withColumn("__side", lit(1))
          .withColumn("__salt", leftSalt)
          .unionByName(taggedRight, allowMissingColumns = true)
        val w = Window.partitionBy(col("__e"), col("__salt"))
          .orderBy(col("__t"), col("__side"))
        (carries.foldLeft(unioned) { (d, c) =>
          d.withColumn(c.name,
            if (c.forward) first(col("__r"), ignoreNulls = true).over(
              w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            else last(col("__r"), ignoreNulls = true).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        }.filter(col("__side") === 1),
          hotKeys, if (salted) saltBuckets else 1)
      }

    log.info(s"asof.plan op=$op " +
      s"strategy=${if (broadcastRight) "broadcast" else "union"} " +
      s"hot=${hotKeys.size} buckets=$buckets " +
      s"shipped=${shipped.mkString(",")} " +
      s"rebuilt=${leftCols.filter(rebuilt.contains).mkString(",")}")

    // `__l` is null on the union's right rows, so every left column it
    // yields is nullable; a rebuilt key keeps that nullability
    val l = col("__l")
    val lNullable = carried.schema("__l").nullable
    val out = left.schema.map(f => rebuilt.get(f.name) match {
      case Some(k) if lNullable =>
        when(l.isNotNull, col(k)).as(f.name, f.metadata)
      case Some(k) => col(k).as(f.name, f.metadata)
      case None => l.getField(f.name).as(f.name)
    }) ++ valueCols.map(c => col("__rv").getField(c).as(c)) :+
      col("__rv").getField(MatchedTs).as("matched_ts")
    carried.withColumn("__rv",
      pick(micros(col("__t")), carries.map(c => col(c.name))))
      .select(out: _*)
  }
}

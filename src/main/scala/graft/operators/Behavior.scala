package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Behavioral / lifecycle analytics over an (entity, ts) event log —
  * cohort retention, ordered-step funnels, and consecutive-run
  * (gaps-and-islands) features. Everything is exact-integer
  * aggregation: no floats until the final readout division, no
  * driver-side state, no single-partition stage.
  */
object Behavior {

  /** Cohort retention matrix: entities are cohorted by the PERIOD of
    * their first event, and each (cohort, offset) cell counts the
    * distinct entities active `offset` periods after their cohort
    * period. `retention = active / cohort_size` is the one float,
    * at readout. Periods are fixed `periodSeconds` buckets of epoch
    * time (micro-exact integer `div` — no calendar dependence, same
    * grid as [[graft.temporal.WindowOps.resampleBars]]).
    *
    * Scale shape: a per-entity min (map-side combined), one
    * broadcast-free shuffle on the entity to attach cohorts, then a
    * (cohort, offset) distinct-count whose exchange carries one row
    * per entity×offset — never per event. offset 0 is the cohort
    * size row by construction (every entity is active in its own
    * first period).
    */
  def cohortRetention(df: DataFrame, entity: String, ts: String,
      periodSeconds: Long): DataFrame = {
    require(periodSeconds > 0,
      s"cohortRetention: periodSeconds > 0, got $periodSeconds")
    val pUs = periodSeconds * 1000000L
    val ev = df.filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity).as("__e"),
        floor(unix_micros(col(ts).cast("timestamp")) / pUs)
          .cast("long").as("__p"))
    val first = ev.groupBy(col("__e"))
      .agg(min(col("__p")).as("__cohort"))
    val active = ev.join(first, "__e")
      .select(col("__e"), col("__cohort"),
        (col("__p") - col("__cohort")).as("__off"))
      .distinct()
    val sizes = first.groupBy(col("__cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    active.groupBy(col("__cohort"), col("__off"))
      .agg(count(lit(1)).as("active"))
      .join(sizes, "__cohort")
      .select(
        (col("__cohort") * periodSeconds).as("cohort_start_s"),
        col("__off").as("period_offset"),
        col("cohort_size"), col("active"),
        (col("active").cast("double") /
          col("cohort_size").cast("double")).as("retention"))
  }

  /** Session-level item co-occurrence — the market-basket /
    * association-rule staple (support, confidence, lift) with
    * gap-sessionized event logs as the "baskets". One output row per
    * unordered item pair (a < b) seen together in ≥1 session:
    * session counts `n_a, n_b, n_ab`, plus
    * `support = n_ab/N`, `conf(a→b) = n_ab/n_a`,
    * `conf(b→a) = n_ab/n_b`, `lift = n_ab·N / (n_a·n_b)`.
    *
    * Scale shape: the pair join is confined to a session — after
    * `(session, item) DISTINCT`, each session contributes at most
    * |itemsInSession|² pair rows, never corpus², and the join key is
    * the session id both sides already hash on. Everything after is
    * |items|²-bounded: the totals attach by broadcast, the corpus
    * session count by a 1-row-aggregate broadcast cross join.
    * Counts are exact longs; the divisions (and the lift's
    * double·double products — longs would overflow at N² ≈ 10^20 on
    * a 100 TB log) happen in one readout expression an oracle can
    * replay bit-for-bit.
    */
  def cooccurrence(df: DataFrame, entity: String, ts: String,
      typeCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0,
      s"cooccurrence: gapSeconds > 0, got $gapSeconds")
    val ev = df.filter(col(entity).isNotNull && col(ts).isNotNull &&
      col(typeCol).isNotNull)
    val st = graft.temporal.WindowOps
      .sessionize(ev, entity, ts, gapSeconds)
      .select(col(entity).cast("string").as("__e"),
        col("session_id").as("__sid"),
        col(typeCol).cast("string").as("__t"))
      .distinct()
    val nSessions = st.agg(
      countDistinct(col("__e"), col("__sid")).as("__n_sessions"))
    val totals = st.groupBy(col("__t"))
      .agg(count(lit(1)).as("__n_t"))
    val a = st.select(col("__e"), col("__sid"), col("__t").as("item_a"))
    val b = st.select(col("__e").as("__e2"), col("__sid").as("__sid2"),
      col("__t").as("item_b"))
    a.join(b, col("__e") === col("__e2") &&
        col("__sid") === col("__sid2") &&
        col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(totals.select(col("__t").as("item_a"),
        col("__n_t").as("n_a"))), "item_a")
      .join(broadcast(totals.select(col("__t").as("item_b"),
        col("__n_t").as("n_b"))), "item_b")
      .crossJoin(broadcast(nSessions))
      .select(col("item_a"), col("item_b"),
        col("n_a"), col("n_b"), col("n_ab"),
        col("__n_sessions").as("n_sessions"),
        (col("n_ab").cast("double") /
          col("__n_sessions").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("conf_a_b"),
        (col("n_ab").cast("double") / col("n_b").cast("double"))
          .as("conf_b_a"),
        (col("n_ab").cast("double") *
          col("__n_sessions").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
  }

  /** Per-entity exponential-hazard churn features: the constant-rate
    * (Poisson) activity model fitted per entity in one aggregation —
    * `rate = (n−1) / span` events per unit time over the entity's
    * observed lifetime — read out as events/day and the survival
    * probability that the entity is still active now:
    * `p_active = exp(−rate · time_since_last_event)` (the
    * exponential's memoryless tail; the standard first-cut churn
    * score before anything parametric). Single-event entities have
    * no observable rate: rate and p_active are null, never a
    * divide-by-zero NaN.
    *
    * One map-side-combined groupBy (min/max/count per entity) + the
    * corpus max-ts anchor as a 1-row broadcast — no window, no
    * second pass. The readout expression is one fixed double chain
    * replayed verbatim by the oracle; exp() may differ by an ulp
    * across libm builds, absorbed by the query-level round-6.
    */
  def hazardFeatures(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val tus = unix_micros(col(ts).cast("timestamp"))
    val base = df.filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity))
      .agg(count(lit(1)).as("n_events"),
        min(tus).as("__first_us"), max(tus).as("__last_us"))
    val asOf = base.agg(max(col("__last_us")).as("__asof"))
    val span = col("__last_us") - col("__first_us")
    val rec = col("__asof") - col("__last_us")
    val nm1 = (col("n_events") - 1).cast("double")
    val perDay = when(span > 0,
      nm1 * lit(86400000000.0) / span.cast("double"))
    val pActive = when(span > 0,
      exp(-(nm1 / span.cast("double")) * rec.cast("double")))
    base.crossJoin(broadcast(asOf))
      .select(col(entity), col("n_events"), span.as("span_us"),
        rec.as("recency_us"), perDay.as("events_per_day"),
        pActive.as("p_active"))
  }

  /** Per-entity hour-of-day activity profile — the regularity
    * features bot/automation detection and engagement models read:
    * event count, distinct active hours, the Shannon entropy of the
    * hour-of-day distribution (0 = always the same hour — cron-like;
    * ln 24 = uniform — human-implausible at volume), and the
    * deterministic peak hour (most events; ties → smallest hour).
    *
    * Shape: one (entity, hour) count (map-side combined, ≤ 24 rows
    * per entity), one entity rollup. Entropy uses the same one-pass
    * exact rearrangement as the corpus report card:
    * `H = ln(N) − Σ n_h·ln(n_h) / N` — no per-row p division. The
    * peak rides the SAME rollup as one max over the integer encoding
    * `n·128 − hour` (monotone in (n, −hour) for hour < 128), so the
    * tie rule is engine-independent integer math, not an arg_max
    * whose tie behavior is unspecified.
    */
  def activityProfile(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val perHour = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity),
        hour(col(ts).cast("timestamp")).cast("long").as("__h"))
      .agg(count(lit(1)).as("__n"))
    perHour.groupBy(col(entity))
      .agg(sum(col("__n")).as("n_events"),
        count(lit(1)).as("n_active_hours"),
        sum(col("__n").cast("double") *
          log(col("__n").cast("double"))).as("__nl"),
        max(col("__n") * 128L - col("__h")).as("__e"))
      .select(col(entity), col("n_events"), col("n_active_hours"),
        (log(col("n_events").cast("double")) -
          col("__nl") / col("n_events").cast("double"))
          .as("hour_entropy"),
        (floor((col("__e") + 23L) / 128L).cast("long") * 128L -
          col("__e")).as("peak_hour"))
  }

  /** Session touch attribution: every CONVERSION event reads the
    * first touch, last touch, and touch count among the qualifying
    * touch events STRICTLY BEFORE it in the SAME gap session — the
    * first-touch / last-touch marketing-attribution pair (linear
    * credit is `1/n_touches` off the same row, no extra pass). A
    * conversion with no prior in-session touch reads nulls and
    * n_touches = 0 (organic conversion), never a cross-session leak.
    *
    * Scale shape: [[graft.temporal.WindowOps.sessionize]]'s one
    * entity exchange, then a (entity, session) window that
    * hash-satisfies on the SAME exchange (entity ⊆ keys) — the plan
    * adds a sort, never a second shuffle. Strictly-prior frame, so a
    * touch at the conversion's own instant does not credit itself.
    */
  def attribution(df: DataFrame, entity: String, ts: String,
      typeCol: String, conversionType: String,
      touchTypes: Seq[String], gapSeconds: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(touchTypes.nonEmpty, "attribution: touchTypes empty")
    require(!touchTypes.contains(conversionType),
      s"attribution: conversion type '$conversionType' cannot also " +
        "be a touch type (a conversion would credit itself)")
    val ev = df.filter(col(entity).isNotNull && col(ts).isNotNull &&
      col(typeCol).isNotNull)
    val sess = graft.temporal.WindowOps
      .sessionize(ev, entity, ts, gapSeconds)
    val ord = (col(ts) +: tieBreak.map(col)).map(_.asc)
    val prior = Window.partitionBy(col(entity), col("session_id"))
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tus = unix_micros(col(ts).cast("timestamp"))
    val isTouch = col(typeCol).isin(touchTypes: _*)
    val tt = when(isTouch, col(typeCol))
    val ttUs = when(isTouch, tus)
    sess
      .withColumn("first_touch_type",
        first(tt, ignoreNulls = true).over(prior))
      .withColumn("first_touch_us",
        first(ttUs, ignoreNulls = true).over(prior))
      .withColumn("last_touch_type",
        last(tt, ignoreNulls = true).over(prior))
      .withColumn("last_touch_us",
        last(ttUs, ignoreNulls = true).over(prior))
      .withColumn("n_touches", count(tt).over(prior))
      .filter(col(typeCol) === conversionType)
  }

  /** RFM (recency / frequency / monetary) quantile scoring — the
    * classic customer-value feature triple. Per entity: exact
    * integer micro recency (corpus max-ts anchor, so the score set
    * is reproducible from the data alone), event count, and exact
    * micro-unit spend; each ranked into `nBins` NTILE buckets
    * (5 = best: most recent / most frequent / highest spend) and
    * folded into the composite `rfm_score = r·100 + f·10 + m`.
    *
    * NTILE at scale WITHOUT a single-partition window: each of the
    * three ranks is the shared two-phase range-partitioned machinery
    * ([[graft.text.Sharding.exclusiveCumSum]] — range shuffle +
    * |partitions|-row offset broadcast + per-partition window), and
    * the bucket is then PURE INTEGER MATH replicating SQL NTILE
    * exactly (first `N mod n` buckets take `N div n + 1` rows):
    * DuckDB's NTILE is the oracle, no quantile interpolation
    * involved. Ties break on the entity id, so every rank — and
    * therefore every score — is deterministic on any engine.
    * The ranked frames are |entities|-sized, never |events|-sized.
    */
  def rfmScores(df: DataFrame, entity: String, ts: String,
      valueCol: String, nBins: Int = 5): DataFrame = {
    require(nBins >= 2, s"rfmScores: nBins >= 2, got $nBins")
    val tus = unix_micros(col(ts).cast("timestamp"))
    val v = col(valueCol).cast("double")
    val micro = round(when(isnan(v), lit(null)).otherwise(v)
      * lit(1e6), 0).cast("long")
    val base = df.filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity))
      .agg(max(tus).as("last_us"),
        count(lit(1)).as("frequency"),
        coalesce(sum(micro.cast("decimal(38,0)")), lit(0))
          .cast("long").as("monetary_micros"))
    val asOf = base.agg(max(col("last_us")).as("__asof"))
    val rec = base.crossJoin(broadcast(asOf))
      .withColumn("recency_us", col("__asof") - col("last_us"))
      .drop("__asof", "last_us")
    def rank(d: DataFrame, order: Seq[Column], out: String) =
      graft.text.Sharding.exclusiveCumSum(d, order, lit(1L) -> out)
    val s3 = rank(rank(rank(rec,
      Seq(col("recency_us").desc, col(entity)), "__r0"),
      Seq(col("frequency").asc, col(entity)), "__f0"),
      Seq(col("monetary_micros").asc, col(entity)), "__m0")
    // SQL NTILE replica on 1-based rank r over N rows: the first
    // (N mod n) buckets hold (N div n)+1 rows each. Integer-exact
    // below 2^53 entities (floor on doubles).
    def ntileOf(r: Column, nRows: Column): Column = {
      val q = floor(nRows / nBins).cast("long")
      val rem = nRows - q * nBins
      val first = floor((r - 1) / (q + 1)).cast("long") + 1
      val rest = rem + floor((r - 1 - rem * (q + 1)) / q)
        .cast("long") + 1
      when(r <= rem * (q + 1), first).otherwise(rest).cast("int")
    }
    val withN = s3.crossJoin(
      broadcast(s3.agg(count(lit(1)).as("__N"))))
    val rS = ntileOf(col("__r0") + 1, col("__N"))
    val fS = ntileOf(col("__f0") + 1, col("__N"))
    val mS = ntileOf(col("__m0") + 1, col("__N"))
    withN.select(col(entity), col("recency_us"), col("frequency"),
      col("monetary_micros"), rS.as("r_score"), fS.as("f_score"),
      mS.as("m_score"),
      (rS * 100 + fS * 10 + mS).cast("int").as("rfm_score"))
  }

  /** First-order Markov transition features over a per-entity event
    * sequence: fits the corpus-level transition matrix
    * `P(cur | prev) = n(prev→cur) / n(prev→·)` over (ts, tie)-ordered
    * bigrams, then scores every event with its transition
    * probability and surprisal `-ln P(cur | prev)` — the classic
    * "how unusual was this step given the last one" signal for
    * session anomaly scoring, bot detection, and next-action
    * features. Each entity's FIRST event has no predecessor: its
    * prev/probability/surprisal are null (never a pseudo-start
    * token, which would leak sequence boundaries into the matrix).
    *
    * Scale shape: one (entity)-partitioned window forms bigrams; the
    * matrix is a groupBy over them whose result is at most
    * |types|² rows — broadcast back onto the event stream, so the
    * scoring join reshuffles nothing. Counts stay exact longs; the
    * one division happens at readout. The matrix rides the SAME
    * bigram frame that scoring reads — one window sort, one tiny
    * aggregate, one broadcast.
    */
  def transitionFeatures(df: DataFrame, entity: String, ts: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(ts) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entity)).orderBy(ord: _*)
    val bigrams = df
      .filter(col(entity).isNotNull && col(ts).isNotNull &&
        col(typeCol).isNotNull)
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
    val matrix = bigrams.filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("__mprev"), col(typeCol).as("__cur"))
      .agg(count(lit(1)).as("trans_n"))
      .withColumn("prev_n",
        sum(col("trans_n")).over(Window.partitionBy(col("__mprev"))))
    bigrams.join(broadcast(matrix),
        col("__prev") === col("__mprev") && col(typeCol) === col("__cur"),
        "left")
      .drop("__mprev", "__cur")
      .withColumn("trans_p",
        col("trans_n").cast("double") / col("prev_n").cast("double"))
      .withColumn("trans_surprisal", -log(col("trans_p")))
      .withColumnRenamed("__prev", "prev_" + typeCol)
  }

  /** Ordered-step funnel: per entity, the FIRST time each named step
    * is reached with every step strictly after the previous one and
    * the whole chain within `horizonSeconds` of step 1. One row per
    * entity that reached step 1: the per-step micro timestamps
    * (null once the chain breaks) and `funnel_depth` = number of
    * steps reached in order.
    *
    * Shape: ONE partial-aggregated pass per step — step k's
    * conditional min folds over the (entity, step k−1 time) frame
    * from the previous pass, attached by an entity equi-join. k
    * small and fixed (a funnel definition), so the whole op is k
    * map-side-combined aggregations; nothing scales with k × rows.
    * Ties: a same-instant next-step event does NOT count (strictly
    * after — the leakage-clean reading of "then").
    */
  def funnelSteps(df: DataFrame, entity: String, ts: String,
      typeCol: String, steps: Seq[String],
      horizonSeconds: Long): DataFrame = {
    require(steps.size >= 2,
      s"funnelSteps: need >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size,
      s"funnelSteps: duplicate step names in ${steps.mkString(",")}")
    require(horizonSeconds > 0,
      s"funnelSteps: horizonSeconds > 0, got $horizonSeconds")
    val hUs = horizonSeconds * 1000000L
    val ev = df.filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity).as("__e"), col(typeCol).as("__t"),
        unix_micros(col(ts).cast("timestamp")).as("__us"))
    def stepCol(i: Int) = s"t${i + 1}_us"
    val first = ev.filter(col("__t") === steps.head)
      .groupBy(col("__e")).agg(min(col("__us")).as(stepCol(0)))
    val chained = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = stepCol(i)
        val cur = stepCol(i + 1)
        val cand = ev.filter(col("__t") === step)
          .join(acc.select(col("__e"), col(prev).as("__prev"),
            col(stepCol(0)).as("__t1")), "__e")
          .filter(col("__prev").isNotNull &&
            col("__us") > col("__prev") &&
            col("__us") <= col("__t1") + hUs)
          .groupBy(col("__e")).agg(min(col("__us")).as(cur))
        acc.join(cand, Seq("__e"), "left")
    }
    // ascending fold leaves the DEEPEST step's test outermost, so the
    // furthest reached step wins (the chain is monotone anyway — step
    // k non-null implies all earlier steps non-null — but the plan
    // shouldn't rely on it)
    val depth = steps.indices.foldLeft(lit(0): Column) {
      (acc, i) => when(col(stepCol(i)).isNotNull, lit(i + 1))
        .otherwise(acc)
    }
    chained.select(
      (col("__e") +: steps.indices.map(i => col(stepCol(i)))) :+
        depth.as("funnel_depth"): _*)
      .withColumnRenamed("__e", entity)
  }

  /** Gaps-and-islands: consecutive runs of EQUAL values per entity in
    * ts order. One row per run: start/end micro timestamps, run
    * length, and the run's ordinal within the entity. The island id
    * is the classic two-row-number difference, computed with one
    * (entity)-partitioned window pair — exact integers throughout.
    * Null values form runs of their own (null == null for "same
    * run"); ties on ts are broken by `tieBreak` for a deterministic
    * run assignment.
    *
    * The feature-side staple for: duplicate-frame runs in a video
    * (equal consecutive phashes), stuck-sensor detection (equal
    * consecutive readings), state-dwell features (time in status).
    */
  def islands(df: DataFrame, entity: String, ts: String,
      valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(ts) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entity)).orderBy(ord: _*)
    val v = col(valueCol).cast("string")
    // change marker -> running island ordinal (one window pair, no
    // second exchange: both ride the same (entity, ts) sort). <=> is
    // the whole tie table: null<=>null continues a null run, the
    // first row's lag(null) never equals a value, and a genuine null
    // after a value (or vice versa) breaks the run.
    val changed = when(row_number().over(w) === 1, lit(1))
      .otherwise(when(v <=> lag(v, 1).over(w), lit(0)).otherwise(lit(1)))
    // the entity column keeps its NAME through the rollup: grouping
    // on (entity, island) is then satisfied by the window's
    // hashpartitioning(entity) — one exchange for the whole op
    val marked = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), v.as("__v"),
        unix_micros(col(ts).cast("timestamp")).as("__us"),
        sum(changed).over(
          Window.partitionBy(col(entity)).orderBy(ord: _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("__island"))
    marked.groupBy(col(entity), col("__island"))
      .agg(min(col("__us")).as("run_start_us"),
        max(col("__us")).as("run_end_us"),
        count(lit(1)).as("run_len"),
        first(col("__v")).as("value"))
      .select(col(entity), col("__island").as("run_seq"),
        col("value"), col("run_start_us"), col("run_end_us"),
        col("run_len"))
  }

  /** Per-entity inter-arrival-time distribution features — the
    * burstiness triple bot detection and engagement models read:
    * `n_gaps`, `mean_gap_s`, `std_gap_s` (population), `cv_gap`
    * (σ/μ; 0 = perfectly periodic cron, 1 = Poisson, >1 = bursty)
    * and Goh–Barabási burstiness `B = (σ−μ)/(σ+μ)` ∈ [−1, 1]
    * (−1 periodic, 0 Poisson, →1 human-bursty).
    *
    * Exactness: Σdt telescopes to `max(t) − min(t)` and Σdt² is an
    * exact decimal(38,0) of BIGINT microsecond gaps, so
    * `g·Σdt² − (Σdt)²` (the variance numerator, ≥ 0 by
    * Cauchy–Schwarz on exact integers) is engine-independent; the
    * only floats are the final μ = Σdt/g, σ = √num/g divisions and
    * the B/cv ratios — IEEE `sqrt` is correctly rounded, so an
    * oracle replaying the same chain agrees to the ulp. Ties in
    * `ts` need no tie-break: the gap MULTISET of a sorted multiset
    * is order-unique (tied rows contribute exact 0 gaps wherever
    * they land), so the moments are engine-independent; zero gaps
    * between simultaneous events are kept — a burst IS zero gaps.
    * Entities with < 2
    * events refuse with nulls (n_gaps = 0); zero-σ+μ entities (all
    * events simultaneous) refuse cv and B rather than emit 0/0.
    *
    * Scale shape: one entity exchange shared by the lag window and
    * the rollup (window keys ⊆ group keys) — no second shuffle, no
    * driver state. Σdt² at 10^4 gaps of a year in µs is ~10^30,
    * safely inside decimal(38,0).
    */
  def interArrivalStats(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val tus = unix_micros(col(ts).cast("timestamp"))
    val w = Window.partitionBy(col(entity)).orderBy(col("__us").asc)
    val gapped = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), tus.as("__us"))
      .select(col(entity),
        (col("__us") - lag(col("__us"), 1).over(w)).as("__dt"))
    val agg = gapped.groupBy(col(entity)).agg(
      count(col("__dt")).as("n_gaps"),
      sum(col("__dt")).cast("decimal(38,0)").as("__sdt"),
      sum((col("__dt").cast("decimal(19,0)") *
        col("__dt").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .as("__sdd"))
    val g = col("n_gaps").cast("double")
    val num = (col("n_gaps").cast("decimal(38,0)") * col("__sdd") -
      col("__sdt") * col("__sdt"))
    val mu = col("__sdt").cast("double") / g
    val sig = sqrt(num.cast("double")) / g
    val nullD = lit(null).cast("double")
    val some = col("n_gaps") >= 1
    agg.select(col(entity), col("n_gaps"),
      when(some, mu / lit(1e6)).otherwise(nullD).as("mean_gap_s"),
      when(some, sig / lit(1e6)).otherwise(nullD).as("std_gap_s"),
      when(some && mu > 0, sig / mu).otherwise(nullD).as("cv_gap"),
      when(some && sig + mu > 0, (sig - mu) / (sig + mu))
        .otherwise(nullD).as("burstiness"))
  }

  /** Per-(entity, hour-of-day) personalization lift — how much MORE
    * than the corpus does THIS entity act at hour `h`:
    * `lift = (n_eh / n_e) / (n_gh / n_g)` (1 = population-typical,
    * >1 = personally characteristic hour), plus the entity share
    * itself. The cross-multiplied form
    * `(n_eh · n_g) / (n_e · n_gh)` keeps everything exact integers
    * (decimal(38,0) products) until ONE double division, so the
    * oracle replays it bit-for-bit; `n_gh` ≥ `n_eh` > 0 by
    * construction, so the ratio never divides by zero.
    *
    * Scale shape: one (entity, hour) count (map-side combined), a
    * ≤24-row global hour histogram REDUCED FROM that frame (never a
    * second pass over events) broadcast onto it, and a per-entity
    * rollup of ≤24 rows per entity. No event-grain join anywhere.
    */
  def hourLift(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val perEH = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity),
        hour(col(ts).cast("timestamp")).cast("long").as("hh"))
      .agg(count(lit(1)).as("n_eh"))
    val perE = perEH.groupBy(col(entity))
      .agg(sum(col("n_eh")).as("n_e"))
    val perH = perEH.groupBy(col("hh"))
      .agg(sum(col("n_eh")).as("n_gh"))
    val global = perH.agg(sum(col("n_gh")).as("n_g"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val lift = (d38(col("n_eh")) * d38(col("n_g"))).cast("double") /
      (d38(col("n_e")) * d38(col("n_gh"))).cast("double")
    perEH.join(perE, Seq(entity))
      .join(broadcast(perH), Seq("hh"))
      .crossJoin(broadcast(global))
      .select(col(entity), col("hh"), col("n_eh"), col("n_e"),
        (col("n_eh").cast("double") / col("n_e").cast("double"))
          .as("share"),
        lift.as("lift"))
  }

  /** Per-(entity, day-of-week) SEASONAL VALUE INDEX — the weekly
    * seasonality block a demand/engagement model reads:
    * `dow_mean` (exact conditional mean of the value on that
    * weekday), `dow_delta = dow_mean − overall_mean`, and
    * `dow_index = dow_mean / overall_mean` in the cross-multiplied
    * exact form `(s_d · n) / (n_d · s)` (refused when the overall
    * sum is 0 — a ratio to a zero baseline is noise, the delta
    * still reads). `dow` is Spark's `dayofweek` (1 = Sunday …
    * 7 = Saturday) on the shared UTC grid.
    *
    * Scale shape: one (entity, dow) rollup (≤ 7 rows per entity,
    * map-side combined) and an entity rollup REDUCED FROM it —
    * never a second event pass; all sums exact decimal(38,0)
    * micro-units, divisions at readout only.
    */
  def dowSeasonalIndex(df: DataFrame, entity: String, ts: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val clean = when(isnan(v), lit(null)).otherwise(v)
    val m = round(clean * lit(1e6), 0).cast("long")
    val perD = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity),
        dayofweek(col(ts).cast("timestamp")).cast("long").as("dow"))
      .agg(count(m).as("n_d"),
        sum(m).cast("decimal(38,0)").as("__s_d"))
    val perE = perD.groupBy(col(entity))
      .agg(sum(col("n_d")).as("__n"),
        sum(col("__s_d")).cast("decimal(38,0)").as("__s"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val dowMean = when(col("n_d") > 0, col("__s_d").cast("double") /
      col("n_d").cast("double") / lit(1e6))
    val allMean = when(col("__n") > 0, col("__s").cast("double") /
      col("__n").cast("double") / lit(1e6))
    val idx = when(col("n_d") > 0 && col("__s") =!= 0,
      (col("__s_d") * d38(col("__n"))).cast("double") /
        (d38(col("n_d")) * col("__s")).cast("double"))
    perD.join(perE, Seq(entity))
      .select(col(entity), col("dow"), col("n_d"),
        dowMean.as("dow_mean"), (dowMean - allMean).as("dow_delta"),
        idx.as("dow_index"))
  }

  /** Per-entity ACTIVE-DAY STREAK STATISTICS — the habit-strength
    * summary (one row per entity): `n_active_days` (distinct UTC
    * days with ≥ 1 event), `n_streaks` (maximal consecutive-day
    * runs), `max_streak_days` (longest run), and
    * `last_streak_days` (length of the run containing the entity's
    * most recent active day — the streak a retention model would
    * read "now"). Pure integer math on the `epoch_us div 86400e6`
    * day grid.
    *
    * Scale shape: same as [[activeDayStreak]] — everything happens
    * on the small distinct-(entity, day) frame; runs come from the
    * `day − row_number()` island constant (days are distinct, so
    * the difference is constant exactly within a run), and
    * `last_streak_days` is an arg-max on `end_day`, which is UNIQUE
    * per entity across its runs — no tie rule needed.
    */
  def streakStats(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val dayOf = expr(
      s"unix_micros(cast($ts as timestamp)) div 86400000000")
    val days = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), dayOf.as("__day"))
      .distinct()
    val w = Window.partitionBy(col(entity)).orderBy(col("__day").asc)
    val isl = days.select(col(entity), col("__day"),
      (col("__day") - row_number().over(w)).as("__isl"))
    val runs = isl.groupBy(col(entity), col("__isl"))
      .agg(count(lit(1)).as("__len"), max(col("__day")).as("__end"))
    runs.groupBy(col(entity))
      .agg(sum(col("__len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).as("max_streak_days"),
        max(struct(col("__end"), col("__len")))
          .getField("__len").as("last_streak_days"))
  }

  /** Per-entity EVENT-TYPE MIX profile — the action-diversity
    * block: `n_events`, `n_types`, `type_entropy` (Shannon, same
    * exact one-pass rearrangement as [[activityProfile]]),
    * `top_type` (most frequent; ties → lexicographically SMALLEST
    * type, a rule both engines express as a two-phase rank) and
    * `top_share = n_top / n_events` (exact integers, one double
    * division).
    *
    * Scale shape: one (entity, type) count (map-side combined,
    * |types| rows per entity), an entity rollup, and a rank window
    * over the SMALL per-type frame — never an event-grain window.
    */
  def typeMix(df: DataFrame, entity: String, typeCol: String)
      : DataFrame = {
    val perT = df
      .filter(col(entity).isNotNull && col(typeCol).isNotNull)
      .groupBy(col(entity), col(typeCol).as("__t"))
      .agg(count(lit(1)).as("__n"))
    val rolled = perT.groupBy(col(entity))
      .agg(sum(col("__n")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("__n").cast("double") *
          log(col("__n").cast("double"))).as("__nl"))
    val rw = Window.partitionBy(col(entity))
      .orderBy(col("__n").desc, col("__t").asc)
    val top = perT
      .select(col(entity), col("__t"), col("__n"),
        row_number().over(rw).as("__rk"))
      .filter(col("__rk") === 1)
      .select(col(entity), col("__t").as("top_type"),
        col("__n").as("__ntop"))
    rolled.join(top, Seq(entity))
      .select(col(entity), col("n_events"), col("n_types"),
        (log(col("n_events").cast("double")) -
          col("__nl") / col("n_events").cast("double"))
          .as("type_entropy"),
        col("top_type"),
        (col("__ntop").cast("double") /
          col("n_events").cast("double")).as("top_share"))
  }

  /** Per-(key, day) VOLUME ANOMALY — each UTC day's event count for
    * a key (feed, event type, source) scored against that key's OWN
    * strictly-prior daily history: `vol_z = (n − μ) / σ` with μ/σ
    * the expanding population moments of all EARLIER days. The
    * monitoring primitive that pages before a broken producer
    * poisons a training snapshot — and PIT-safe by the
    * strictly-prior frame, so backfilled scores match what live
    * scoring would have said that day. Days with < 2 history days
    * or a flat history (σ = 0) refuse with null.
    *
    * Exactness: day counts are integers, the expanding Σn and Σn²
    * ride exact decimal(38,0) window sums, and the z chain is the
    * same sqrt/divide double sequence the oracle replays. Scale
    * shape: one (key, day) count (map-side combined; the frame is
    * |keys|·|days| — tiny vs the log), then one key-partitioned
    * window over it.
    */
  def volumeAnomaly(df: DataFrame, keyCol: String, ts: String)
      : DataFrame = {
    val dayOf = expr(
      s"unix_micros(cast($ts as timestamp)) div 86400000000")
    val daily = df
      .filter(col(keyCol).isNotNull && col(ts).isNotNull)
      .groupBy(col(keyCol), dayOf.as("day"))
      .agg(count(lit(1)).as("n_events"))
    val prior = Window.partitionBy(col(keyCol))
      .orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    def d19(c: Column) = c.cast("decimal(19,0)")
    val k = count(col("n_events")).over(prior)
    val s = sum(col("n_events")).over(prior).cast("decimal(38,0)")
    val ss = sum((d19(col("n_events")) * d19(col("n_events")))
      .cast("decimal(38,0)")).over(prior)
    val k38 = k.cast("decimal(38,0)")
    val mu = s.cast("double") / k.cast("double")
    val sig = sqrt((k38 * ss - s * s).cast("double")) /
      k.cast("double")
    val z = when(k >= 2 && sig > 0,
      (col("n_events").cast("double") - mu) / sig)
    daily.select(col(keyCol), col("day"), col("n_events"),
      when(k >= 1, mu).as("expected"),
      z.as("vol_z"))
  }

  /** Per-entity SESSION PROFILE — the engagement-shape rollup over
    * [[graft.temporal.WindowOps.sessionStats]]'s gap sessions, one
    * row per entity: `n_sessions`, `n_events`,
    * `bounce_share` (single-event sessions), `mean_events` per
    * session, and `mean_duration_s` (exact Σ of integer session
    * durations, one double chain at readout). Singleton-session
    * durations are 0 by construction and DO count in the mean —
    * a catalog of bounces should read as near-zero dwell, not as
    * missing data.
    *
    * Scale shape: sessionize's one entity exchange, a
    * (entity, session) rollup riding it, then a per-entity rollup
    * of the |sessions| frame. Exact integers until readout.
    */
  def sessionProfile(df: DataFrame, entity: String, ts: String,
      gapSeconds: Long): DataFrame = {
    val sess = graft.temporal.WindowOps
      .sessionStats(df, entity, ts, gapSeconds)
    val agg = sess.groupBy(col(entity)).agg(
      count(lit(1)).as("n_sessions"),
      sum(col("n_events")).as("n_events"),
      count(when(col("n_events") === 1, lit(1))).as("__bounces"),
      sum(col("duration_us")).cast("decimal(38,0)").as("__dur"))
    agg.select(col(entity), col("n_sessions"), col("n_events"),
      (col("__bounces").cast("double") /
        col("n_sessions").cast("double")).as("bounce_share"),
      (col("n_events").cast("double") /
        col("n_sessions").cast("double")).as("mean_events"),
      (col("__dur").cast("double") /
        col("n_sessions").cast("double") / lit(1e6))
        .as("mean_duration_s"))
  }

  /** Per-entity VALUE CONCENTRATION across a categorical dimension
    * — the Herfindahl–Hirschman index of the entity's value shares
    * by `typeCol` (`hhi` ∈ (1/k, 1]: 1 = everything in one
    * category, 1/k = evenly spread over k) plus `n_types` and
    * `top_share`: the "wallet share" block of spend-diversity
    * features. Cross-multiplied exact integers —
    * `hhi = Σs_d² / S²` with both sides exact decimal(38,0)
    * products of micro-unit sums, one double division. Entities
    * whose total is ≤ 0, or with any negative category sum (shares
    * lose meaning), refuse with null.
    *
    * Scale shape: one (entity, type) micro-sum (map-side combined),
    * one entity rollup of the ≤ |types|-row frame. Missing values
    * (null/NaN) count nowhere.
    */
  def valueConcentration(df: DataFrame, entity: String,
      typeCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val clean = when(isnan(v), lit(null)).otherwise(v)
    val m = round(clean * lit(1e6), 0).cast("long")
    val perT = df
      .filter(col(entity).isNotNull && col(typeCol).isNotNull)
      .groupBy(col(entity), col(typeCol))
      .agg(sum(m).cast("decimal(38,0)").as("__s"))
      .filter(col("__s").isNotNull)
    val rolled = perT.groupBy(col(entity)).agg(
      count(lit(1)).as("n_types"),
      sum(col("__s")).cast("decimal(38,0)").as("__tot"),
      sum((col("__s") * col("__s")).cast("decimal(38,0)"))
        .as("__ss"),
      max(col("__s")).as("__top"),
      min(col("__s")).as("__min"))
    val ok = col("__tot") > 0 && col("__min") >= 0
    rolled.select(col(entity), col("n_types"),
      when(ok, col("__ss").cast("double") /
        (col("__tot") * col("__tot")).cast("double")).as("hhi"),
      when(ok, col("__top").cast("double") /
        col("__tot").cast("double")).as("top_share"))
  }

  /** Per-entity ACTIVATION PROFILE — how much of the entity's
    * lifetime activity landed in its FIRST `windowDays` days:
    * `n_total`, `n_first_window` (events with
    * `t − first_t < windowDays·86400e6`, a pure integer
    * comparison), `first_window_share`, and `lifetime_days`
    * (integer `span div 86400e6`). The onboarding-vs-retention
    * split growth models read. One entity exchange: the first-
    * instant window min and the conditional rollup ride it.
    */
  def activationProfile(df: DataFrame, entity: String, ts: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1,
      s"activationProfile: windowDays >= 1, got $windowDays")
    val tus = unix_micros(col(ts).cast("timestamp"))
    val w = Window.partitionBy(col(entity))
    val base = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), tus.as("__t"),
        min(tus).over(w).as("__t0"))
    val inWin = col("__t") - col("__t0") <
      lit(windowDays.toLong * 86400000000L)
    base.groupBy(col(entity)).agg(
      count(lit(1)).as("n_total"),
      count(when(inWin, lit(1))).as("n_first_window"),
      ((max(col("__t")) - min(col("__t"))) / lit(86400000000L))
        .cast("long").as("lifetime_days"))
      .select(col(entity), col("n_total"), col("n_first_window"),
        (col("n_first_window").cast("double") /
          col("n_total").cast("double")).as("first_window_share"),
        col("lifetime_days"))
  }

  /** DAILY GROWTH ACCOUNTING — the new / returning / resurrected
    * decomposition of every day's active entities (the standard
    * growth-team ledger): an entity's day is `new` on its first-ever
    * active day, `resurrected` when the gap since its previous
    * active day exceeds `resurrectGapDays`, else `returning`.
    * One row per UTC day with `dau` and the three exact counts
    * (dau = new + returning + resurrected by construction).
    *
    * Scale shape: distinct (entity, day) — orders of magnitude
    * smaller than the log — one entity-partitioned lag over it,
    * then a per-day rollup (map-side combined). Pure integer math
    * on the `epoch_us div 86400e6` grid.
    */
  def growthAccounting(df: DataFrame, entity: String, ts: String,
      resurrectGapDays: Int = 30): DataFrame = {
    require(resurrectGapDays >= 1,
      s"growthAccounting: resurrectGapDays >= 1, got $resurrectGapDays")
    val dayOf = expr(
      s"unix_micros(cast($ts as timestamp)) div 86400000000")
    val days = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), dayOf.as("__day"))
      .distinct()
    val w = Window.partitionBy(col(entity)).orderBy(col("__day").asc)
    val prev = lag(col("__day"), 1).over(w)
    val status = when(prev.isNull, lit("new"))
      .when(col("__day") - prev > resurrectGapDays.toLong,
        lit("resurrected"))
      .otherwise(lit("returning"))
    days.select(col("__day").as("day"), status.as("__st"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        count(when(col("__st") === "new", lit(1))).as("n_new"),
        count(when(col("__st") === "returning", lit(1)))
          .as("n_returning"),
        count(when(col("__st") === "resurrected", lit(1)))
          .as("n_resurrected"))
  }

  /** Per-event SEASONAL RESIDUAL — each event's value minus its
    * entity's [[dowSeasonalIndex]] weekday mean
    * (`<value>_dow_resid`), with the unrounded `dow_mean` attached:
    * the de-seasonalized anomaly signal an offline AUDIT reads
    * ("this Tuesday purchase was large *for this user's
    * Tuesdays*"). NOT a serve-time feature — the weekday mean reads
    * the entity's whole history including the row's future; use
    * [[graft.temporal.WindowOps.expandingTrend]]-style strictly-
    * prior ops for leakage-free serving.
    *
    * Scale shape: the (entity, dow) mean frame (≤ 7 rows per
    * entity) joins back on (entity, dow) — a shuffle of the log
    * against a frame orders of magnitude smaller; the mean itself
    * is the exact micro-sum chain, and the residual is ONE double
    * subtraction an oracle replays.
    */
  def seasonalResidual(df: DataFrame, entity: String, ts: String,
      valueCol: String): DataFrame = {
    graft.temporal.WindowOps.requireFresh(df, "seasonalResidual",
      "dow", "dow_mean", s"${valueCol}_dow_resid")
    val means = dowSeasonalIndex(df, entity, ts, valueCol)
      .select(col(entity), col("dow"), col("dow_mean"))
    val withDow = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .withColumn("dow",
        dayofweek(col(ts).cast("timestamp")).cast("long"))
    val v = col(valueCol).cast("double")
    val clean = when(isnan(v), lit(null)).otherwise(v)
    withDow.join(means, Seq(entity, "dow"), "left")
      .withColumn(s"${valueCol}_dow_resid", clean - col("dow_mean"))
  }

  /** LEAVE-ONE-OUT seasonal residual — [[seasonalResidual]] with
    * the row BLINDED to itself: the weekday mean excludes the
    * row's own value (`(s_d − v) / (n_d − 1)`, exact integers), so
    * the residual never encodes the very value it scores — the same
    * self-exclusion contract as
    * [[graft.operators.GroupOps.looMeanResponse]], applied to the
    * weekly-seasonality baseline. Rows whose weekday group holds no
    * OTHER observation (den = 0), and missing values, read null.
    */
  def looSeasonalResidual(df: DataFrame, entity: String, ts: String,
      valueCol: String): DataFrame = {
    graft.temporal.WindowOps.requireFresh(df, "looSeasonalResidual",
      "dow", "__m", "__n_d", "__s_d", "dow_mean_loo",
      s"${valueCol}_loo_resid")
    val v = col(valueCol).cast("double")
    val clean = when(isnan(v), lit(null)).otherwise(v)
    val m = round(clean * lit(1e6), 0).cast("long")
    val withDow = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .withColumn("dow",
        dayofweek(col(ts).cast("timestamp")).cast("long"))
      .withColumn("__m", m)
    val sums = withDow.groupBy(col(entity), col("dow"))
      .agg(count(col("__m")).as("__n_d"),
        sum(col("__m")).cast("decimal(38,0)").as("__s_d"))
    val joined = withDow.join(sums, Seq(entity, "dow"), "left")
    val selfC = when(col("__m").isNotNull, lit(1L)).otherwise(lit(0L))
    val den = col("__n_d") - selfC
    val meanLoo = when(den > 0,
      (col("__s_d") - coalesce(col("__m"), lit(0L))
        .cast("decimal(38,0)")).cast("double") /
        den.cast("double") / lit(1e6))
    joined
      .withColumn("dow_mean_loo", meanLoo)
      .withColumn(s"${valueCol}_loo_resid", clean - meanLoo)
      .drop("__m", "__n_d", "__s_d")
  }

  /** BEHAVIORAL-PROFILE nearest neighbors — for every entity, the
    * top-k most similar OTHER entities by cosine over their
    * hour-of-day activity histograms ("users who act on the same
    * schedule"): the look-alike / anomaly-cohort primitive, built
    * the way sparse similarity scales — an INVERTED-INDEX join on
    * the hour (each hour bucket pairs only entities active that
    * hour; the Σ aᵢ·bᵢ dot product is a groupBy over shared hours,
    * never a dense |U|² × 24 sweep) — the TF-IDF-similarity shape,
    * re-used on behavior.
    *
    * Exactness: counts are integers, the dot product and both
    * norms are exact decimal(38,0), cosine is
    * `num / (√na·√nb)` — one double chain both engines replay —
    * and the top-k rank orders by (cosine DESC, neighbor ASC), so
    * ties split identically. Entities sharing no active hour are
    * never candidates (cosine 0 rows are absent by construction).
    * At very large |U| with round-the-clock entities the hour
    * index degrades toward |U|² — shard the profile (hour ×
    * weekday = 168 keys) or LSH the vectors before pairing, as the
    * ANN module does for embeddings.
    */
  def profileNeighbors(df: DataFrame, entity: String, ts: String,
      k: Int): DataFrame = {
    require(k >= 1, s"profileNeighbors: k >= 1, got $k")
    val perH = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity).as("__e"),
        hour(col(ts).cast("timestamp")).cast("long").as("__h"))
      .agg(count(lit(1)).as("__n"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val norms = perH.groupBy(col("__e"))
      .agg(sum((d19(col("__n")) * d19(col("__n")))
        .cast("decimal(38,0)")).as("__nn"))
    val a = perH.select(col("__e").as("__ea"), col("__h"),
      col("__n").as("__na"))
    val b = perH.select(col("__e").as("__eb"), col("__h"),
      col("__n").as("__nb"))
    val dots = a.join(b, Seq("__h"))
      .filter(col("__ea") =!= col("__eb"))
      .groupBy(col("__ea"), col("__eb"))
      .agg(sum((d19(col("__na")) * d19(col("__nb")))
        .cast("decimal(38,0)")).as("__num"))
    val scored = dots
      .join(norms.select(col("__e").as("__ea"),
        col("__nn").as("__nna")), Seq("__ea"))
      .join(norms.select(col("__e").as("__eb"),
        col("__nn").as("__nnb")), Seq("__eb"))
      .select(col("__ea"), col("__eb"),
        (col("__num").cast("double") /
          (sqrt(col("__nna").cast("double")) *
            sqrt(col("__nnb").cast("double")))).as("cosine"))
    val w = Window.partitionBy(col("__ea"))
      .orderBy(col("cosine").desc, col("__eb").asc)
    scored.select(col("__ea"), col("__eb"), col("cosine"),
      row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select(col("__ea").as(entity), col("rank"),
        col("__eb").as("neighbor"), col("cosine"))
  }

  /** Per-entity PREFERRED-CADENCE bucket — the MODE of the entity's
    * inter-arrival gaps on a log₂ grid (`gap_bucket` =
    * ⌊log₂ gap_us⌋: bucket 23 ≈ 8–16 s, 36 ≈ 19–38 h …), with the
    * share of gaps landing in it: "this user acts roughly daily"
    * as one integer — the cadence feature raw mean gaps blur when
    * a user mixes bursts with a weekly rhythm. Ties take the
    * SMALLEST bucket via the same monotone integer encoding as
    * [[activityProfile]]'s peak hour (`max(n·256 − bucket)`), so
    * the rule is engine-independent integer math. Zero gaps
    * (simultaneous events) land in bucket −1; entities with no
    * gaps refuse with nulls.
    *
    * Exactness: `log2` of an exact BIGINT is boundary-exact at
    * powers of two (both engines' doubles represent 2^k exactly)
    * and irrational elsewhere — `floor` cannot straddle engines.
    * Scale shape: one entity exchange for the gap lag, one
    * (entity, bucket) count, one entity rollup.
    */
  def gapCadence(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val tus = unix_micros(col(ts).cast("timestamp"))
    val w = Window.partitionBy(col(entity)).orderBy(col("__us").asc)
    val gaps = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), tus.as("__us"))
      .select(col(entity),
        (col("__us") - lag(col("__us"), 1).over(w)).as("__dt"))
      .filter(col("__dt").isNotNull)
    val bucket = when(col("__dt") <= 0, lit(-1L))
      .otherwise(floor(log2(col("__dt").cast("double"))).cast("long"))
    val perB = gaps.groupBy(col(entity), bucket.as("__b"))
      .agg(count(lit(1)).as("__n"))
    perB.groupBy(col(entity))
      .agg(sum(col("__n")).as("n_gaps"),
        max(col("__n") * 256L - col("__b")).as("__e"))
      // decode n = floor((e + 63)/256): buckets live in [-1, 63],
      // so the +63 shift maps e = 256n - b back to exactly n
      .select(col(entity), col("n_gaps"),
        (floor((col("__e") + 63L) / 256L).cast("long") * 256L -
          col("__e")).as("gap_bucket"),
        (floor((col("__e") + 63L) / 256L).cast("long")
          .cast("double") / col("n_gaps").cast("double"))
          .as("mode_share"))
  }

  /** Session-grain NEXT-GAP LABEL — one row per gap session with
    * its stats plus `us_to_next_session` (exact integer micros from
    * this session's END to the entity's next session START) and
    * `is_last_session`: the churn-model TARGET at session grain.
    * This is a LABEL, not a serve-time feature — the gap reads the
    * entity's future by definition; training joins it onto
    * PIT-safe features ([[graft.temporal.WindowOps.sessionPosition]]
    * et al.), serving never computes it.
    *
    * Scale shape: [[graft.temporal.WindowOps.sessionStats]]'s
    * rollup, then one lead window over the |sessions| frame
    * (orders of magnitude smaller than the log).
    */
  def sessionNextGap(df: DataFrame, entity: String, ts: String,
      gapSeconds: Long): DataFrame = {
    val sess = graft.temporal.WindowOps
      .sessionStats(df, entity, ts, gapSeconds)
    val w = Window.partitionBy(col(entity))
      .orderBy(col("session_id").asc)
    val nextStart = lead(
      unix_micros(col("started_at").cast("timestamp")), 1).over(w)
    val endUs = unix_micros(col("ended_at").cast("timestamp"))
    sess.select(col(entity), col("session_id"), col("n_events"),
      col("duration_us"),
      (nextStart - endUs).as("us_to_next_session"),
      nextStart.isNull.as("is_last_session"))
  }

  /** Per-entity GAP QUANTILES — the robust cadence companion of
    * [[interArrivalStats]]: exact np.interp quantiles (median, p90
    * by default) of the entity's inter-arrival gaps in SECONDS,
    * computed by the same distributed weighted-CDF machinery as
    * the capping fits ([[graft.core.Stats.groupedWeightedQuantiles]]
    * — melted range-partitioned CDF, no per-entity buffering). A
    * burst-heavy user's MEAN gap says "minutes" while the MEDIAN
    * says "seconds"; models want both. Entities with no gaps are
    * absent; output one row per entity with one `gap_p{NN}_s`
    * column per requested quantile.
    */
  def gapQuantiles(df: DataFrame, entity: String, ts: String,
      qs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"gapQuantiles: quantiles must be in [0,1], got $qs")
    val tus = unix_micros(col(ts).cast("timestamp"))
    val w = Window.partitionBy(col(entity)).orderBy(col("__us").asc)
    val gaps = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), tus.as("__us"))
      .select(col(entity),
        (col("__us") - lag(col("__us"), 1).over(w)).as("__gap"))
      .filter(col("__gap").isNotNull)
    val qdf = graft.core.Stats.groupedWeightedQuantiles(
      gaps, entity, "__gap", lit(1), qs)
    val aggs = qs.map { q =>
      val nn = math.round(q * 100).toInt
      (max(when(col("q") === q, col("quantile"))) / lit(1e6))
        .as(f"gap_p$nn%02d_s")
    }
    qdf.groupBy(col(entity)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-event SEASONAL Z-SCORE — [[seasonalResidual]] standardized
    * by the weekday's own spread: `(v − μ_dow) / σ_dow` with both
    * moments from exact (entity, dow) integer micro sums
    * (population σ, IEEE sqrt). "2σ above their usual Tuesday" is
    * comparable across entities where the raw residual is not.
    * Same offline-AUDIT caveat as [[seasonalResidual]] (the moments
    * read the whole history); thin (< 2 obs) or flat (σ = 0)
    * weekday cells refuse with null.
    */
  def seasonalZ(df: DataFrame, entity: String, ts: String,
      valueCol: String): DataFrame = {
    graft.temporal.WindowOps.requireFresh(df, "seasonalZ",
      "dow", "__m", "__n_d", "__s_d", "__ss_d",
      s"${valueCol}_dow_z")
    val v = col(valueCol).cast("double")
    val clean = when(isnan(v), lit(null)).otherwise(v)
    val m = round(clean * lit(1e6), 0).cast("long")
    def d19(c: Column) = c.cast("decimal(19,0)")
    val withDow = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .withColumn("dow",
        dayofweek(col(ts).cast("timestamp")).cast("long"))
      .withColumn("__m", m)
    val sums = withDow.groupBy(col(entity), col("dow"))
      .agg(count(col("__m")).as("__n_d"),
        sum(col("__m")).cast("decimal(38,0)").as("__s_d"),
        sum((d19(col("__m")) * d19(col("__m")))
          .cast("decimal(38,0)")).as("__ss_d"))
    val joined = withDow.join(sums, Seq(entity, "dow"), "left")
    val n38 = col("__n_d").cast("decimal(38,0)")
    val mu = col("__s_d").cast("double") / col("__n_d").cast("double")
    val sig = sqrt((n38 * col("__ss_d") - col("__s_d") * col("__s_d"))
      .cast("double")) / col("__n_d").cast("double")
    val z = when(col("__m").isNotNull && col("__n_d") >= 2 &&
      sig > 0, (col("__m").cast("double") - mu) / sig)
    joined.withColumn(s"${valueCol}_dow_z", z)
      .drop("__m", "__n_d", "__s_d", "__ss_d")
  }

  /** TRANSITION-LATENCY matrix — for every ordered pair of
    * consecutive event types inside an entity's (ts, tie)-ordered
    * sequence, the corpus-level timing of that step: `n_steps`,
    * exact `mean_gap_s`, and the integer min/max gaps. The timing
    * companion of [[transitionFeatures]]' probability matrix —
    * "view→purchase takes minutes, error→error takes milliseconds"
    * — feeding both anomaly rules and simulator calibration.
    *
    * Scale shape: one entity-partitioned window forms the bigram
    * frame (lag of type and instant on the same sort), then a
    * ≤ |types|²-row map-side-combined rollup. Σdt is an exact
    * decimal; the one division happens at readout.
    */
  def transitionLatency(df: DataFrame, entity: String, ts: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(ts) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entity)).orderBy(ord: _*)
    val tus = unix_micros(col(ts).cast("timestamp"))
    val big = df
      .filter(col(entity).isNotNull && col(ts).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(typeCol).as("cur_type"), tus.as("__t"),
        lag(col(typeCol), 1).over(w).as("prev_type"),
        lag(tus, 1).over(w).as("__pt"))
      .filter(col("prev_type").isNotNull)
    big.groupBy(col("prev_type"), col("cur_type"))
      .agg(count(lit(1)).as("n_steps"),
        sum((col("__t") - col("__pt")).cast("decimal(38,0)"))
          .as("__sdt"),
        min(col("__t") - col("__pt")).as("min_gap_us"),
        max(col("__t") - col("__pt")).as("max_gap_us"))
      .select(col("prev_type"), col("cur_type"), col("n_steps"),
        (col("__sdt").cast("double") /
          col("n_steps").cast("double") / lit(1e6))
          .as("mean_gap_s"),
        col("min_gap_us"), col("max_gap_us"))
  }

  /** BOUNCE RATE BY START HOUR — per hour-of-day, how many gap
    * sessions STARTING that hour ended after a single event: the
    * "when do visits fail" diagnostic (late-night bounces read very
    * differently from lunch-hour ones). One row per start hour with
    * exact counts and the one readout division.
    */
  def bounceByHour(df: DataFrame, entity: String, ts: String,
      gapSeconds: Long): DataFrame = {
    val sess = graft.temporal.WindowOps
      .sessionStats(df, entity, ts, gapSeconds)
    sess.groupBy(hour(col("started_at").cast("timestamp"))
        .cast("long").as("start_hour"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, lit(1))).as("n_bounces"))
      .select(col("start_hour"), col("n_sessions"), col("n_bounces"),
        (col("n_bounces").cast("double") /
          col("n_sessions").cast("double")).as("bounce_rate"))
  }

  /** Per-event RUNNING consecutive-active-day streak — "day 7 of a
    * 7-day streak" as a point-in-time feature every event can read
    * without future leakage: the number of consecutive UTC days up
    * to and including the event's own day on which the entity had at
    * least one event. Days are exact integer `epoch_us div 86400e6`
    * buckets (no calendar/DST dependence), so the streak is pure
    * integer math on both engines.
    *
    * Scale shape: the distinct (entity, day) frame is one exchange
    * and is ~|entities|·|days| — orders of magnitude smaller than
    * the event log; the island window (lag + running last) rides
    * that same exchange. Attaching back to events is one
    * (entity, day) shuffle join of the full log against the small
    * day frame — never an event-grain window, so a 10^7-event
    * entity costs the same as its distinct-day count.
    */
  def activeDayStreak(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    graft.temporal.WindowOps.requireFresh(df, "activeDayStreak",
      "__day", "streak_days")
    val dayOf = expr(
      s"unix_micros(cast($ts as timestamp)) div 86400000000")
    val days = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), dayOf.as("__day"))
      .distinct()
    val w = Window.partitionBy(col(entity)).orderBy(col("__day").asc)
    val prev = lag(col("__day"), 1).over(w)
    val start = when(prev.isNull || col("__day") =!= prev + 1,
      col("__day"))
    val streaks = days.select(col(entity), col("__day"),
      (col("__day") - last(start, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        + 1L).as("streak_days"))
    df.filter(col(entity).isNotNull && col(ts).isNotNull)
      .withColumn("__day", dayOf)
      .join(streaks, Seq(entity, "__day"))
      .drop("__day")
  }

  /** Per-entity GAP-CADENCE ENTROPY — the regularity companion of
    * [[gapCadence]] (which reports only the modal bucket): Shannon
    * entropy over the entity's log2 gap-bucket distribution
    * (`bucket_entropy`, nats) plus `n_buckets` and
    * `norm_entropy = H / ln(n_buckets)` in [0,1] (null when only
    * one bucket — a perfectly regular cadence). A clockwork
    * heartbeat scores 0; a human mixing seconds-scale bursts with
    * day-scale returns scores near 1. Bucket rule is IDENTICAL to
    * [[gapCadence]] (dt ≤ 0 → −1, else floor(log2 dt)); entities
    * with no gaps are absent.
    *
    * Exactness: bucket counts are integers and the entropy uses the
    * same exact one-pass rearrangement as [[typeMix]]
    * (`ln n − Σ n_b ln n_b / n`), the identical double chain on
    * both engines. Scale shape: one entity exchange for the lag,
    * one (entity, bucket) count (≤ 65 rows per entity), one rollup.
    */
  def gapEntropy(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val tus = unix_micros(col(ts).cast("timestamp"))
    val w = Window.partitionBy(col(entity)).orderBy(col("__us").asc)
    val gaps = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), tus.as("__us"))
      .select(col(entity),
        (col("__us") - lag(col("__us"), 1).over(w)).as("__dt"))
      .filter(col("__dt").isNotNull)
    val bucket = when(col("__dt") <= 0, lit(-1L))
      .otherwise(floor(log2(col("__dt").cast("double"))).cast("long"))
    val perB = gaps.groupBy(col(entity), bucket.as("__b"))
      .agg(count(lit(1)).as("__n"))
    perB.groupBy(col(entity))
      .agg(sum(col("__n")).as("n_gaps"),
        count(lit(1)).as("n_buckets"),
        sum(col("__n").cast("double") *
          log(col("__n").cast("double"))).as("__nl"))
      .select(col(entity), col("n_gaps"), col("n_buckets"),
        (log(col("n_gaps").cast("double")) -
          col("__nl") / col("n_gaps").cast("double"))
          .as("bucket_entropy"),
        when(col("n_buckets") > 1,
          (log(col("n_gaps").cast("double")) -
            col("__nl") / col("n_gaps").cast("double")) /
            log(col("n_buckets").cast("double")))
          .as("norm_entropy"))
  }

  /** Entity BEHAVIORAL-PROFILE matrix — the four temperament
    * features every account-grain model starts from, each already a
    * proven standalone op, composed on one frame: burstiness
    * ([[interArrivalStats]]), action diversity ([[typeMix]]),
    * cadence regularity ([[gapEntropy]]'s normalized entropy) and
    * next-action predictability ([[transitionEntropy]]'s normalized
    * conditional entropy). Inner joins on the entity: a profile row
    * exists where every feature does (≥ 2 typed events).
    *
    * Scale shape: four map-side-combined entity rollups + three
    * entity equi-joins — over an entity-bucketed log the WHOLE plan
    * is exchange-free (q364 pins zero exchanges), which at 100 TB
    * is the difference between four full-log shuffles per profile
    * refresh and none.
    */
  def profileMatrix(df: DataFrame, entity: String, ts: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val a = interArrivalStats(df, entity, ts)
      .select(col(entity), col("n_gaps"), col("burstiness"))
    val b = typeMix(df, entity, typeCol)
      .select(col(entity), col("n_types"), col("type_entropy"))
    val c = gapEntropy(df, entity, ts)
      .select(col(entity),
        col("norm_entropy").as("cadence_norm_entropy"))
    val d = transitionEntropy(df, entity, ts, typeCol, tieBreak)
      .select(col(entity),
        col("norm_cond").as("predictability_norm"))
    a.join(b, Seq(entity)).join(c, Seq(entity)).join(d, Seq(entity))
  }

  /** PEAK WEEKLY SLOT — the modal (weekday × hour) cell of the
    * entity's activity on the 168-slot week grid
    * (`slot = (dayofweek − 1) · 24 + hour`, Sunday 0h = 0): the
    * "Friday 8pm user" signal that [[hourVector]] and [[dowVector]]
    * marginalize away. Ties → the smallest slot via the
    * [[gapCadence]] integer max-encode (slot < 256). Exact integer
    * counts, one (entity, slot) rollup + one entity rollup.
    */
  def peakSlot(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val t = col(ts).cast("timestamp")
    val slot = (dayofweek(t) - 1) * 24 + hour(t)
    val per = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .groupBy(col(entity), slot.cast("long").as("__s"))
      .agg(count(lit(1)).as("__n"))
    per.groupBy(col(entity))
      .agg(sum(col("__n")).as("n_events"),
        max(col("__n") * 256L - col("__s")).as("__e"))
      .select(col(entity), col("n_events"),
        (floor((col("__e") + 167L) / 256L).cast("long") * 256L -
          col("__e")).as("peak_slot"),
        (floor((col("__e") + 167L) / 256L).cast("long")
          .cast("double") / col("n_events").cast("double"))
          .as("peak_share"))
  }

  /** DENSE DAILY COUNT grid — per entity, one row for EVERY UTC day
    * between its first and last activity with the exact event count
    * (zero-filled gaps included): the dense calendar every
    * forecasting / seasonality model needs, where the raw log's
    * silent days are exactly the signal a sparse groupBy loses.
    * Exact integer day grid (`epoch_us div 86400e6`).
    *
    * Scale shape: a (entity, day) count, a per-entity span rollup,
    * one `sequence` explode (output is |entity × span-days| BY
    * DESIGN — that IS the deliverable) and a left join back on the
    * same keys. Callers who fear pathological spans should cap
    * upstream; the op itself adds no unbounded state.
    */
  def denseDailyCounts(df: DataFrame, entity: String, ts: String)
      : DataFrame = {
    val dayOf = expr(
      s"unix_micros(cast($ts as timestamp)) div 86400000000")
    val days = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity), dayOf.as("day"))
      .groupBy(col(entity), col("day"))
      .agg(count(lit(1)).as("__n"))
    val grid = days.groupBy(col(entity))
      .agg(min(col("day")).as("__f"), max(col("day")).as("__l"))
      .select(col(entity),
        explode(sequence(col("__f"), col("__l"))).as("day"))
    grid.join(days, Seq(entity, "day"), "left")
      .select(col(entity), col("day"),
        coalesce(col("__n"), lit(0L)).as("n_events"))
  }

  /** RETENTION CURVE — the headline "day-N retention" numbers:
    * for each requested day offset, the share of ALL entities
    * active (≥ 1 event) exactly N UTC days after their OWN first
    * active day. [[cohortRetention]] slices this per cohort; this
    * is the aggregate curve a launch review quotes. Exact integer
    * day grid (`epoch_us div 86400e6`), exact counts, one division.
    *
    * Scale shape: one distinct (entity, day) frame, a per-entity
    * min, one membership rollup with |offsets| conditional
    * registers — |offsets|-row output at any input size.
    */
  def retentionCurve(df: DataFrame, entity: String, ts: String,
      offsets: Seq[Int]): DataFrame = {
    require(offsets.nonEmpty && offsets.forall(_ >= 1),
      s"retentionCurve: offsets must be >= 1, got $offsets")
    require(offsets.distinct.size == offsets.size,
      s"duplicate offsets in $offsets")
    val dayOf = expr(
      s"unix_micros(cast($ts as timestamp)) div 86400000000")
    val days = df
      .filter(col(entity).isNotNull && col(ts).isNotNull)
      .select(col(entity).as("__e"), dayOf.as("__day"))
      .distinct()
    val first = days.groupBy(col("__e"))
      .agg(min(col("__day")).as("__f"))
    val offs = days.join(first, Seq("__e"))
      .select(col("__e"), (col("__day") - col("__f")).as("__off"))
    val regs = offsets.map(o =>
      count(when(col("__off") === o, lit(1))).as(s"__r$o")) :+
      count_distinct(col("__e")).as("__cohort")
    val agg = offs.agg(regs.head, regs.tail: _*)
    val rows = offsets.map { o =>
      struct(lit(o).as("offset_days"), col("__cohort").as("n_cohort"),
        col(s"__r$o").as("n_retained"),
        when(col("__cohort") > 0, col(s"__r$o").cast("double") /
          col("__cohort").cast("double")).as("retention_rate"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Per-entity CIRCULAR HOUR-OF-DAY profile — when does this
    * entity act, treated on the clock CIRCLE so 23:00 and 01:00 are
    * near (a plain mean would say noon): `n_events`, `peak_hour`
    * (modal UTC hour, ties → smallest, via the same integer
    * max-encode as [[gapCadence]]), `peak_share`, `hour_r` (mean
    * resultant length in [0,1] — 1 = all activity at one hour,
    * 0 = uniform) and `mean_hour` (circular mean in [0,24), null
    * when the resultant is zero and the direction is undefined).
    *
    * Exactness: hour counts are exact integers; the resultant's
    * x/y are fixed-order 24-term sums of count × a cos/sin weight
    * embedded as the SAME compile-time double literal in the Spark
    * plan and the oracle SQL (never each engine's own trig of the
    * angle), so the sums are bit-identical; sqrt is IEEE-exact and
    * the one atan2 sits inside the 6dp readout round.
    * Scale shape: ONE map-side-combined entity rollup (24
    * conditional-count registers, the [[graft.dedup.Dedup]] SimHash
    * bit-vote shape) and a pure projection — no second pass, no
    * window, no per-hour rows.
    */
  def hourVector(df: DataFrame, entity: String, ts: String)
      : DataFrame =
    cycleVector(df, entity, hour(col(ts).cast("timestamp")), 24,
      "peak_hour", "hour_r", "mean_hour")

  /** Weekly twin of [[hourVector]]: the circular profile on the
    * 7-day cycle (Sunday = phase 0, Spark's `dayofweek − 1` grid —
    * the same one [[seasonalZ]]'s oracle aligns on). `dow_r` near 1
    * = a strictly weekly ritual; `mean_dow` its phase. Same exact
    * one-rollup shape and shared-literal trig weights.
    */
  def dowVector(df: DataFrame, entity: String, ts: String)
      : DataFrame =
    cycleVector(df, entity,
      dayofweek(col(ts).cast("timestamp")) - 1, 7,
      "peak_dow", "dow_r", "mean_dow")

  /** The shared cyclic-profile rollup: `period` conditional-count
    * registers in ONE map-side-combined entity agg, the
    * [[gapCadence]]-style integer max-encode for the modal phase
    * (ties → smallest; valid for period < 32), and resultant x/y as
    * fixed-order sums of count × a cos/sin weight embedded as the
    * SAME compile-time double literal in the Spark plan and the
    * oracle SQL — bit-identical sums; the one atan2 sits inside the
    * 6dp readout round.
    */
  private def cycleVector(df: DataFrame, entity: String,
      phase: Column, period: Int, peakName: String, rName: String,
      meanName: String): DataFrame = {
    require(period >= 2 && period < 32,
      s"cycleVector: period in [2,32), got $period")
    val counts = (0 until period).map(i =>
      count(when(phase === i, lit(1))).as(s"__c$i"))
    val per = df
      .filter(col(entity).isNotNull && phase.isNotNull)
      .groupBy(col(entity))
      .agg(counts.head, counts.tail: _*)
    def c(i: Int) = col(s"__c$i")
    val n = (0 until period).map(c).reduce(_ + _)
    // weights are JVM compile-time literals shared with the oracle
    val x = (0 until period).map(i => c(i).cast("double") *
      lit(math.cos(2 * math.Pi * i / period))).reduce(_ + _)
    val y = (0 until period).map(i => c(i).cast("double") *
      lit(math.sin(2 * math.Pi * i / period))).reduce(_ + _)
    // peak: max over i of c_i*32 - i -> ties pick the smaller phase
    val enc = greatest((0 until period).map(i => c(i) * 32L - i): _*)
    val nTop = floor((enc + (period - 1).toLong) / 32L).cast("long")
    val r = sqrt(x * x + y * y) / n.cast("double")
    val meanP = (atan2(y, x) / lit(2 * math.Pi) * period + period) %
      period
    per.select(col(entity), n.as("n_events"),
      (nTop * 32L - enc).as(peakName),
      (nTop.cast("double") / n.cast("double")).as("peak_share"),
      r.as(rName),
      when(sqrt(x * x + y * y) > 0, meanP).as(meanName))
  }

  /** Per-entity TRANSITION (conditional) ENTROPY — how predictable
    * is the entity's NEXT action given its current one: over the
    * (prev_type → cur_type) bigram frame ([[transitionFeatures]]'s
    * grid, per entity), `cond_entropy = H(cur | prev) =
    * H(prev, cur) − H(prev)` in nats, plus `n_bigrams`, `n_pairs`
    * (distinct ordered pairs), `n_cur_types` and `norm_cond =
    * cond / ln(n_cur_types)` in [0,1] (null when fewer than two
    * distinct successor types — perfectly predictable). A bot
    * cycling view→click→view scores 0; erratic behavior → 1.
    *
    * Exactness: both entropies use the [[typeMix]] exact
    * rearrangement over integer counts, and the difference
    * collapses to `(Σ n_p ln n_p − Σ n_pq ln n_pq) / n` — one
    * double chain both engines replay. Scale shape: one entity
    * exchange for the lag, then (entity, prev, cur) and
    * (entity, prev) counts (map-side combined, bounded by |types|²
    * rows per entity) and one rollup join.
    */
  def transitionEntropy(df: DataFrame, entity: String, ts: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(ts) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entity)).orderBy(order: _*)
    val bigrams = df
      .filter(col(entity).isNotNull && col(ts).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(entity), col(typeCol).as("__cur"),
        lag(col(typeCol), 1).over(w).as("__prev"))
      .filter(col("__prev").isNotNull)
    val perPair = bigrams
      .groupBy(col(entity), col("__prev"), col("__cur"))
      .agg(count(lit(1)).as("__npq"))
    val pairRoll = perPair.groupBy(col(entity))
      .agg(sum(col("__npq")).as("n_bigrams"),
        count(lit(1)).as("n_pairs"),
        count_distinct(col("__cur")).as("n_cur_types"),
        sum(col("__npq").cast("double") *
          log(col("__npq").cast("double"))).as("__nlpq"))
    val prevRoll = perPair
      .groupBy(col(entity), col("__prev"))
      .agg(sum(col("__npq")).as("__np"))
      .groupBy(col(entity))
      .agg(sum(col("__np").cast("double") *
        log(col("__np").cast("double"))).as("__nlp"))
    val cond = (col("__nlp") - col("__nlpq")) /
      col("n_bigrams").cast("double")
    pairRoll.join(prevRoll, Seq(entity))
      .select(col(entity), col("n_bigrams"), col("n_pairs"),
        col("n_cur_types"), cond.as("cond_entropy"),
        when(col("n_cur_types") > 1,
          cond / log(col("n_cur_types").cast("double")))
          .as("norm_cond"))
  }

  /** Per-entity TYPE-COUNT PIVOT — the fixed-width behavioral
    * count vector every downstream model joins first:
    * `n_<type>` for each REQUESTED type plus `n_other` (non-null
    * types outside the list) and `n_total`. Exact integers, one
    * map-side-combined rollup, |types|+2 registers; the slug/
    * collision rules mirror
    * [[graft.temporal.WindowOps.recencyByType]].
    */
  def typePivot(df: DataFrame, entity: String, typeCol: String,
      types: Seq[String]): DataFrame = {
    require(types.nonEmpty, "typePivot: types must be non-empty")
    val slugs = types.map(t => t.toLowerCase.replaceAll("[^a-z0-9]+", "_"))
    require(slugs.distinct.size == types.size,
      s"typePivot: types collide after slugging: $types")
    val counts = types.zip(slugs).map { case (t, slug) =>
      count(when(col(typeCol) === lit(t), lit(1))).as(s"n_$slug")
    }
    val other = count(when(col(typeCol).isNotNull &&
      !col(typeCol).isin(types: _*), lit(1))).as("n_other")
    val total = count(when(col(typeCol).isNotNull, lit(1)))
      .as("n_total")
    df.filter(col(entity).isNotNull)
      .groupBy(col(entity))
      .agg(counts.head, (counts.tail :+ other :+ total): _*)
  }

  /** FUNNEL REPORT — [[funnelSteps]] rolled up to the dashboard
    * grain: one row per step with `n_reached` (exact), the
    * conversion rate from step 1 and the mean latency from step 1
    * in seconds (exact decimal Σ of integer micros, one division;
    * step 1 reports 0.0). The per-entity step instants stay
    * available via [[funnelSteps]]; this is the bounded
    * |steps|-row readout a monitoring job actually ships.
    *
    * Scale shape: the funnel scan itself, then ONE explode to the
    * (entity × steps) melt and one |steps|-row map-side-combined
    * rollup; the step-1 denominator attaches as a broadcast 1-row
    * aggregate. No window, no second scan.
    */
  def funnelReport(df: DataFrame, entity: String, ts: String,
      typeCol: String, steps: Seq[String], horizonSeconds: Long)
      : DataFrame = {
    val fs = funnelSteps(df, entity, ts, typeCol, steps,
      horizonSeconds)
    val melt = steps.indices.map { i =>
      struct(lit(i + 1).as("step_idx"),
        lit(steps(i)).as("step_name"),
        col(s"t${i + 1}_us").as("__t"), col("t1_us").as("__t1"))
    }
    val perStep = fs
      .select(explode(array(melt: _*)).as("s")).select(col("s.*"))
      .groupBy(col("step_idx"), col("step_name"))
      .agg(count(col("__t")).as("n_reached"),
        sum((col("__t") - col("__t1")).cast("decimal(38,0)"))
          .as("__slat"))
    val n1 = perStep.filter(col("step_idx") === 1)
      .select(col("n_reached").as("__n1"))
    // step-to-step conversion: the |steps|-row frame self-joins on
    // idx-1 (broadcast), never an unpartitioned window
    val prevC = perStep.select(
      (col("step_idx") + 1).as("step_idx"),
      col("n_reached").as("__nprev"))
    perStep.crossJoin(broadcast(n1))
      .join(broadcast(prevC), Seq("step_idx"), "left")
      .select(col("step_idx"), col("step_name"), col("n_reached"),
        when(col("__n1") > 0, col("n_reached").cast("double") /
          col("__n1").cast("double")).as("conv_from_first"),
        when(col("__nprev") > 0, col("n_reached").cast("double") /
          col("__nprev").cast("double")).as("conv_from_prev"),
        when(col("n_reached") > 0,
          col("__slat").cast("double") /
            col("n_reached").cast("double") / 1e6)
          .as("mean_latency_s"))
  }

  /** TOP-K COMMON SESSION PATHS — the "user journeys" rollup: each
    * gap session becomes its ordered event-type sequence
    * (`view>view>click>purchase`), and the k most frequent
    * sequences are reported with exact counts (ties → the
    * lexicographically smaller path). The funnel you did not know
    * to look for ([[funnelSteps]] checks a HYPOTHESIZED order; this
    * surfaces the empirical ones).
    *
    * Determinism: the per-session sequence sorts an array of
    * (ts, tieBreak, type) structs — total order, engine-exact; the
    * top-k is an `ORDER BY (count DESC, path) LIMIT k`, which Spark
    * executes as a distributed takeOrdered — no global-sort stage,
    * no unpartitioned window. Scale shape: sessionize's entity
    * exchange, a (entity, session) rollup, a |paths|-row count.
    */
  def sessionPaths(df: DataFrame, entity: String, ts: String,
      typeCol: String, gapSeconds: Long, k: Int): DataFrame = {
    require(k >= 1, s"sessionPaths: k >= 1, got $k")
    val sess = graft.temporal.WindowOps.sessionize(
      df.filter(col(entity).isNotNull && col(ts).isNotNull &&
        col(typeCol).isNotNull), entity, ts, gapSeconds)
    val arr = array_sort(collect_list(
      struct(col(ts), col(typeCol).as("__t"))))
    sess.groupBy(col(entity), col("session_id"))
      .agg(concat_ws(">", transform(arr, x => x.getField("__t")))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  /** Consecutive-session TYPE-SET JACCARD — behavioral drift at
    * session grain: for every session with a predecessor (same
    * entity, [[graft.temporal.WindowOps.sessionize]]'s gap rule),
    * the Jaccard similarity of the two sessions' DISTINCT event-type
    * sets (`n_prev_types`, `n_cur_types`, `n_common`,
    * `type_jaccard = |∩| / |∪|`). A user whose sessions stop
    * resembling each other is exploring or breaking — either way a
    * feature; 1.0 = the same behavioral repertoire, 0.0 = disjoint.
    * First sessions are absent (no predecessor). Exact: all four
    * outputs derive from integer set sizes and one double division.
    *
    * Scale shape: sessionize's one entity exchange; the per-session
    * type sets are a distinct + `collect_set` over the (entity,
    * session, type) frame (bounded by |types| per session, NOT by
    * events); the predecessor comparison is one lag window over the
    * |sessions| frame with `array_intersect` on the two small
    * sorted arrays. Never an event-grain self-join.
    */
  def sessionTypeJaccard(df: DataFrame, entity: String, ts: String,
      typeCol: String, gapSeconds: Long): DataFrame = {
    val sess = graft.temporal.WindowOps
      .sessionize(df.filter(col(entity).isNotNull &&
        col(ts).isNotNull && col(typeCol).isNotNull),
        entity, ts, gapSeconds)
    val perSess = sess
      .select(col(entity), col("session_id"), col(typeCol).as("__t"))
      .distinct()
      .groupBy(col(entity), col("session_id"))
      .agg(sort_array(collect_set(col("__t"))).as("__set"))
    val w = Window.partitionBy(col(entity))
      .orderBy(col("session_id").asc)
    val prevSet = lag(col("__set"), 1).over(w)
    val nCommon = size(array_intersect(col("__set"), prevSet))
    perSess
      .select(col(entity), col("session_id"),
        size(prevSet).cast("long").as("n_prev_types"),
        size(col("__set")).cast("long").as("n_cur_types"),
        nCommon.cast("long").as("n_common"))
      .filter(col("n_prev_types").isNotNull)
      .withColumn("type_jaccard",
        col("n_common").cast("double") /
          (col("n_prev_types") + col("n_cur_types") -
            col("n_common")).cast("double"))
  }
}

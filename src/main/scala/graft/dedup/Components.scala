package graft.dedup

import graft.core.{DriverFinish, Lineage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a duplicate-pair graph — the step that
  * turns near-dup PAIRS (from MinHash-LSH, SimHash, phash banding,
  * n-gram Jaccard) into duplicate CLUSTERS with one canonical
  * representative each. At corpus scale a duplicate family is rarely a
  * single pair: page A ~ B, B ~ C, A !~ C under the threshold — pair
  * dedup keeps one of {A,B} and one of {B,C} and still ships two
  * near-identical documents to training. Component-level dedup keeps
  * exactly one.
  *
  * Algorithm: iterative min-label propagation WITH pointer jumping.
  * Each round, a node's label becomes the min of
  *   (its label, its neighbors' labels, its label's label).
  * Neighbor propagation alone needs O(diameter) rounds (a path graph
  * degenerates to O(n)); the label-of-label "jump" halves pointer
  * chains every round, giving O(log n) rounds on any graph — the same
  * doubling that powers the MapReduce CC algorithms (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14).
  *
  * A graph whose edges fit the driver bound runs no round at all: it is
  * finished on the driver by union-find (see [[connectedComponents]]).
  *
  * Scale shape per round: two equi-joins + one min-groupBy, ALL
  * hash-partitioned on node id — no broadcast of the label table, no
  * driver-side graph. Lineage is truncated every round (iterative
  * plans otherwise grow exponentially and re-execute from the source
  * each round): if the cluster has a reliable checkpoint dir
  * (`sparkContext.setCheckpointDir`, HDFS/S3), rounds use durable
  * `checkpoint` — executor loss mid-computation recovers from the
  * last round instead of restarting the whole iteration; otherwise
  * eager `localCheckpoint` (executor-local blocks, fine for
  * single-box runs).
  *
  * Checkpoint storage of superseded rounds is reclaimed by Spark's
  * ContextCleaner once the driver drops the previous round's
  * reference (each round rebinds `labels`): persisted blocks are
  * always cleaned; durable checkpoint FILES are cleaned when the
  * cluster sets `spark.cleaner.referenceTracking.cleanCheckpoints=
  * true` — recommended for long-lived applications running many
  * component jobs, else O(rounds) label-table copies persist in the
  * checkpoint dir until application exit.
  *
  * Convergence detection is exact and cheap: labels only ever
  * decrease, so the component assignment is stable exactly when no
  * row's label changed — one anti-condition count on the already
  * co-partitioned (old, new) join.
  */
object Components {

  /** Driver union-find over a packed edge list: id -> min component
    * id, exactly the fixpoint the iterative rounds converge to. Dense
    * indices come from a sorted-distinct id array (binary search), so
    * union by smaller INDEX root == smaller ID root; path halving
    * keeps finds near-constant.
    */
  private def localComponents(us: Array[Long], vs: Array[Long])
      : (Array[Long], Array[Int]) = {
    val m = us.length
    val ids = new Array[Long](2 * m)
    System.arraycopy(us, 0, ids, 0, m)
    System.arraycopy(vs, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var nn = 0
    var i = 0
    while (i < ids.length) {
      if (nn == 0 || ids(nn - 1) != ids(i)) { ids(nn) = ids(i); nn += 1 }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(ids, nn)
    val parent = Array.tabulate(nn)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < m) {
      val a = find(java.util.Arrays.binarySearch(nodes, us(i)))
      val b = find(java.util.Arrays.binarySearch(nodes, vs(i)))
      if (a != b) {
        if (a < b) parent(b) = a else parent(a) = b
      }
      i += 1
    }
    val comp = Array.tabulate(nn)(find)
    (nodes, comp)
  }

  /** Connected components of the undirected graph given as an edge
    * list. Returns one row per node: (`id`, `component`) with
    * `component` = the minimum node id in the component. Isolated
    * nodes (absent from `edges`) are absent from the output.
    *
    * A graph whose edge rows fit the driver bound
    * ([[graft.core.DriverFinish]]: `spark.sql.autoBroadcastJoinThreshold`
    * bytes of `(u, v)` UnsafeRows, 24 B per edge, so about 440k edges at
    * the 10 MB default) is finished on the DRIVER by union-find in ONE
    * job (none when the edges are already a local relation) — the
    * standard endgame of the MapReduce CC algorithms (Kiveris et al.,
    * SoCC'14: iterate while the graph is large, finish locally once it
    * fits in one machine). Near-dup pair graphs are sparse relative to
    * the corpus, so in practice the whole graph fits and every
    * per-round driver round-trip would be pure overhead. A larger graph
    * (or a session with the threshold at -1) runs the iterative rounds
    * over the edges the collect cached.
    *
    * Driver heap of the local finish: the collected edge rows (at most
    * the bound), the union-find's packed edge, sorted id, parent and
    * component arrays (~48 B per edge), then one `(id, component)` row
    * per node (~100 B boxed) converted into the returned frame's local
    * relation (~40 B per node more), which lives as long as the
    * returned frame.
    *
    * Ids must be integral (cast to long internally).
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 40): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    DriverFinish.described(edges.sparkSession, "dedup.components") {
      Lineage.scoped { sc =>
        // edges already on the driver need no cache; any other edge
        // plan is cached by the collect's job for the rounds to read
        val kept = if (DriverFinish.held(e).isDefined) e else sc.persist(e)
        DriverFinish.collect(kept, "dedup.components") match {
          case Some(rows) => localFinish(edges.sparkSession, rows)
          // both directions once; duplicate pairs collapse (min is
          // idempotent but distinct keeps the per-round join small)
          case None => rounds(sc.persist(kept.unionByName(
            kept.select(col("v").as("u"), col("u").as("v"))).distinct()),
            maxIter)
        }
      }
    }
  }

  /** The driver union-find finish over the collected `(u, v)` rows. */
  private def localFinish(spark: org.apache.spark.sql.SparkSession,
      edges: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val us = edges.iterator.map(_.getLong(0)).toArray
    val vs = edges.iterator.map(_.getLong(1)).toArray
    val (nodes, comp) = localComponents(us, vs)
    // nullable mirrors the iterative path's output schema exactly
    // (dump/readout schemas must not depend on which path ran)
    DriverFinish.frame(spark,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, component BIGINT"),
      nodes.indices.map(i => org.apache.spark.sql.catalyst.InternalRow(
        nodes(i), nodes(comp(i)))))
  }

  /** The label-propagation rounds over the undirected edge list. Each
    * round is truncated by [[graft.core.Lineage.iterate]]: durable with
    * a checkpoint dir (executor-loss recovery, as documented above),
    * else lazily local — a LogicalRDD at once, so the 3-way label
    * self-reference cannot nest round over round, materialized by the
    * round's ONE convergence count.
    */
  private def rounds(und: DataFrame, maxIter: Int): DataFrame = {
    // seed labels with ROUND ONE's result directly: from comp=id,
    // the first propagation's min over {id, neighbors' ids, id's
    // label's label=id} is exactly min(id, min neighbor) — one
    // map-side-combined groupBy over the edge list instead of a
    // full join round (round-6 optimization; saves one join + one
    // convergence action per call)
    var labels = Lineage.iterate(und.groupBy(col("u").as("id"))
      .agg(least(min(col("v")), first(col("u"))).as("comp")))
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // ONE message relation per round (round-6 optimization: the
      // neighbor and jump propagations used to be two separate
      // joins — 2 exchanges + a third convergence join per round):
      // a row (x, y) means "x hears label(y)". Graph edges (u, v)
      // give neighbor messages; pointer edges (id, comp) give the
      // label-of-label jump (join comp -> labels yields
      // comp(comp(id))). Both resolve through a SINGLE equi-join
      // against the label table.
      val msgs = und.unionByName(
        labels.select(col("id").as("u"), col("comp").as("v")))
      val heard = msgs
        .join(labels.select(col("id").as("v"), col("comp")), Seq("v"))
        .select(col("u").as("id"), col("comp"))
      // fold the OLD label into the same aggregation so convergence
      // needs no join: every aggregated id appears in the labels
      // branch exactly once (edge endpoints and pointer sources are
      // all labeled), so max(old) recovers its previous label.
      val next = Lineage.iterate(heard
        .select(col("id"), col("comp"), lit(null).cast("long").as("old"))
        .unionByName(labels.select(col("id"), col("comp"),
          col("comp").as("old")))
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), max(col("old")).as("old")))
      // the ONE action of the round: materializes the lazily-
      // checkpointed round and decides convergence
      val changed = next.filter(col("comp") =!= col("old")).count()
      labels = next.select(col("id"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Duplicate-cluster size histogram — the dedup QUALITY REPORT:
    * how many clusters of 2, of 3, ... does the corpus contain?
    * (Cluster-size mass is what decides whether near-dup removal is
    * worth a pipeline stage.) Two tiny aggregations over the
    * component table; singleton docs (no pairs) are not represented.
    */
  def clusterSizeHistogram(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    connectedComponents(edges, srcCol, dstCol)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Component-level dedup: keep each row whose id is its component's
    * canonical representative (the minimum id), plus every row that is
    * in no duplicate pair at all. `edges` are duplicate pairs over
    * `idCol` values (e.g. the output of [[Dedup.minHashNearDups]] /
    * [[graft.multimodal.Multimodal.phashNearDups]]).
    *
    * Components finished on the driver (see [[connectedComponents]])
    * drop their non-root members with a filter on an id list bounded by
    * the same driver bound, so no action over the result ships the
    * component relation; an integral id column is required for it (the
    * join's comparison casts other types). Components computed by the
    * distributed rounds are joined.
    */
  def dedupByComponents(df: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val comps = connectedComponents(edges, srcCol, dstCol)
    val integral = DriverFinish.isIntegral(
      df.select(df(idCol)).schema.head.dataType)
    DriverFinish.held(comps) match {
      case Some(rows) if integral =>
        val members = rows.collect {
          case r if r.getLong(0) != r.getLong(1) => r.getLong(0)
        }
        if (members.isEmpty) df
        else df.filter(df(idCol).isNull || !df(idCol).isin(members: _*))
      case _ =>
        val comp = comps
          .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
        df.join(comp, df(idCol) === col("__cc_id"), "left")
          .filter(col("__cc_comp").isNull || col("__cc_comp") === df(idCol))
          .drop("__cc_id", "__cc_comp")
    }
  }

  /** Component-level dedup keeping the BEST row per cluster by a
    * numeric quality score (highest wins; ties -> smallest id) instead
    * of [[dedupByComponents]]'s smallest-id rule — what production
    * curation actually wants: among near-duplicate copies keep the
    * longest / highest-quality / most recent one, not the one with the
    * accidentally-smallest id. Rows in no duplicate pair survive
    * unconditionally.
    *
    * Scale shape: labels join back to the corpus, then ONE
    * map-side-combined `max_by` aggregation per cluster key (the
    * [[Dedup.exact]] move — no window, no per-cluster sort, exchange
    * bounded by |clusters| x |partitions| however hot a cluster is).
    * Float scores: NaN is mapped to -Infinity first — Spark sorts NaN
    * GREATEST, so an unguarded NaN score would win every argmax.
    */
  def dedupByComponentsBest(df: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      scoreCol: String): DataFrame = {
    val comp = connectedComponents(edges, srcCol, dstCol)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    val keyed = df.join(comp, df(idCol) === col("__cc_id"), "left")
      .withColumn("__key",
        coalesce(col("__cc_comp"), df(idCol).cast("long")))
    val isFloat = df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    val score =
      if (isFloat)
        when(isnan(col(scoreCol).cast("double")),
          lit(Double.NegativeInfinity))
          .otherwise(col(scoreCol).cast("double"))
      else col(scoreCol).cast("double")
    val allCols = df.columns.toSeq
    keyed.groupBy(col("__key"))
      .agg(max_by(struct(allCols.map(col): _*),
        struct(score.as("s"),
          (col(idCol).cast("long") * -1).as("nid"))).as("__row"))
      .select(allCols.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** LEAKAGE-SAFE train/val/test split: the split key is the
    * duplicate-CLUSTER label (component min id; a doc in no pair keys
    * on its own id), so every member of a near-dup cluster lands in
    * the same split — a naive per-doc split puts one copy of a
    * duplicated page in train and another in test, and the eval set
    * silently measures memorization. Composes
    * [[connectedComponents]] with the deterministic salted-hash rule
    * of [[graft.text.Sharding.hashSplit]]: no RNG, no migration as
    * the corpus grows, and adding a NEW duplicate of an existing page
    * can never land it in a different split than its cluster.
    *
    * `edges` are duplicate pairs over `idCol` values (e.g. minhash /
    * phash / containment pairs). Ids must be integral. Adds `split`.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, salt: String,
      cuts: Seq[(String, Int)]): DataFrame = {
    val comp = connectedComponents(edges, srcCol, dstCol)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    val keyed = df.join(comp, df(idCol) === col("__cc_id"), "left")
      .withColumn("__split_key",
        coalesce(col("__cc_comp"), df(idCol).cast("long")))
      .drop("__cc_id", "__cc_comp")
    graft.text.Sharding.hashSplit(keyed, "__split_key", salt, cuts)
      .drop("__split_key")
  }

  /** SemDeDup-style duplication-aware sampling weights: every member
    * of a near-dup cluster gets `1 / |cluster|` (singletons 1.0), so
    * a downstream weighted sampler ([[graft.text.Sharding
    * .weightedSamplePerGroup]], mixture sampling, DSIR) gives each
    * duplicated PAGE the aggregate mass of one page instead of
    * count-many — the soft alternative to dropping duplicates
    * outright (keeps the diversity of near-dup variants, kills the
    * frequency bias that makes models memorize boilerplate).
    *
    * Scale shape: one groupBy on the cluster key (exchange bounded by
    * \|clusters\| x \|partitions\|) + one join back; integer-count
    * division, engine-exact. Adds `out` (default `sample_weight`).
    */
  def clusterSizeWeights(df: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      out: String = "sample_weight"): DataFrame = {
    val comp = connectedComponents(edges, srcCol, dstCol)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    val keyed = df.join(comp, df(idCol) === col("__cc_id"), "left")
      .withColumn("__wkey",
        coalesce(col("__cc_comp"), df(idCol).cast("long")))
      .drop("__cc_id", "__cc_comp")
    val sizes = keyed.groupBy(col("__wkey"))
      .agg(count(lit(1)).as("__wn"))
    keyed.join(sizes, Seq("__wkey"))
      .withColumn(out, lit(1.0) / col("__wn").cast("double"))
      .drop("__wkey", "__wn")
  }

  /** Cross-split contamination matrix over a near-dup pair graph: for
    * an EXISTING split assignment (however it was made), count the
    * near-dup pairs inside and across splits. The diagonal
    * (`split_a = split_b`) is in-split duplication; any off-diagonal
    * row is train/eval leakage — the audit twin of the
    * CONSTRUCTIVE leakage-safe splits (q144/q223), for splits this
    * engine did not build. Pairs are unordered, so the matrix is
    * canonicalized with `least/greatest`; `cross_split` flags the
    * leakage rows directly.
    *
    * `assign` maps `idCol -> splitCol`; a pair endpoint missing from
    * `assign` fails loudly (an unassigned id would silently vanish
    * from the audit — the one thing an audit must not do). Two hash
    * joins on the id + one bounded groupBy (\|splits\|^2 rows).
    */
  def splitLeakageMatrix(pairs: DataFrame, assign: DataFrame,
      pairACol: String, pairBCol: String, idCol: String,
      splitCol: String): DataFrame = {
    val a = assign.select(col(idCol).as(pairACol),
      col(splitCol).as("__sa"))
    val b = assign.select(col(idCol).as(pairBCol),
      col(splitCol).as("__sb"))
    val joined = pairs
      .join(a, Seq(pairACol), "left")
      .join(b, Seq(pairBCol), "left")
    require(joined.filter(col("__sa").isNull || col("__sb").isNull)
      .head(1).isEmpty,
      "splitLeakageMatrix: pair endpoint(s) missing from the split " +
        "assignment — an unassigned id would silently vanish from " +
        "the audit")
    joined
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_split", col("split_a") =!= col("split_b"))
  }
}

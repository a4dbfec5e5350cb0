package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-6 interleaved A/B probe for the CC local finish and the
  * span-dedup reassembly rewrites (dev tool; same interleaving
  * rationale as [[VerifyProbe]] — the sandbox's external CPU steal
  * makes back-to-back binary comparisons meaningless).
  *
  * Pairs for the CC comparison are materialized to a probe-local
  * parquet ONCE so the timed region is the component computation, not
  * the MinHash pair generation (guide §1.4 isolation).
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.dedup.{Components, Dedup}
    import graft.text.SpanDedup

    def docs = {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      d.unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
    }

    // one-time pair materialization (untimed scaffold)
    val pairPath = s"/tmp/graft_abprobe_pairs_${cpus}"
    Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .write.mode("overwrite").parquet(pairPath)
    def pairs = spark.read.parquet(pairPath)

    def ccBody(): Long = {
      val d = docs
      val n = Components.dedupByComponents(d, "doc_id", pairs,
        "id_a", "id_b").count()
      spark.catalog.clearCache(); n
    }

    def span127New(): Long = {
      val n = SpanDedup.removeDuplicatedSpans(docs, "doc_id", "text", 8)
        .count()
      spark.catalog.clearCache(); n
    }
    // the pre-round-6 reassembly, inlined (anti-join + collect_list)
    def span127Old(): Long = {
      val d = docs
      val toks = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("__pos", "__t")))
      val grams = SpanDedup.gramRows(d, "doc_id", "text", 8)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val covered = SpanDedup.dupStartsFromGrams(grams, 2L)
        .select(col("doc_id"),
          explode(sequence(col("__pos"), col("__pos") + 7)).as("__pos"))
        .distinct()
      val kept = toks.join(covered, Seq("doc_id", "__pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("__pos"), col("__t")))),
            e => e.getField("__t"))).as("clean_text"))
        .withColumnRenamed("doc_id", "__kd")
      val out = d.select(col("doc_id"),
          when(col("text").isNull, lit(0L))
            .otherwise(size(split(col("text"), " ")).cast("long"))
            .as("__total"))
        .join(kept, col("doc_id") <=> col("__kd"), "left")
        .select(col("doc_id"),
          (col("__total") - coalesce(col("__kept"), lit(0L)))
            .as("n_tokens_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
      val n = out.count()
      spark.catalog.clearCache(); n
    }

    def span139New(): Long = {
      val n = SpanDedup.duplicationRatio(docs, "doc_id", "text", 8)
        .count()
      spark.catalog.clearCache(); n
    }
    // pre-round-6 totals: aggregation over the gram frame
    def span139Old(): Long = {
      val grams = SpanDedup.gramRows(docs, "doc_id", "text", 8)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val totals = grams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"))
      val dups = SpanDedup.dupStartsFromGrams(grams, 2L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_windows"))
        .withColumnRenamed("doc_id", "__dd")
      val n = totals
        .join(dups, col("doc_id") <=> col("__dd"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          (coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
            col("n_windows")).as("dup_ratio"))
        .count()
      spark.catalog.clearCache(); n
    }

    // gram-id hash cost: md5-fold (current) vs xxhash64 over the same
    // gram strings — identical dup-window relation absent collisions
    def gramKernelMd5(): Long = {
      val n = SpanDedup.gramRows(docs, "doc_id", "text", 8)
        .agg(expr("bit_xor(__g)")).head(); spark.catalog.clearCache(); 1L
    }
    def gramKernelXx(): Long = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.unsafe.types.UTF8String
      val in = Dedup.spreadForKernel(
        docs.select(col("doc_id"), col("text").cast("string")))
      val schema = StructType(Seq(
        StructField("doc_id", LongType, nullable = true),
        StructField("__gs", ArrayType(LongType, containsNull = false),
          nullable = false)))
      val k = in.mapPartitions { it =>
        it.flatMap { r =>
          val text = if (r.isNullAt(1)) null else r.getString(1)
          if (text == null) Iterator.empty
          else {
            val toks = text.split(" ", -1)
            if (toks.length < 8) Iterator.empty
            else {
              val gs = new Array[Long](toks.length - 7)
              val sb = new java.lang.StringBuilder
              var p = 0
              while (p < gs.length) {
                sb.setLength(0)
                var j = 0
                while (j < 8) {
                  if (j > 0) sb.append(' ')
                  sb.append(toks(p + j)); j += 1
                }
                gs(p) = XxHash64Function.hash(
                  UTF8String.fromString(sb.toString), StringType, 42L)
                p += 1
              }
              Iterator.single(Row(r.get(0), gs.toSeq))
            }
          }
        }
      }(Encoders.row(schema))
        .select(col("doc_id"),
          posexplode(col("__gs")).as(Seq("__pos", "__g")))
      k.agg(expr("bit_xor(__g)")).head(); spark.catalog.clearCache(); 1L
    }

    // exact-quantile spine: does persisting the (k,v)-agg output save
    // the duplicated subtree execution that repartitionByRange's
    // sampling pass causes? (guide §2.4: an orderBy/range exchange
    // executes its child twice — once to sample bounds, once to move)
    def quantInput = {
      val n = 1000000L
      spark.range(0, n).select(
        (expr("xxhash64(id)").cast("double") / 1e18).as("a"),
        (expr("xxhash64(id, 7)").cast("double") / 1e18).as("b"))
    }
    def quantBody(persistAgg: Boolean): Long = {
      val df = quantInput
      val cols = Seq("a", "b")
      val pair = explode(array(cols.map(c =>
        struct(lit(c).as("k"), col(c).cast("double").as("v"))): _*))
      val pairs = df.select(pair.as("p"), lit(1.0).as("w"))
        .filter(col("p.v").isNotNull && !isnan(col("p.v")))
        .select(col("p.k").as("k"), col("p.v").as("v"), col("w"))
      val parts = spark.sessionState.conf.numShufflePartitions
      val agg0 = pairs.groupBy(col("k"), col("v"))
        .agg(sum(col("w")).as("w"))
      val agg = if (persistAgg)
        agg0.persist(StorageLevel.MEMORY_AND_DISK) else agg0
      val ranged = agg
        .repartitionByRange(parts, col("k"), col("v"))
        .withColumn("__pid", spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
      val partTotals = ranged.groupBy(col("k"), col("__pid"))
        .agg(sum(col("w")).as("pw"))
        .collect()
      val wPart = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k"), col("__pid")).orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val fv = ranged.select(col("k"), col("v"),
        sum(col("w")).over(wPart).as("f"))
      val r = fv.agg(max(when(col("f") <= 500000.0, col("v"))))
        .head()
      spark.catalog.clearCache()
      partTotals.length.toLong
    }

    def withIter[T](body: => T): T = {
      spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
      try body finally spark.conf.unset("spark.graft.cc.localEdgeLimit")
    }

    val variants: Seq[(String, () => Long)] =
      if (sys.env.get("SPARK_GRAFT_AB_SET").contains("gram")) Seq(
        ("gram kernel md5", () => gramKernelMd5()),
        ("gram kernel xxhash", () => gramKernelXx()))
      else if (sys.env.get("SPARK_GRAFT_AB_SET").contains("quant")) Seq(
        ("quant agg-twice (old)", () => quantBody(false)),
        ("quant agg-persist", () => quantBody(true)))
      else Seq(
      ("cc local-finish", () => ccBody()),
      ("cc iterative", () => withIter(ccBody())),
      ("q127 new kernel", () => span127New()),
      ("q127 old antijoin", () => span127Old()),
      ("q139 new projection", () => span139New()),
      ("q139 old aggregation", () => span139Old()))
    variants.foreach { case (n, f) =>
      val c = f(); System.err.println(s"[abprobe] warmup $n count=$c") }
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to reps).foreach { _ =>
      variants.foreach { case (n, f) =>
        val t0 = System.nanoTime()
        f()
        times(n) = times(n) :+ (System.nanoTime() - t0) / 1e9
      }
    }
    variants.foreach { case (n, _) =>
      val ts = times(n)
      println(f"[abprobe] $n%-22s min=${ts.min}%6.3f s raw=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}

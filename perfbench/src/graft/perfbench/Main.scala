package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run in one JVM:
  * `--workload W --seed N --seconds S --trace 0|1 --cores C --work DIR --out DIR`.
  *
  * Untraced (`--trace 0`): one cold iteration, then timed iterations
  * until at least one and `S` seconds of them ran; prints the
  * end-to-end metrics. Traced (`--trace 1`): after a cold untraced and
  * a cold traced iteration, traced and untraced iterations alternate;
  * the traced ones give the per-layer metrics, the untraced ones the
  * base for `trace.overhead_s`. The last stdout line starting `RESULT ` is the
  * run's result; a `RECORD ` line before it carries the diagnostics.
  */
object Main {
  val Layers = Seq("io.scan", "io.write", "io.verify", "temporal.hot_keys",
    "temporal.asof", "temporal.window", "core.fit", "core.transform",
    "dedup.candidates", "dedup.verify", "dedup.components",
    "dedup.index_probe", "dedup.index_append", "text.spans")
  val Ratios = Seq("temporal.asof.match_rate", "temporal.hot_keys.recall",
    "dedup.verify.pass_rate", "io.write.written_share")

  final case class It(iter: Int, traced: Boolean, timed: Boolean,
      startMs: Long, endMs: Long, wallNs: Long, cpuNs: Long, gcMs: Long,
      compiles: Long, untimedS: Double, errors: Seq[String])

  /** Progress on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s: $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = a("out")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // one iteration generates more classes than Spark's default cache
      // of 100 holds: at the default every iteration recompiles all of
      // them (~130 for pit_skew), so no iteration would be warm
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val tracer = new Tracer(spark)
    val w = Workload(name, spark, a("seed").toLong, s"${a("work")}/data")

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val its = scala.collection.mutable.ArrayBuffer.empty[It]
    def once(i: Int, tr: Boolean, timed: Boolean): It = {
      val u0 = System.nanoTime()
      w.prepare(i)
      val (c0, g0, k0) = (os.getProcessCpuTime, gcMs, compiles)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = Try(if (tr) tracer.iteration(i)(w.run(i, tracer))
        else w.run(i, tracer))
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      val (c1, g1, k1) = (os.getProcessCpuTime, gcMs, compiles)
      val errs = res match {
        case Success(o) => Try(w.check(i, o)) match {
          case Success(e) => e
          case Failure(e) => Seq(s"check threw $e")
        }
        case Failure(e) => Seq(s"iteration threw $e")
      }
      tracer.release()
      spark.catalog.clearCache()
      errs.foreach(e => System.err.println(s"[perfbench] iteration $i: $e"))
      val it = It(i, tr, timed, m0, m1, t1 - t0, c1 - c0, g1 - g0, k1 - k0,
        (System.nanoTime() - u0 - (t1 - t0)) / 1e9, errs)
      its += it
      System.err.println(f"[perfbench] iteration $i%d traced=$tr timed=$timed " +
        f"wall=${it.wallNs / 1e9}%.3f s cpu=${it.cpuNs / 1e9}%.3f s " +
        f"untimed=${it.untimedS}%.3f s compiles=${it.compiles} ok=${errs.isEmpty}")
      it
    }

    w.setup()
    val r0 = System.nanoTime()
    w.references()
    val referenceS = (System.nanoTime() - r0) / 1e9
    log(f"setup done (references $referenceS%.3f s)")
    var i = 0
    def next(tr: Boolean, timed: Boolean): It = { val it = once(i, tr, timed); i += 1; it }
    val warm = if (traced) Seq(false, true) else Seq(false)
    val warmUntimedS = warm.map(tr => next(tr, timed = false).untimedS).sum
    // what a job pays before its first real iteration: the harness's
    // references, input rebuilds and output checks are left out
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 -
      referenceS - warmUntimedS
    // at least one timed iteration (one traced/untraced pair when traced)
    var spent = 0L
    var n = 0
    while (n < (if (traced) 2 else 1) || spent < seconds * 1e9) {
      spent += next(traced && n % 2 == 0, timed = true).wallNs
      n += 1
    }

    rec.drain(spark)
    val (jobs, tasks) = rec.snapshot
    val m = new Metrics(jobs, tasks, tracer.spans.toSeq, cores)
    // a failed iteration has no valid output, so it gives no figures
    val timed = its.filter(it => it.timed && it.errors.isEmpty).toSeq
    val plain = timed.filterNot(_.traced)
    val roots = tracer.spans.filter(s => s.parent < 0 &&
      timed.exists(it => it.traced && it.iter == s.iter)).toSeq
    val failed = its.count(_.errors.nonEmpty)
    val rows = w.rowsPerIter.toDouble
    def med(xs: Seq[Double]) = Metrics.median(xs)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val win = plain.map(it => m.window(it.startMs, it.endMs))
        Seq(
          ("rows_per_s", rows / (med(plain.map(_.wallNs.toDouble)) / 1e9), "1/s"),
          ("setup_s", setupS, "s"),
          ("cpu_s_per_mrow", med(plain.map(_.cpuNs.toDouble)) / 1e9 / (rows / 1e6), "s"),
          ("shuffle_mb_per_mrow", med(win.map(_.shuffleBytes.toDouble)) / 1e6 / (rows / 1e6), "MB"),
          ("peak_task_mem_mb", med(win.map(_.peakMem.toDouble)) / 1e6, "MB"),
          ("stored_bytes_per_row", w.storedBytesPerRow, "B"))
      } else {
        val perIter = roots.map(m.layers)
        val layer = for (l <- Layers; (k, unit) <- Metrics.LayerKeys)
          yield (s"$l.$k", med(perIter.map(_.getOrElse(l, Map.empty[String, Double])
            .getOrElse(k, 0.0))), unit)
        val rowsOut = (l: String) => med(perIter.map(_.get(l).fold(0.0)(_("rows_out"))))
        val ratios = w.ratios ++ (if (rowsOut("dedup.candidates") > 0)
          Map("dedup.verify.pass_rate" ->
            rowsOut("dedup.verify") / rowsOut("dedup.candidates"))
          else Map.empty)
        layer ++ Ratios.map(r => (r, ratios.getOrElse(r, 0.0), "ratio")) ++ Seq(
          ("jvm.gc_s", med(plain.map(_.gcMs / 1e3)), "s"),
          ("jvm.codegen_compiles", plain.map(_.compiles).sum.toDouble, "count"),
          ("trace.overhead_s", (med(timed.filter(_.traced).map(_.wallNs.toDouble)) -
            med(plain.map(_.wallNs.toDouble))) / 1e9, "s"))
      }

    val record = obj(
      "workload" -> JString(name), "seed" -> JString(a("seed")),
      "trace" -> JInt(if (traced) 1 else 0), "cores" -> JInt(cores),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> JString(spark.version),
      "java_version" -> JString(System.getProperty("java.version")),
      "rows_per_iteration" -> num(rows),
      "setup_s" -> num(setupS),
      "reference_s" -> num(referenceS),
      "warmup_untimed_s" -> num(warmUntimedS),
      "executor_busy_untraced" -> num(med(plain.map(it =>
        m.window(it.startMs, it.endMs).runMs / (cores.toDouble * (it.endMs - it.startMs))))),
      "executor_busy_traced" -> num(med(roots.map(m.busyShare))),
      "layer_coverage" -> num(med(roots.map(m.coverage))),
      "jobs_by_label" -> JInt(m.attribution.byLabel),
      "jobs_by_window" -> JInt(m.attribution.byWindow),
      "ratios" -> obj(w.ratios.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "iterations" -> JArray(its.toList.map(it => obj(
        "iter" -> JInt(it.iter), "traced" -> JBool(it.traced),
        "timed" -> JBool(it.timed), "wall_s" -> num(it.wallNs / 1e9),
        "cpu_s" -> num(it.cpuNs / 1e9), "gc_s" -> num(it.gcMs / 1e3),
        "codegen_compiles" -> JInt(it.compiles),
        "untimed_s" -> num(it.untimedS),
        "errors" -> JArray(it.errors.toList.map(JString(_)))))))
    if (traced) {
      System.err.println(s"[perfbench] jobs attributed by span label: " +
        s"${m.attribution.byLabel}, by time window: ${m.attribution.byWindow}")
      writeSpans(s"$out/spans.jsonl", tracer.spans.toSeq, m)
    }
    println("RECORD " + compact(render(record)))
    println("RESULT " + compact(render(obj(
      "correct" -> JBool(failed == 0),
      "attempted" -> JInt(its.size),
      "failed" -> JInt(failed),
      "metrics" -> obj(metrics.map { case (k, v, u) =>
        k -> obj("value" -> num(v), "unit" -> JString(u)) }: _*)))))
    spark.stop()
  }

  private def obj(kv: (String, JValue)*): JObject = JObject(kv.toList)

  /** A measured figure; JSON has no NaN or infinity. */
  private def num(v: Double): JValue =
    if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  private def writeSpans(path: String, spans: Seq[Span], m: Metrics): Unit = {
    val jobsOf = m.attribution.spanOfJob.groupBy(_._2).map { case (s, js) => s -> js.size }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), spans.map { s =>
      compact(render(obj("id" -> JInt(s.id), "name" -> JString(s.name),
        "parent" -> JInt(s.parent), "iter" -> JInt(s.iter),
        "start_ms" -> JInt(s.startMs), "end_ms" -> JInt(s.endMs),
        "dur_s" -> num(s.durNs / 1e9), "rows" -> JInt(s.rows),
        "jobs" -> JInt(jobsOf.getOrElse(s.id, 0).toLong))))
    }.asJava)
  }
}

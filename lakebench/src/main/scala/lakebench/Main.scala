package lakebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The workload benchmark's JVM entry point (run it through `run.py`,
  * which builds it and pins the JVM):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Builds the workload's inputs and base state [[SetupReps]] times (the
  * last build is the one measured), runs [[WarmupIterations]] untimed
  * iterations, then closed-loop iterations for `--seconds`. With
  * `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * spends half the time untraced and half traced and prints the per-layer
  * metrics. The last stdout line is the result object. */
object Main {

  val SetupReps = 3
  /** Untimed iterations after set-up: with one, the first timed
    * iteration still ran beside ~17 s of JIT compilation. */
  val WarmupIterations = 2
  val Master = "local[4]"

  val Workloads: Map[String, Workload] = Map(
    "medallion_batch" -> MedallionBatch,
    "cdc_upsert" -> CdcUpsert,
    "corpus_dedup" -> CorpusDedup,
    "ann_search" -> AnnSearch)

  val Spans: Seq[String] = Seq("pipeline.ingest", "gold.publish", "io.merge",
    "ops.incrementalAgg", "io.snapshotWhere", "io.compactSmallFiles",
    "io.append", "ext.curate", "ext.dedupNearDuplicates",
    "ext.incrementalNearDupMatches", "ext.ivfpqBuild", "ext.ivfpqTopK")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val workload = Workloads.getOrElse(name,
      sys.error(s"unknown workload $name (one of ${Workloads.keys.mkString(", ")})"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work)
    println(json(Map("session" -> Map(
      "master" -> Master, "heap" -> args.getOrElse("heap", "?"),
      "seed" -> seed, "workload" -> name, "trace" -> traced,
      "spark" -> spark.version, "commit" -> args.getOrElse("commit", "?"),
      "source_sha" -> args.getOrElse("source-sha", "?")))))
    try {
      var attempted, failed = 0L
      def tally(r: Recorder): Unit = { attempted += r.attempted; failed += r.failed }

      // set-up: session start, then inputs and base state built
      // SetupReps times (the last build is the one measured; the median
      // build counts), then one untimed warm-up iteration, so JIT and lazy
      // initialisation stay out of the timings
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val builds = (0 until SetupReps).map { rep =>
        val t0 = System.nanoTime()
        val ctx = new Ctx(spark, seed, work.resolve(s"rep$rep"))
        val inst = workload.setUp(ctx)
        ((System.nanoTime() - t0) / 1e9, ctx, inst)
      }
      builds.init.foreach { case (_, c, i) => i.close(); delete(c.dir) }
      val (_, ctx, inst) = builds.last
      val t0 = System.nanoTime()
      for (i <- 0 until WarmupIterations) try inst.iteration(i) catch {
        case e: Exception =>
          ctx.rec.failed += 1
          System.err.println(s"[lakebench] warm-up iteration $i failed: $e")
      }
      tally(ctx.rec)
      val setupS = sessionS + median(builds.map(_._1)) + (System.nanoTime() - t0) / 1e9
      System.err.println(f"[lakebench] setup session=$sessionS%.2f " +
        s"builds=${builds.map(b => f"${b._1}%.2f").mkString(",")} " +
        f"warmup=${(System.nanoTime() - t0) / 1e9}%.2f")

      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).toSeq
      def phase(secs: Double, from: Int): (Recorder, Int) = {
        ctx.rec = new Recorder
        heap.foreach(_.resetPeakUsage())
        val t0 = System.nanoTime()
        var i = from
        while (i == from || (System.nanoTime() - t0) / 1e9 < secs) {
          ctx.rec.iterOps = 0.0
          val (cg0, jit0) = (codegenCompiles, jitSeconds)
          val ok = try { inst.iteration(i); true } catch {
            case e: Exception =>
              System.err.println(s"[lakebench] iteration $i failed: $e"); false
          }
          if (ok) ctx.rec.rows += inst.rowsPerIteration
          ctx.rec.add("iter", ctx.rec.iterOps)
          ctx.rec.note("codegen_compiles", codegenCompiles - cg0)
          ctx.rec.note("jit_s", jitSeconds - jit0)
          System.err.println(f"[lakebench] iteration $i: ${ctx.rec.iterOps}%.3f s, " +
            f"${codegenCompiles - cg0}%.0f codegen compiles, ${jitSeconds - jit0}%.2f s JIT")
          i += 1
        }
        (ctx.rec, i)
      }
      def heapPeakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0

      val metrics: Seq[(String, Double, String)] = if (!traced) {
        val (rec, _) = phase(seconds, WarmupIterations)
        tally(rec)
        ctx.rec = new Recorder
        inst.finish(full = false)
        tally(ctx.rec)
        report(rec)
        Seq(("setup_s", setupS, "s"),
          ("rows_per_s", rec.rows / rec.samples("iter").sum, "rows/s"),
          ("iter_s_p50", median(rec.samples("iter")), "s"))
      } else {
        val (plain, next) = phase(seconds / 2, WarmupIterations)
        val peak = heapPeakMb
        tally(plain)
        val tr = new Trace(spark.sparkContext)
        spark.sparkContext.addSparkListener(tr)
        ctx.trace = Some(tr)
        val gc0 = gcSeconds
        val (rec, _) = phase(seconds / 2, next)
        val gcS = gcSeconds - gc0
        tally(rec)
        ctx.trace = None
        val mismatches = tr.conservation()
        mismatches.foreach(m => System.err.println(s"[lakebench] conservation: $m"))
        failed += mismatches.size
        attempted += 1
        spark.sparkContext.removeSparkListener(tr)
        ctx.rec = new Recorder
        val fin = inst.finish(full = true)
        tally(ctx.rec)
        report(plain)
        layerMetrics(plain, rec, tr, fin, gcS, mismatches.isEmpty,
          failed.toDouble / attempted) :+ (("heap_peak_mb", peak, "MB"))
      }
      println(json(Map(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, v, u) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap)))
      inst.close()
    } finally {
      spark.stop()
      delete(work)
    }
  }

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.builder("lakebench", Some(Master), Some(4))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's default 100-entry codegen cache cycles on these workloads
      // (~200 generated classes per iteration), so every iteration would
      // recompile them all and the JIT would never settle: iteration times
      // then spread 0.27 of their median across seeds
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // the traced run cross-checks its listener against the status store
      .config("spark.ui.retainedJobs", "1000000")
      .config("spark.ui.retainedStages", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The per-layer metrics: the untraced half supplies the per-call
    * timings and ratios, the traced half the span counters. */
  def layerMetrics(plain: Recorder, rec: Recorder, tr: Trace,
      fin: Map[String, Double], gcS: Double, conserved: Boolean,
      failedRatio: Double): Seq[(String, Double, String)] = {
    val iters = rec.samples("iter").size.toDouble
    def note(k: String): Double = rec.noted(k)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val engine = (Spans :+ Trace.Unattributed).map(tr.counters)
    val spanned = Spans.flatMap { s =>
      val c = tr.counters(s)
      Seq((s"$s.wall_s", c.wallS, "s"), (s"$s.driver_s", c.driverS, "s"),
        (s"$s.jobs", c.jobs.toDouble, "count"),
        (s"$s.tasks", c.tasks.toDouble, "count"), (s"$s.task_s", c.taskS, "s"),
        (s"$s.shuffle_bytes", c.shuffleBytes.toDouble, "bytes"))
    }
    val un = tr.counters(Trace.Unattributed)
    val build = tr.counters("ext.ivfpqBuild")
    val merge = tr.counters("io.merge")
    val written = Seq("io.merge", "io.compactSmallFiles", "io.append", "gold.publish")
      .map(tr.counters(_).outputBytes).sum.toDouble
    val tails = Seq("iter", "write", "read").map(k =>
      (s"${k}_s_tail", tail(plain.samples(k)), "s"))
    val planned = Seq(
      ("iter_samples", plain.samples("iter").size.toDouble, "count"),
      ("write_s_p50", median(plain.samples("write")), "s"),
      ("read_s_p50", median(plain.samples("read")), "s"),
      ("build_s_p50", median(plain.samples("build")), "s"),
      ("space_amp", fin.getOrElse("space_amp", 0.0), "ratio"),
      ("recall_at_10", ratio(plain.noted("recall_hits"),
        plain.noted("recall_total")), "ratio"),
      ("dup_recall", ratio(plain.noted("dup_found"),
        plain.noted("dup_planted")), "ratio"),
      ("failed_ratio", failedRatio, "ratio"))
    tails ++ planned ++ spanned ++ Seq(
      ("unattributed.jobs", un.jobs.toDouble, "count"),
      ("unattributed.tasks", un.tasks.toDouble, "count"),
      ("unattributed.task_s", un.taskS, "s")) ++
      Trace.Modules.map(m => (s"callsite.$m.task_s", tr.callsiteTaskS(m), "s")) ++
      Seq(
        ("spark.jobs_per_iter", engine.map(_.jobs).sum / iters, "count"),
        ("spark.tasks_per_iter", engine.map(_.tasks).sum / iters, "count"),
        ("spark.gc_s_per_iter", gcS / iters, "s"),
        ("spark.empty_task_ratio",
          ratio(engine.map(_.emptyTasks).sum.toDouble, engine.map(_.tasks).sum.toDouble), "ratio"),
        ("spark.spill_bytes", tr.total.spillBytes.toDouble, "bytes"),
        ("spark.codegen_compiles_per_iter", note("codegen_compiles") / iters, "count"),
        ("jvm.jit_s_per_iter", note("jit_s") / iters, "s"),
        ("ext.ivfpqBuild.empty_task_ratio",
          ratio(build.emptyTasks.toDouble, build.tasks.toDouble), "ratio"),
        ("io.merge.rows_written_per_changed_row",
          ratio(merge.outputRecords.toDouble, note("merge_changed_rows")), "ratio"),
        ("io.merge.files_rewritten",
          ratio(note("merge_files_rewritten"), note("merges")), "count"),
        ("io.snapshotWhere.files_scanned_ratio",
          ratio(note("lookup_files_scanned"), note("lookup_live_files")), "ratio"),
        ("io.live_files", fin.getOrElse("live_files", 0.0), "count"),
        ("io.bytes_written_per_user_byte", ratio(written, note("user_bytes")), "ratio"),
        ("ext.dedupNearDuplicates.removed_docs", note("dedup_removed") / iters, "count"),
        ("ext.incrementalNearDupMatches.pairs", note("incremental_pairs") / iters, "count"),
        ("tracing.overhead_ratio",
          ratio(median(rec.samples("iter")), median(plain.samples("iter"))), "ratio"),
        ("tracing.conserved", if (conserved) 1.0 else 0.0, "bool"))
  }

  /** Whole-stage codegen classes compiled so far (codegen cache misses). */
  def codegenCompiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest sample with at least ten samples beyond it (the maximum
    * when there are fewer than eleven samples). */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.max(0, xs.size - 11))

  private def report(r: Recorder): Unit = r.times.foreach { case (k, v) =>
    System.err.println(
      f"[lakebench] $k%-6s n=${v.size}%3d p50=${median(v.toSeq)}%.4f " +
        f"tail=${tail(v.toSeq)}%.4f (p${100.0 * math.max(1, v.size - 10) / v.size}%.0f) " +
        v.map(x => f"$x%.2f").mkString("[", " ", "]"))
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def json(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }
      .mkString("{", ", ", "}")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case x => json(x.toString)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{Caching, GraftSession}

object Stats {
  /** Linearly interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One window: closed-loop cycles until `seconds` have passed and at
  * least two cycles ran, so no statistic rests on a single cycle.
  */
final case class Window(cycleMs: Seq[Double], rows: Long, failed: Int,
                        cachedMb: Seq[Double], releaseMs: Seq[Double]) {
  def busyS: Double = cycleMs.sum / 1000.0
}

/** Benchmark entry point; see perfbench/README.md. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "rows_per_s" -> "rows/s",
    "cycle_ms_p50" -> "ms", "cycle_ms_p90" -> "ms", "sink_bytes_per_row" -> "B/row")

  private val dedupOps = Seq("containment", "minhash_lsh", "simhash", "prefix")

  /** Every per-layer metric, with its unit; an idle layer reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "jolokia.normalize_s" -> "s", "jolokia.flatten_s" -> "s",
    "jolokia.records_out" -> "count", "jolokia.rejected_envelopes" -> "count",
    "metrics.rollup_s" -> "s",
    "sinks.es_write_s" -> "s", "sinks.kafka_write_s" -> "s", "sinks.es_bytes" -> "B",
    "sinks.kafka_bytes" -> "B", "sinks.files_per_batch" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms", "streaming.plan_ms" -> "ms",
    "streaming.wal_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.source_reads_per_row" -> "ratio",
    "text.shingle_s" -> "s") ++
    dedupOps.flatMap(op => Seq(s"dedup.${op}_s" -> "s", s"dedup.$op.pairs" -> "count",
      s"dedup.$op.exchanges" -> "count", s"dedup.$op.shuffle_bytes" -> "B",
      s"dedup.$op.candidates_per_pair" -> "ratio")) ++
    Seq("core.release_ms" -> "ms", "core.cached_mb" -> "MB",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.busy_frac" -> "ratio", "spark.task_skew" -> "ratio",
      "trace_overhead_frac" -> "ratio")

  val Workloads: Seq[String] = Seq("jmx_poll", "jmx_backfill", "dedup_corpus")

  private def workload(name: String, c: Ctx): Workload = name match {
    case "jmx_poll" => new JmxPoll(c)
    case "jmx_backfill" => new JmxBackfill(c)
    case "dedup_corpus" => new DedupCorpus(c)
  }

  private def timeS(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** (steal, total) CPU ticks from /proc/stat; zeros where it is absent. */
  private def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val t = new String(Files.readAllBytes(f), UTF_8).linesIterator.next()
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (if (t.length == 8) t(7) else 0L, t.sum)
    }
  }

  private def storageMb(c: Ctx): Double =
    c.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def runWindow(w: Workload, c: Ctx, n: Int, seconds: Double,
                        maxCycles: Int = Int.MaxValue): Window = {
    w.open(n)
    val cycleMs, cachedMb, releaseMs = mutable.ArrayBuffer[Double]()
    var rows = 0L
    var failed = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (failed == 0 && i < maxCycles && (i < 2 || System.nanoTime() < end)) {
      w.prepare(i)
      val t = System.nanoTime()
      try rows += c.sp("cycle")(w.cycle(i))
      catch {
        case NonFatal(e) =>
          println(s"CYCLE FAILED $i: $e")
          e.printStackTrace(System.out)
          failed += 1
      }
      cycleMs += (System.nanoTime() - t) / 1e6
      cachedMb += storageMb(c)
      releaseMs += c.sp("core.release")(timeS(Caching.releaseAll())) * 1000
      if (failed == 0) w.afterCycle(i)
      i += 1
    }
    w.close()
    Window(cycleMs.toSeq, rows, failed, cachedMb.toSeq, releaseMs.toSeq)
  }

  /** The layer metrics the listeners give directly, per cycle. */
  private def sparkLayers(tr: Tracer, win: Window, cores: Int): Seq[(String, Double)] = {
    val a = tr.total(n => n != "idle" && !n.startsWith("prefix."))
    val n = win.cycleMs.size.toDouble
    // skew of the stage that cost the most task time
    val skew = if (a.stageTasks.isEmpty) 0.0 else {
      val ts = a.stageTasks.values.maxBy(_.sum).map(_.toDouble).toSeq
      val med = Stats.quantile(ts, 0.5)
      if (med > 0) ts.max / med else 0.0
    }
    Seq("spark.jobs" -> a.jobs / n, "spark.stages" -> a.stages / n, "spark.tasks" -> a.tasks / n,
      "spark.executor_run_ms" -> a.runMs / n, "spark.executor_cpu_ms" -> a.cpuNs / 1e6 / n,
      "spark.gc_ms" -> a.gcMs / n, "spark.shuffle_write_bytes" -> a.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> a.shuffleRead / n, "spark.spill_bytes" -> a.spill / n,
      "spark.busy_frac" -> a.runMs / (cores * win.cycleMs.sum),
      "spark.task_skew" -> skew,
      "core.release_ms" -> Stats.quantile(win.releaseMs, 0.5),
      "core.cached_mb" -> Stats.quantile(win.cachedMb, 0.5))
  }

  private def table(title: String, rows: Seq[(String, Double, String)]): Unit = {
    println(title)
    rows.foreach { case (k, v, u) => println(f"  $k%-36s $v%16.4f $u") }
  }

  /** Writes the inputs of every workload for one seed, without Spark:
    * three poll sweeps, the backfill capture and the corpus as text.
    */
  private def genOnly(dir: Path, seed: Long, tiny: Boolean): Unit = {
    val p = Sizes.jmx(tiny)
    for (i <- 0 until 3) {
      val sb = new java.lang.StringBuilder()
      Gen.sweep(p, seed, i, Gen.baseEpoch(seed) + i * 60L, sb)
      Gen.writeAtomically(dir.resolve("stage.tsv"), dir.resolve(s"poll/sweep-$i.tsv"), sb)
    }
    val (sweeps, days) = Sizes.capture(tiny)
    Gen.capture(p, seed, sweeps, days, dir.resolve("capture"))
    Files.write(dir.resolve("corpus.tsv"), Gen.corpus(Sizes.corpus(tiny), seed).rows
      .map(_.productIterator.mkString("\t")).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = args("seed").toLong
    val tiny = args.get("scale").contains("tiny")
    args.get("gen-only").foreach { d => genOnly(Paths.get(d), seed, tiny); return }

    val name = args("workload")
    require(Workloads.contains(name), s"unknown workload $name (one of ${Workloads.mkString(", ")})")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val root = Paths.get(args("root"))
    val cores = Runtime.getRuntime.availableProcessors()
    val load = graft.tools.Capture.loadAvg()
    println("env " + Json.obj(Seq("workload" -> name, "seed" -> seed, "nproc" -> cores,
      "spark" -> org.apache.spark.SPARK_VERSION, "java" -> System.getProperty("java.version"),
      "load_avg_start" -> load, "loaded" -> (load > cores))))
    if (load > cores) println(s"WARNING: start load $load exceeds nproc $cores; timings are suspect")

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = try {
      val c = new Ctx(spark, seed, tiny)
      val w = workload(name, c)
      // set-up: session start, input generation (median of three), and
      // a warm-up window on the real inputs that lets JIT and codegen
      // settle before the timed window
      val inputs = root.resolve("inputs")
      val genS = (0 until 3).map { _ =>
        Disk.deleteTree(inputs)
        timeS(w.generate(inputs))
      }
      val warm0 = System.nanoTime()
      val warm = runWindow(w, c, 0, 1e6, w.warmupCycles)
      val warmS = (System.nanoTime() - warm0) / 1e9
      val setupS = sessionS + Stats.quantile(genS, 0.5) + warmS

      val (steal0, ticks0) = cpuTicks()
      val plain = runWindow(w, c, 1, seconds)
      val (steal1, ticks1) = cpuTicks()
      val p50 = Stats.quantile(plain.cycleMs, 0.5)
      val p90 = Stats.quantile(plain.cycleMs, 0.9)
      val e2e = Map("setup_s" -> setupS, "rows_per_s" -> plain.rows / plain.busyS,
        "cycle_ms_p50" -> p50, "cycle_ms_p90" -> p90,
        "sink_bytes_per_row" -> (if (plain.failed == 0) w.sinkBytesPerRow else 0.0))
      val e2eRows = EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      table(s"end-to-end ($name, seed $seed, ${plain.cycleMs.size} cycles, " +
        s"${plain.cycleMs.count(_ > p90)} beyond p90)", e2eRows)

      var failed = warm.failed + plain.failed
      var attempted = warm.cycleMs.size + plain.cycleMs.size
      val metrics: Seq[(String, Double, String)] = if (!traced) e2eRows else {
        val tr = new Tracer(spark)
        tr.attach()
        c.tracer = Some(tr)
        val win = runWindow(w, c, 2, seconds)
        failed += win.failed
        attempted += win.cycleMs.size
        val got = (if (win.failed == 0) w.layers(tr, win.cycleMs.size) else Nil) ++
          sparkLayers(tr, win, cores) :+
          ("trace_overhead_frac" -> (Stats.quantile(win.cycleMs, 0.5) / p50 - 1))
        tr.detach()
        c.tracer = None
        args.get("spans-out").foreach(f => Files.write(Paths.get(f), tr.spansJson.getBytes(UTF_8)))
        val m = got.toMap
        val rows = PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
        table(s"per-layer ($name, traced, ${win.cycleMs.size} cycles; spark.* per cycle)", rows)
        rows
      }

      attempted += c.checks.size
      failed += c.checks.count(!_.ok)
      println("info " + Json.obj(Seq("cycles" -> plain.cycleMs.size, "cycle_ms" -> plain.cycleMs,
        "beyond_p90" -> plain.cycleMs.count(_ > p90), "session_s" -> sessionS,
        "generate_s" -> genS, "warmup_s" -> warmS, "warmup_cycle_ms" -> warm.cycleMs, "checks" -> c.checks.size,
        "failed_frac" -> failed.toDouble / attempted,
        "cached_mb" -> Stats.quantile(plain.cachedMb, 0.5),
        // CPU time the hypervisor gave to other guests during the timed window
        "steal_frac" -> (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0))))
      println("PERFBENCH_RESULT " + Json.obj(Seq("correct" -> (failed == 0),
        "attempted" -> attempted, "failed" -> failed,
        "metrics" -> ListMap(metrics.map { case (k, v, u) =>
          k -> ListMap("value" -> v, "unit" -> u) }: _*))))
      if (failed > 0) 1 else 0
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }
}

package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Side-channel for per-query I/O telemetry the wall clock alone can't
  * explain: a sink-bound query (st_sinks writes ~60M NDJSON lines per
  * run) reports the bytes it physically wrote, and Bench emits
  * bytes + MB/s next to the timing — so a slow capture self-identifies
  * as the disk-throughput band (measured 5.8–18.5 s per flush across
  * container generations, BENCH_SF10_SPIKES_ISO_r12) instead of
  * re-tripping spike triage every round.
  */
object BenchMetrics {
  private val sink = scala.collection.concurrent.TrieMap[String, Long]()

  /** Record the bytes a query's run physically wrote to its sinks
    * (overwrites per run — the sink dirs are per-invocation temp dirs,
    * so each run's total stands alone).
    */
  def recordSinkBytes(query: String, bytes: Long): Unit = sink(query) = bytes

  def sinkBytes: Map[String, Long] = sink.toMap

  /** Recursive on-disk size of a sink directory. */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }
}

object Bench {

  /** Measurement outcome: `timings` holds min-of-runs seconds for
    * queries whose runs SUCCEEDED; `errors` holds the failure message
    * for any query that threw (it never appears in `timings` — the r4
    * bench recorded the wall time of a failure as if it were a fast
    * success); `spreads` holds run_max/run_min per query with ≥ 2
    * successful runs.
    */
  final case class Result(
      timings: Seq[(String, Double)],
      spreads: Map[String, Double],
      errors: Map[String, String],
      gcPerQuery: Map[String, Long] = Map.empty)

  /** Time each query (min of `runs` full-result counts). Separated
    * from main() so a spec can feed a deliberately-broken query and
    * assert it lands in `errors`, not in the timings.
    */
  def measure(spark: SparkSession, sfDir: String,
              queries: Seq[(String, (SparkSession, String) => DataFrame)],
              runs: Int = 2): Result = {
    val timings = Vector.newBuilder[(String, Double)]
    val spreads = Map.newBuilder[String, Double]
    val errors = Map.newBuilder[String, String]
    val gcPer = Map.newBuilder[String, Long]
    for ((name, fn) <- queries) {
      val ok = Vector.newBuilder[Double]
      var err: Option[String] = None
      val gcBefore = gcMillis()
      for (_ <- 1 to runs if err.isEmpty) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          ok += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        // Per-run isolation boundary, OUTSIDE the timed window: free
        // this run's transient checkpoint blocks (memoized artifacts
        // stay — Caching.retain). Without it the 140-query suite
        // accumulates every prior operator's index blocks in the one
        // heap and later queries pay their GC bill: d_incremental
        // measured 52.3 s mid-suite vs 10.6 s isolated at sf1.
        graft.Caching.releaseTransient()
      }
      val times = ok.result()
      err match {
        case Some(msg) => errors += name -> msg
        case None =>
          timings += name -> times.min
          if (times.size >= 2 && times.min > 0) spreads += name -> times.max / times.min
          // GC attribution across ALL this query's runs: heap pressure
          // a query induces is visible even when min-of-runs hides it
          // (the r7 sf1 artifact needed exactly this to separate one
          // query's GC storm from suite-wide regression).
          gcPer += name -> (gcMillis() - gcBefore)
      }
    }
    Result(timings.result(), spreads.result(), errors.result(), gcPer.result())
  }

  /** The driver records only the LAST ~2000 chars of stdout (every
    * BENCH_r0N.json through r8 has `parsed: null` because the full
    * per-query line is ~6 KB and sbt appends a `[success]` line after
    * it — the captured tail always started mid-line). The final line
    * printed must therefore fit the tail budget WITH the sbt suffix:
    * queries are included by descending cost until `budget` chars,
    * the rest collapse into queries_omitted/omitted_sec, and `full`
    * points at the complete file artifact. Errors are never dropped —
    * n_errors is always present and the map is included before any
    * timings are.
    */
  /** Locale-independent fixed-point format: the f-interpolator uses
    * the JVM default locale, which on comma-decimal locales (de_DE,
    * fr_FR) would emit `620,086` — invalid JSON in the contract line.
    */
  private def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def compactLine(total: Double, timings: Seq[(String, Double)],
                  errors: Map[String, String], gcMs: Long, loadAvg: Double,
                  sfDir: String, subsetTag: String, budget: Int = 1700,
                  loadAvgStart: Double = 0.0): String = {
    // errors are the content a consumer most needs, but a run where
    // MANY queries fail must not blow the tail budget either: include
    // sorted errors until they use at most half the budget, collapse
    // the rest into errors_omitted (n_errors always carries the total
    // and the full map is in bench_out.json).
    val errorsJson = {
      val entries = errors.toSeq.sortBy(_._1)
        .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v.take(120)) }
      val kept = Vector.newBuilder[String]
      var used = 0
      var nKept = 0
      for (e <- entries if used + e.length + 1 <= budget / 2) {
        kept += e; used += e.length + 1; nKept += 1
      }
      val omitTag =
        if (nKept == entries.size) ""
        else s""","errors_omitted":${entries.size - nKept}"""
      kept.result().mkString("{", ",", "}") + omitTag
    }
    def assemble(qEntries: Seq[String], omitted: Int, omittedSec: Double): String = {
      val omitTag =
        if (omitted == 0) ""
        else s""","queries_omitted":$omitted,"omitted_sec":${num(omittedSec, 3)}"""
      // n_errors and degraded live in the FIRST ~120 bytes by contract:
      // the round scripts' cleanliness gate is a `head -c 120 | grep`
      // (a full-line grep can't run on the driver's truncated tail),
      // and the r16 sweep landed an errored artifact as "clean"
      // precisely because n_errors sat at the end of the line.
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec"""" +
        s""","n_errors":${errors.size}""" +
        s""","degraded":${tools.Capture.degraded(loadAvgStart)}""" +
        s""","load_avg_start":${num(loadAvgStart, 2)}""" +
        s""","queries":${qEntries.mkString("{", ",", "}")}$omitTag""" +
        s""","errors":$errorsJson""" +
        s""","gc_ms":$gcMs,"load_avg":${num(loadAvg, 2)},"sf":"$sfDir"""" +
        s""","full":"bench_out.json"$subsetTag}"""
    }
    val byCost = timings.sortBy(-_._2)
      .map { case (k, v) => (jsonStr(k) + ":" + num(v, 3), v) }
    // greedy by descending cost: the expensive queries are the signal
    val kept = Vector.newBuilder[String]
    var used = assemble(Nil, timings.size, total).length
    var nKept = 0
    var keptSec = 0.0
    for ((entry, sec) <- byCost if used + entry.length + 1 <= budget) {
      kept += entry; used += entry.length + 1; nKept += 1; keptSec += sec
    }
    assemble(kept.result(), timings.size - nKept, total - keptSec)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** Total GC wall-time across all collector beans (ms). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def main(args: Array[String]): Unit = {
    // Sampled BEFORE the session/warmup drives the 1-min average up:
    // this is the value `degraded` is computed from (Capture.degraded
    // contract — the tool's own executors make the END load useless).
    val loadAvgStart = tools.Capture.loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark: SparkSession = GraftSession.local(cpus)
    // Warm the JVM (codegen, parquet reader, shuffle machinery) so the
    // first timed query doesn't absorb session startup.
    sources.Tables.all.foreach {
      case "events" => sources.Tables.events(spark, sfDir).count()
      case t => sources.Tables(spark, sfDir, t).count()
    }
    spark.range(1000000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").count()
    // dev-only subset filter (unset in the driver run → all queries);
    // SKIP excludes named queries (e.g. the documented-quadratic
    // d_embed_dup from a 100x full-suite run) — both tag the output so
    // a partial run can't masquerade as a full one.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").toSet)
    // min of 2 runs per query: the host shows bursty noise (identical
    // code has measured 49s and 159s back-to-back); min-of-2 reports
    // the machine's actual capability. SPARK_GRAFT_RUNS raises it for
    // matched-load adjudication runs (fat-spread queries need min-of-3).
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
    val gc0 = gcMillis()
    val res = measure(spark, sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) =>
          only.forall(_.contains(name)) && !skip.exists(_.contains(name)) },
      runs = runs)
    // environment telemetry: a capture on a contended host (BENCH_r04
    // totaled 194.6 s where a clean re-run of the same binary took
    // 64.6 s) must self-identify — gc time, 1-min load average, and
    // the per-query run_max/run_min spread expose sustained
    // contention that min-of-2 cannot defend against.
    val gcMs = gcMillis() - gc0
    val loadAvg =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val qs = res.timings.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val spreadsJson = res.spreads.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + num(v, 3) }.mkString("{", ",", "}")
    val errorsJson = res.errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }.mkString("{", ",", "}")
    val gcPerJson = res.gcPerQuery.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")
    val total = res.timings.map(_._2).sum
    // a leaked SPARK_GRAFT_ONLY must never masquerade as a full run:
    // mark subset output explicitly so partial totals are recognizable.
    val subsetTag = {
      val parts =
        only.map(o => s""""only":"${o.toSeq.sorted.mkString(",")}"""").toSeq ++
          skip.map(sk => s""""skip":"${sk.toSeq.sorted.mkString(",")}"""").toSeq
      if (parts.isEmpty) "" else s""","subset":true,${parts.mkString(",")}"""
    }
    // sink-bound queries self-normalize: bytes physically written per
    // run + the implied MB/s at this query's min-of-runs timing — a
    // slow st_sinks reading with normal MB/s is the disk band, not code
    val timingOf = res.timings.toMap
    val sinkJson = BenchMetrics.sinkBytes.toSeq.sortBy(_._1)
      .flatMap { case (k, b) => timingOf.get(k).map(t =>
        jsonStr(k) + s""":{"bytes":$b,"mb_s":${num(b / 1e6 / t, 1)}}""") }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec"""" +
        s""","n_errors":${res.errors.size}""" +
        s""","degraded":${tools.Capture.degraded(loadAvgStart)}""" +
        s""","load_avg_start":${num(loadAvgStart, 2)},"queries":$qs""" +
        s""","errors":$errorsJson,"spreads":$spreadsJson,"gc_per_query":$gcPerJson""" +
        s""","sink_io":$sinkJson""" +
        s""","gc_ms":$gcMs,"load_avg":$loadAvg,"sf":"$sfDir"$subsetTag}"""
    // the stdout line is the driver contract, but its captured tail is
    // only ~2000 chars — write the file artifact (always recoverable)
    // and print it between sentinel markers for any consumer that
    // reads the whole log. Line 1 of the file is the SAME compact
    // contract line printed last on stdout, so a parser needing only
    // `head -1 bench_out.json` reproduces the driver contract even
    // when the stdout tail was truncated; line 2 is the full JSON.
    val compact = compactLine(total, res.timings, res.errors, gcMs, loadAvg,
      sfDir, subsetTag, loadAvgStart = loadAvgStart)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      compact + "\n" + line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    println("===GRAFT_BENCH_JSON_BEGIN===")
    println(line)
    println("===GRAFT_BENCH_JSON_END===")
    // quiet shutdown BEFORE the final line: stop any streaming query
    // a st_ operator left active, free cached blocks, quiesce logging,
    // stop the context — shutdown-race stacks (executor pools rejecting
    // tasks mid-stop) have polluted the captured tail two rounds
    // running. Printing last keeps the JSON the final stdout content.
    try {
      spark.sparkContext.setLogLevel("OFF")
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      Caching.releaseAll()
      spark.stop()
    } catch { case e: Throwable => System.err.println(s"[bench] shutdown: $e") }
    // LAST stdout content: a line sized to survive the driver's
    // 2000-char tail capture even with sbt's [success] suffix after it.
    println(compact)
  }
}

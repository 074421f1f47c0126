package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.jolokia.Jolokia
import graft.metrics.Transforms
import graft.sinks.Sinks
import graft.streaming.Pipeline

/** An output check: one attempted operation that fails when `ok` is false. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What every workload shares: the session, the seed, the size, and
  * the tracer when the run is traced.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val tiny: Boolean) {
  var tracer: Option[Tracer] = None
  val checks = mutable.ArrayBuffer[Check]()

  /** A span around an eager call; a plain call when tracing is off. */
  def sp[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += Check(name, ok, if (ok) "" else detail)
    if (!ok) println(s"CHECK FAILED $name: $detail")
  }
}

/** One benchmark workload. A run calls `generate` several times (the
  * median counts in `setup_s`), then runs windows: a warm-up window of
  * `warmupCycles` cycles, the timed window and, when traced, the traced
  * window. A window calls `open`, per cycle the untimed `prepare`, the
  * timed `cycle` and the untimed `afterCycle`, then `close`.
  */
trait Workload {
  /** Write this run's inputs under `dir`. */
  def generate(dir: Path): Unit
  def warmupCycles: Int
  def open(window: Int): Unit
  def prepare(i: Int): Unit = ()
  /** One closed-loop operation; returns the rows it delivered. */
  def cycle(i: Int): Long
  def afterCycle(i: Int): Unit = ()
  /** Ends the window and checks its outputs. */
  def close(): Unit
  /** Bytes the last closed window's sinks hold per delivered row. */
  def sinkBytesPerRow: Double
  /** Layer metrics only a prefix run or this workload can give. */
  def layers(tr: Tracer, cycles: Int): Seq[(String, Double)]
}

/** Input sizes; `tiny` is the self-test's scale. */
object Sizes {
  def jmx(tiny: Boolean): Gen.JmxParams =
    if (tiny) Gen.JmxParams(hosts = 3, beansPerHost = 40, beansPerPayload = 10,
      nestedShare = 1.0 / 3, non200Share = 0.02, malformedShare = 0.01)
    else Gen.JmxParams(hosts = 8, beansPerHost = 500, beansPerPayload = 40,
      nestedShare = 1.0 / 3, non200Share = 0.02, malformedShare = 0.01)
  /** Backfill capture: (sweeps, days spanned). */
  def capture(tiny: Boolean): (Int, Int) = if (tiny) (3, 2) else (7, 7)
  def corpus(tiny: Boolean): Gen.CorpusParams =
    if (tiny) Gen.CorpusParams(docs = 600, plantedShare = 0.06, boilerplateShare = 0.12)
    else Gen.CorpusParams(docs = 3000, plantedShare = 0.04, boilerplateShare = 0.35)
}

/** Local-file helpers for sink accounting and cleanup. */
object Disk {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Regular data files under `p` (Spark's part files; not the
    * checksum or _SUCCESS markers).
    */
  def dataFiles(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.startsWith("part-")).toSeq.sorted
    finally s.close()
  }

  def lines(f: Path): Long = {
    val in = Files.newInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      var r = in.read(buf)
      while (r > 0) {
        var i = 0
        while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
        r = in.read(buf)
      }
      n
    } finally in.close()
  }
}

/** The reference's flow, as the benchmark drives it through graft's
  * public functions: payload lines → normalize → flattenNestedAttrs →
  * (a timestamp for the date-rotated index) → Pipeline fan-out.
  */
object JmxChain {
  val Schema = "host STRING, server_type STRING, payload STRING"
  val IndexPrefix = "kafka-jmx-logs"

  /** Tab-separated, no quoting: the payload column is raw JSON. */
  private val Tsv = Map("sep" -> "\t", "quote" -> "", "header" -> "false")

  def read(s: SparkSession, path: String): DataFrame = s.read.schema(Schema).options(Tsv).csv(path)
  def readStream(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(Schema).options(Tsv).csv(path)

  def normalized(src: DataFrame): DataFrame =
    Jolokia.normalize(src, "payload", "host", "server_type")
  def flat(src: DataFrame): DataFrame = Jolokia.flattenNestedAttrs(normalized(src))
  def records(src: DataFrame): DataFrame =
    flat(src).withColumn("ts", timestamp_seconds(col("created_date_time")))

  def config(out: Path): Pipeline.Config =
    Pipeline.Config(indexPrefix = IndexPrefix, esDir = Some(out.resolve("es").toString),
      kafkaDir = Some(out.resolve("kafka").toString), kafkaKeyCol = "injected_host_name")

  /** Rollup series: one per (bean domain, attribute); non-numeric
    * attribute values count toward `n` and are null in the sums.
    */
  def rollup(records: DataFrame): DataFrame =
    Transforms.hourlyRollup(records.select(col("ts"),
      concat_ws(":", col("injected_bean_name"), col("attribute")).as("event_type"),
      expr("try_cast(value AS DOUBLE)").as("value")))

  /** Block until the batch's commit-log entry exists: both sinks have
    * then committed it. processAllAvailable alone can return on an idle
    * trigger that listed the directory just before the file arrived.
    */
  def awaitCommit(q: StreamingQuery, ckpt: Path, batch: Long): Unit = {
    val f = ckpt.resolve("commits").resolve(batch.toString)
    val deadline = System.nanoTime() + 120L * 1000000000L
    q.processAllAvailable()
    while (!Files.exists(f)) {
      if (!q.isActive || System.nanoTime() > deadline)
        throw new IllegalStateException(s"batch $batch never committed", q.exception.orNull)
      q.processAllAvailable()
    }
  }

  /** Lines per ES index and Kafka lines, counted from the sink files. */
  final case class SinkCount(esLines: Map[String, Long], kafkaLines: Long,
                             esBytes: Long, kafkaBytes: Long, files: Long)

  def count(out: Path): SinkCount = {
    val es = Disk.dataFiles(out.resolve("es"))
    val kafka = Disk.dataFiles(out.resolve("kafka"))
    val esLines = es.groupBy(_.getParent.getFileName.toString.stripPrefix("es_index="))
      .map { case (idx, fs) => idx -> fs.map(Disk.lines).sum }
    SinkCount(esLines, kafka.map(Disk.lines).sum, es.map(Files.size).sum,
      kafka.map(Files.size).sum, (es.size + kafka.size).toLong)
  }

  /** The sinks hold exactly what the generator derived: an action line
    * and a document line per record in each date's index, and one Kafka
    * line per record.
    */
  def checkSinks(c: Ctx, what: String, sc: SinkCount, e: Gen.Expect): Unit = {
    val want = e.recordsByDate.map { case (d, n) => s"$IndexPrefix-$d" -> 2 * n }
    c.check(s"$what.es_lines_per_index", sc.esLines == want, s"got ${sc.esLines} want $want")
    c.check(s"$what.kafka_records", sc.kafkaLines == e.records,
      s"got ${sc.kafkaLines} want ${e.records}")
  }

  /** Payloads the normalizer rejected: every accepted payload has a
    * unique (host, timestamp) and yields at least one record.
    */
  def rejected(s: SparkSession, path: String): Long = {
    val src = read(s, path)
    src.count() - normalized(src).select("injected_host_name", "created_date_time")
      .distinct().count()
  }

  def checkRejected(c: Ctx, what: String, path: String, e: Gen.Expect): Unit = {
    val r = rejected(c.spark, path)
    c.check(s"$what.rejected_envelopes", r == e.rejected, s"got $r want ${e.rejected}")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Prefix runs over `input`: scan, +normalize, +flatten, each sink
    * write called directly, and the rollup. Each layer's self time is
    * the difference between neighbouring prefixes (median of `reps`).
    */
  def prefixLayers(c: Ctx, tr: Tracer, input: String, scratch: Path,
                   withRollup: Boolean, reps: Int): Seq[(String, Double)] = {
    val s = c.spark
    def t(name: String)(body: Int => Unit): Double = median((0 until reps).map { k =>
      tr.seconds(s"prefix.$name")(body(k))
    })
    val scan = t("scan")(_ => noop(read(s, input)))
    val norm = t("normalize")(_ => noop(normalized(read(s, input))))
    val fl = t("flatten")(_ => noop(flat(read(s, input))))
    val es = t("es_write") { k =>
      val r = records(read(s, input))
      Sinks.writeEsBulk(r.withColumn("doc", to_json(struct(r.columns.toIndexedSeq.map(col): _*))),
        "ts", "doc", IndexPrefix, scratch.resolve(s"es-$k").toString, mode = "overwrite")
    }
    val kafka = t("kafka_write") { k =>
      Sinks.writeKafkaJsonl(records(read(s, input)), "injected_host_name",
        scratch.resolve(s"kafka-$k").toString, 8, mode = "overwrite")
    }
    val roll = if (withRollup) t("rollup")(_ => noop(rollup(records(read(s, input))))) - fl else 0.0
    Disk.deleteTree(scratch)
    Seq("sources.scan_s" -> scan, "jolokia.normalize_s" -> (norm - scan),
      "jolokia.flatten_s" -> (fl - norm), "sinks.es_write_s" -> (es - fl),
      "sinks.kafka_write_s" -> (kafka - fl), "metrics.rollup_s" -> roll,
      "jolokia.records_out" -> flat(read(s, input)).count().toDouble,
      "jolokia.rejected_envelopes" -> rejected(s, input).toDouble)
  }

  /** Micro-batch timings from the StreamingQueryListener, and the
    * records the batches' jobs read per payload line they hold: 1 when
    * a batch is scanned once, one more per sink that recomputes it.
    * The denominator is the generator's count: numInputRows itself
    * counts every re-scan of the batch.
    */
  def streamingLayers(tr: Tracer, payloads: Long): Seq[(String, Double)] = {
    val ps = tr.progress.map(_.progress).toSeq
    def d(k: String) = Stats.quantile(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)), 0.5)
    val reads = ps.map(p => tr.batchReads.getOrElse(s"${p.id}/${p.batchId}", 0L)).sum.toDouble /
      math.max(1L, payloads)
    Seq("streaming.trigger_ms" -> d("triggerExecution"), "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.plan_ms" -> d("queryPlanning"), "streaming.wal_ms" -> d("walCommit"),
      "streaming.latest_offset_ms" -> d("latestOffset"), "streaming.source_reads_per_row" -> reads)
  }

  def sinkLayers(sc: SinkCount, batches: Long): Seq[(String, Double)] =
    Seq("sinks.es_bytes" -> sc.esBytes.toDouble / batches,
      "sinks.kafka_bytes" -> sc.kafkaBytes.toDouble / batches,
      "sinks.files_per_batch" -> sc.files.toDouble / batches)
}

/** jmx_poll: the reference's own loop. One client hands the program
  * one scrape sweep at a time through a replayable file source and
  * waits until both sinks have committed it.
  */
final class JmxPoll(c: Ctx) extends Workload {
  import JmxChain._
  private val p = Sizes.jmx(c.tiny)
  private val PollSec = 60L
  private var dir: Path = _
  private var win: Path = _
  private var q: StreamingQuery = _
  private val expects = mutable.ArrayBuffer[Gen.Expect]()
  private var handed = 0
  private var last: SinkCount = _
  private var bytesPerRow = 0.0

  private def in = win.resolve("in")
  private def stage(i: Int) = win.resolve("stage").resolve(f"sweep-$i%06d.tsv")

  /** Sweeps are generated per cycle (untimed); nothing to write ahead. */
  def generate(d: Path): Unit = dir = d
  def warmupCycles: Int = 5

  /** Starts the window's query and hands it one sweep untimed: a
    * query's first batch also creates its logs and sink directories,
    * so every timed cycle is a steady-state batch.
    */
  def open(window: Int): Unit = {
    win = dir.resolve(s"window-$window")
    Files.createDirectories(in)
    expects.clear()
    handed = 0
    q = Pipeline.start(records(readStream(c.spark, in.toString)), "ts", config(win),
      win.resolve("ckpt").toString)
    prepare(0)
    handOff()
  }

  /** Sweep n is batch n of the window's query. */
  override def prepare(i: Int): Unit = {
    val n = expects.size
    val sb = new java.lang.StringBuilder()
    expects += Gen.sweep(p, c.seed, n, Gen.baseEpoch(c.seed) + n * PollSec, sb)
    Files.createDirectories(stage(n).getParent)
    Files.write(stage(n), sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Moves the next prepared sweep into the source directory and waits
    * for its batch to commit.
    */
  private def handOff(): Long = {
    val n = handed
    Files.move(stage(n), in.resolve(stage(n).getFileName), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    awaitCommit(q, win.resolve("ckpt"), n)
    handed += 1
    expects(n).records
  }

  def cycle(i: Int): Long = c.sp("jmx.sweep")(handOff())

  def close(): Unit = {
    q.stop()
    val handedExpect = expects.take(handed).foldLeft(Gen.NoExpect)(_ + _)
    last = count(win)
    checkSinks(c, "jmx_poll", last, handedExpect)
    checkRejected(c, "jmx_poll", in.toString, handedExpect)
    bytesPerRow = (last.esBytes + last.kafkaBytes).toDouble / handedExpect.records
  }

  def sinkBytesPerRow: Double = bytesPerRow

  def layers(tr: Tracer, cycles: Int): Seq[(String, Double)] =
    prefixLayers(c, tr, in.resolve(stage(0).getFileName).toString, win.resolve("prefix"),
      withRollup = false, reps = 5) ++
      streamingLayers(tr, expects.take(handed).map(_.payloads).sum) ++ sinkLayers(last, handed)
}

/** jmx_backfill: a multi-day capture through the same chain as one
  * micro-batch, then the hourly rollup over the flattened records.
  */
final class JmxBackfill(c: Ctx) extends Workload {
  import JmxChain._
  private val p = Sizes.jmx(c.tiny)
  private val (sweeps, days) = Sizes.capture(c.tiny)
  private var capture: Path = _
  private var expect = Gen.NoExpect
  private var win: Path = _
  private var first: SinkCount = _

  private def out(i: Int) = win.resolve(s"out-$i")

  /** One backfill: the capture through Pipeline.start as a single
    * micro-batch, then the rollup; returns the rollup's record count.
    */
  private def run(cap: Path, o: Path): Long = {
    val q = c.sp("jmx.pipeline_start") {
      Pipeline.start(records(readStream(c.spark, cap.toString)), "ts", config(o),
        o.resolve("ckpt").toString)
    }
    try c.sp("jmx.pipeline_commit")(awaitCommit(q, o.resolve("ckpt"), 0)) finally q.stop()
    c.sp("jmx.rollup")(rollup(records(read(c.spark, cap.toString))).agg(sum("n")).first().getLong(0))
  }

  def generate(d: Path): Unit = {
    capture = d.resolve("capture")
    expect = Gen.capture(p, c.seed, sweeps, days, capture)
  }
  def warmupCycles: Int = 2

  def open(window: Int): Unit = {
    win = capture.resolveSibling(s"window-$window")
    first = null
  }

  def cycle(i: Int): Long = {
    val n = run(capture, out(i))
    c.check("jmx_backfill.rollup_records", n == expect.records, s"got $n want ${expect.records}")
    expect.records
  }

  override def afterCycle(i: Int): Unit = {
    val sc = count(out(i))
    checkSinks(c, "jmx_backfill", sc, expect)
    if (first == null) first = sc
    Disk.deleteTree(out(i))
  }

  def close(): Unit = checkRejected(c, "jmx_backfill", capture.toString, expect)

  def sinkBytesPerRow: Double = (first.esBytes + first.kafkaBytes).toDouble / expect.records

  def layers(tr: Tracer, cycles: Int): Seq[(String, Double)] =
    prefixLayers(c, tr, capture.toString, win.resolve("prefix"), withRollup = true, reps = 3) ++
      streamingLayers(tr, cycles * expect.payloads) ++ sinkLayers(first, 1)
}

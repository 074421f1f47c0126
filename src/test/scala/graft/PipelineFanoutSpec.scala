package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.Pipeline

/** `Pipeline.start` with both sinks on: each micro-batch is read once
  * and stays attributed to its batch, a failing sink fails the batch
  * and releases the cache, `stop()` outlasts no sink write, and a
  * restart on the same checkpoint after a crash between the two sinks
  * neither loses nor duplicates records.
  */
class PipelineFanoutSpec extends SparkSpec {
  import PipelineFanoutSpec._

  private val Schema = "id LONG, ts TIMESTAMP, user_id LONG, v DOUBLE"

  /** One JSON record per line; file `k` holds ids from `k * rows`, dated
    * 2024-03-0(k+1) so every file lands in its own ES index.
    */
  private def writeFiles(in: Path, files: Int, rows: Int): Unit =
    (0 until files).foreach { k =>
      val lines = (0 until rows).map { r =>
        val id = k.toLong * rows + r
        f"""{"id":$id,"ts":"2024-03-0${k + 1}T${r % 24}%02d:00:00Z","user_id":${id % 7},"v":${id * 0.5}}"""
      }
      Files.write(in.resolve(s"part-$k.json"), lines.asJava)
    }

  /** One file per micro-batch. */
  private def source(in: Path): DataFrame =
    spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1L).json(in.toString)
      .withColumn("v", holdUdf(col("v")))

  private def bothSinks(root: Path): Pipeline.Config =
    Pipeline.Config(esDir = Some(root.resolve("es").toString),
      kafkaDir = Some(root.resolve("kafka").toString))

  /** Every data line under a sink root, sorted: Spark's `_SUCCESS` and
    * hidden checksum files are not data.
    */
  private def sortedLines(dir: Path): Seq[String] = {
    val files = Files.walk(dir)
    try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*"))
      .flatMap(p => Files.readAllLines(p).asScala).toVector.sorted
    finally files.close()
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** Ids of the RDDs persisted now: earlier specs in this JVM may have
    * left some, so a test compares against its own starting set.
    */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def withListener[T](l: SparkListener)(body: => T): T = {
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("two sinks read each micro-batch once, inside the batch's job properties") {
    val root = Files.createTempDirectory("fanout_once")
    val in = Files.createDirectories(root.resolve("in"))
    val n = 2000
    writeFiles(in, files = 1, rows = n)
    val l = new SparkListener {
      val stageBatch = mutable.Map[Int, String]()
      val jobs = mutable.ArrayBuffer[(String, String)]()
      var reads = 0L
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        for (p <- Option(e.properties); b <- Option(p.getProperty("streaming.sql.batchId"))) {
          jobs += ((p.getProperty("sql.streaming.queryId"), b))
          e.stageIds.foreach(stageBatch(_) = b)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null && stageBatch.contains(e.stageId))
          reads += e.taskMetrics.inputMetrics.recordsRead
      }
    }
    val before = persisted()
    val q = Pipeline.start(source(in), "ts", bothSinks(root), root.resolve("ckpt").toString)
    val left = withListener(l) {
      try { q.processAllAvailable(); persisted() -- before }
      finally q.stop()
    }
    // the sink thread that finds the batch cached counts one record per
    // cached column batch (up to 10k rows), not per row
    assert(l.reads >= n && l.reads <= n + 1, s"batch jobs read ${l.reads} records for $n rows")
    assert(l.jobs.toSeq === Seq.fill(2)((q.id.toString, "0")))
    assert(left.isEmpty, "the batch stayed persisted after it committed")
    assert(sortedLines(root.resolve("es")).size === 2 * n)
    assert(sortedLines(root.resolve("kafka")).size === n)
  }

  test("a failing sink fails the batch and releases it; a restart writes both sinks") {
    val root = Files.createTempDirectory("fanout_fail")
    val in = Files.createDirectories(root.resolve("in"))
    val n = 50
    writeFiles(in, files = 1, rows = n)
    // mkdirs under a regular file fails, whatever the user's permissions
    val blocker = Files.createFile(root.resolve("blocker"))
    val cfg = bothSinks(root).copy(esDir = Some(blocker.resolve("es").toString))
    val ckpt = root.resolve("ckpt").toString
    val before = persisted()
    val q = Pipeline.start(source(in), "ts", cfg, ckpt)
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    q.stop()
    assert(causes(e).exists(c => c.isInstanceOf[java.io.IOException] &&
      String.valueOf(c.getMessage).contains(blocker.toString)), e)
    assert((persisted() -- before).isEmpty, "the failed batch stayed persisted")

    Files.delete(blocker)
    val q2 = Pipeline.start(source(in), "ts", cfg, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(sortedLines(blocker.resolve("es")).size === 2 * n)
    assert(sortedLines(root.resolve("kafka")).size === n)
  }

  test("stop() during a two-sink write returns only after both sink threads ended") {
    val root = Files.createTempDirectory("fanout_stop")
    val in = Files.createDirectories(root.resolve("in"))
    writeFiles(in, files = 1, rows = 20)
    def sinkThreads(): Seq[Thread] =
      Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.getName.startsWith("graft-sink-batch-0-"))
    val before = persisted()
    hold("0", seconds = 5)
    try {
      val q = Pipeline.start(source(in), "ts", bothSinks(root), root.resolve("ckpt").toString)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sinkThreads().size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sinkThreads().size === 2, "the sink writes never started")
      q.stop()
      assert(sinkThreads().isEmpty, "a sink thread outlived stop()")
    } finally release()
    assert((persisted() -- before).isEmpty)
  }

  test("restart after a crash between the two sinks equals a clean run") {
    val clean = Files.createTempDirectory("fanout_clean")
    val crash = Files.createTempDirectory("fanout_crash")
    Seq(clean, crash).foreach(r => writeFiles(Files.createDirectories(r.resolve("in")), 3, 40))
    def run(root: Path): Unit = {
      val q = Pipeline.start(source(root.resolve("in")), "ts", bothSinks(root),
        root.resolve("ckpt").toString)
      try q.processAllAvailable() finally q.stop()
    }
    run(clean)

    // cancel the first job of batch 1; its tasks wait until that job
    // has ended, so the cancel cannot lose a race with their completion
    val cancelled = new java.util.concurrent.atomic.AtomicInteger(-1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("streaming.sql.batchId") == "1") &&
            cancelled.compareAndSet(-1, e.jobId))
          spark.sparkContext.cancelJob(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == cancelled.get) cancelledJobEnded = true
    }
    hold("1", seconds = 60)
    val e = try withListener(l) {
      intercept[StreamingQueryException](run(crash))
    } finally release()
    assert(cancelled.get >= 0)
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains(s"Job ${cancelled.get} cancelled")), e)
    assert(!Files.exists(crash.resolve("ckpt/commits/1")), "batch 1 committed despite the failure")

    run(crash)
    for (sink <- Seq("es", "kafka"))
      assert(sortedLines(crash.resolve(sink)) === sortedLines(clean.resolve(sink)), sink)
    assert(sortedLines(clean.resolve("kafka")).size === 120)
  }
}

object PipelineFanoutSpec {
  @volatile private var holdBatch: String = null
  @volatile private var holdUntilNs = 0L
  @volatile var cancelledJobEnded = false

  /** From now on the tasks of `batch` hold every row until a test sets
    * [[cancelledJobEnded]], or for at most `seconds` in all: a job that
    * starts after a cancel is not cancelled and must still finish.
    */
  def hold(batch: String, seconds: Int): Unit = {
    cancelledJobEnded = false
    holdUntilNs = System.nanoTime() + seconds * 1000000000L
    holdBatch = batch
  }
  def release(): Unit = holdBatch = null

  private val holdUdf = udf { (v: Double) =>
    if (holdBatch != null && TaskContext.get().getLocalProperty("streaming.sql.batchId") == holdBatch)
      while (!cancelledJobEnded && System.nanoTime() < holdUntilNs) Thread.sleep(5)
    v
  }
}

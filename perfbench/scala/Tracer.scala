package perfbench

import scala.collection.mutable

import org.apache.spark.perfbenchshim.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made: name, parent span, and
  * monotonic start/end in nanoseconds.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task and plan totals of the work that ran inside one span name. */
final class ScopeAgg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var exchanges, pairGenRows = 0L
  /** stage id → task run times (ms), for the skew of the costliest stage */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Traces the benchmark's own calls from outside the program: spans
  * around each eager call, plus a SparkListener (task metrics), a
  * QueryExecutionListener (final AQE plans) and a
  * StreamingQueryListener (micro-batch progress). Work is attributed to
  * the innermost open span; each span boundary drains the listener bus
  * first, so every event of the span's work lands inside it.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  @volatile private var scope = "idle"
  private val open = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[Span]()
  val scopes = mutable.Map[String, ScopeAgg]()
  /** micro-batch progress, one entry per batch that read input */
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  /** "query id/batch id" → records read by the tasks of the batch's jobs */
  val batchReads = mutable.Map[String, Long]()
  private val stageBatch = mutable.Map[Int, String]()

  private def agg: ScopeAgg = scopes.getOrElseUpdate(scope, new ScopeAgg)

  def span[T](name: String)(body: => T): T = {
    Drain(sc)
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, parent, System.nanoTime(), 0L)
    open.push(id)
    val prev = scope
    scope = name
    try body
    finally {
      Drain(sc)
      scope = prev
      open.pop()
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Runs `body` in a span and returns the span's duration in seconds. */
  def seconds(name: String)(body: => Unit): Double = {
    val id = spans.size
    span(name)(body)
    spans(id).ms / 1000.0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    agg.jobs += 1
    for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
         b <- Option(p.getProperty("streaming.sql.batchId")))
      e.stageIds.foreach(s => stageBatch(s) = s"$q/$b")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
      stageBatch.get(e.stageId).foreach { b =>
        batchReads(b) = batchReads.getOrElse(b, 0L) + m.inputMetrics.recordsRead
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = Tracer.this.synchronized {
      val a = agg
      a.exchanges += Plans.exchanges(qe.executedPlan)
      a.pairGenRows += Plans.pairGeneratorRows(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { if (e.progress.numInputRows > 0) progress += e }
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    Drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Totals over every span whose name satisfies `p`. */
  def total(p: String => Boolean): ScopeAgg = synchronized {
    val t = new ScopeAgg
    scopes.iterator.filter(kv => p(kv._1)).foreach { case (_, a) =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleWrite += a.shuffleWrite; t.shuffleRead += a.shuffleRead; t.spill += a.spill
      t.exchanges += a.exchanges; t.pairGenRows += a.pairGenRows
      a.stageTasks.foreach { case (s, ts) =>
        t.stageTasks.getOrElseUpdate(s, mutable.ArrayBuffer[Long]()) ++= ts }
    }
    t
  }

  /** Span durations (ms) by name. */
  def durations(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Self time per span: its duration minus the time its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def spansJson: String = spans.map(s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> (s.startNs - spans.head.startNs) / 1e6,
      "end_ms" -> (s.endNs - spans.head.startNs) / 1e6, "self_ms" -> selfMs(s))))
    .mkString("[\n", ",\n", "\n]\n")
}

/** Reads the final (post-AQE) physical plan of an execution. */
object Plans extends AdaptiveSparkPlanHelper {

  /** Keyed shuffles (hash or range partitioned), the exchanges the
    * plan-shape specs count; round-robin rebalances and single-partition
    * gathers are left out.
    */
  def exchanges(p: SparkPlan): Long =
    collect(p) {
      case e: ShuffleExchangeLike if (e.outputPartitioning match {
        case _: HashPartitioning | _: RangePartitioning => true
        case _ => false
      }) => e
    }.size.toLong

  /** Rows the bucket pair generators emitted (graft_*_pairs). */
  def pairGeneratorRows(p: SparkPlan): Long =
    collect(p) {
      case g: GenerateExec if g.generator.prettyName.endsWith("_pairs") =>
        g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed to the driver harness.
  *
  * @param name   stable id (SURVEY.md §2)
  * @param oracle equivalent ANSI SQL for the DuckDB oracle; None → the
  *               driver records a weaker rows-only check
  * @param run    (session, sf-dir) → result DataFrame
  */
final case class GraftQuery(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame,
)

/** Parallelism helpers shared by compute-heavy operators. */
object Par {

  /** Repartition a scan-shaped frame to the session's default
    * parallelism before a compute-heavy map stage (tokenize, window
    * explode, hash). A local parquet table is often ONE file with ONE
    * row group, and parquet cannot split below row-group boundaries —
    * so heavy per-row work runs as a single task however many cores
    * exist. At deploy, inputs carry at least cluster-width splits and
    * this is a same-width rebalance; the shuffle moves the RAW rows,
    * which for these builders are far smaller than their exploded
    * outputs. Row placement does not affect results: every consumer
    * aggregates order-independently (the DuckDB hash gate re-proves it
    * under the new partitioning).
    */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}

/** Lifecycle for operator-internal caches and scratch dirs. Operators
  * that persist an index frame (shingle inverted index, LSH bands,
  * SimHash signatures, block tiles, IVF corpus) must not leak those
  * caches past their own invocation: the harness runs every query
  * (twice, in Bench) in one session, and each leaked MEMORY_AND_DISK
  * frame lives until session end. The same holds for dirs: every
  * throwaway dir comes from [[scratchTempDir]] (the scratch root rule
  * lives here) and is released at the query boundary; the few dirs
  * that outlive it come from [[sessionTempDir]].
  */
object Caching {

  // checkpoint blocks registered by releaseAfter: reclaimable only on
  // driver GC otherwise, so the harness frees them deterministically
  // via releaseAll() at teardown.
  private val tracked = scala.collection.mutable.Buffer[org.apache.spark.rdd.RDD[_]]()
  // session-lifetime artifacts (memoized models/indexes shared across
  // queries): releaseTransient() skips these; only releaseAll() frees
  // them (after running the memo-invalidation hooks).
  private val retained = scala.collection.mutable.Buffer[org.apache.spark.rdd.RDD[_]]()
  private val hooks = scala.collection.mutable.Buffer[() => Unit]()

  /** Eagerly materialize `result` (localCheckpoint: computed once,
    * stored as blocks, lineage truncated) and then release the
    * internal `cached` frames that fed it. The returned frame is
    * self-contained — callers can compose/act on it without
    * recomputing the index. Local checkpoints are not
    * executor-loss-tolerant; a cluster deploy that needs that writes
    * the index artifact to storage instead (same lifecycle shape).
    */
  def releaseAfter(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    org.apache.spark.sql.graftshim.Shim.checkpointedRdd(out)
      .foreach(r => tracked.synchronized { tracked += r })
    cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** Mark a checkpointed frame as a session-lifetime artifact: a memo
    * that hands the frame to LATER queries (the near-dup pair table,
    * the IVF/PQ coded corpora, the BPE vocab, the quality-probe
    * features) must retain it, or releaseTransient() would free blocks
    * the memo still references — a localCheckpoint has no lineage to
    * recompute from, so the next consumer would crash, not recompute.
    * Moves the frame's checkpoint RDD out of the transient registry;
    * returns the frame for inline use at the memo-store site.
    */
  def retain(df: DataFrame): DataFrame = {
    org.apache.spark.sql.graftshim.Shim.checkpointedRdd(df).foreach { r =>
      tracked.synchronized {
        val i = tracked.indexWhere(_ eq r)
        if (i >= 0) tracked.remove(i)
      }
      retained.synchronized { retained += r }
    }
    df
  }

  /** Free every TRANSIENT checkpoint block — everything releaseAfter
    * registered that no memo retained. This is the per-query isolation
    * boundary for the 140-query single-JVM harness: without it each
    * operator's index blocks outlive their query and later queries pay
    * the accumulated GC bill (measured at sf1: d_incremental 10.6 s
    * isolated vs 52.3 s mid-suite, 16.6 s of it GC). Blocking
    * unpersist so the next query starts from a deterministic heap. On
    * a cluster this boundary is the job boundary — each operator runs
    * in its own application and its blocks die with it.
    */
  def releaseTransient(): Unit = {
    tracked.synchronized {
      tracked.foreach(r => try r.unpersist(blocking = true) catch { case NonFatal(_) => () })
      tracked.clear()
    }
    // Streaming queries leak TWO things past q.stop() in a shared JVM,
    // both measured dominant in the r9 100× full sweep: (a) the
    // memory-sink table stays reachable through its temp view (Complete
    // mode at 100× = 9.5M rows per st_sessions RUN), (b) the state
    // store keeps every stopped query's loaded version maps (4.3 GB
    // for the session window) until provider unload. Drop the views
    // registered by runToTable and unload all state providers — an
    // active query would transparently reload its state from the
    // checkpoint on its next batch, and on a cluster both die with
    // their job, which is exactly what this boundary emulates.
    transientViews.synchronized {
      transientViews.foreach { case (s, v) =>
        try s.catalog.dropTempView(v) catch { case NonFatal(_) => () }
      }
      transientViews.clear()
    }
    try org.apache.spark.sql.graftshim.Shim.unloadAllStateStores()
    catch { case NonFatal(_) => () }
    // scratch dirs of stopped streams (checkpoints, per-batch outputs,
    // sink dirs): nothing reads them once the query's result is
    // drained, and leaving them accumulates across a
    // 141-query suite — on tmpfs that is RAM, on disk it is the local
    // scratch the r16 sf10 sweep exhausted.
    transientDirs.synchronized {
      transientDirs.foreach { p =>
        try deleteRecursively(p) catch { case NonFatal(_) => () }
      }
      transientDirs.clear()
    }
  }

  /** Delete `path` and everything under it; a missing path is a no-op.
    * The one recursive delete for scratch, session and published dirs.
    */
  private[graft] def deleteRecursively(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
      f.delete(): Unit
    }
    rec(new java.io.File(path))
  }

  private val transientDirs = scala.collection.mutable.ArrayBuffer[String]()

  /** Root of every scratch dir. The harness streams checkpoint into
    * throwaway dirs (memory and per-batch-dir sinks): the checkpoint
    * exists because the API requires one, not for recovery. Yet every
    * micro-batch pays several fsyncs into it (offset WAL, commit log,
    * one state-store delta per shuffle partition), and on hosts with a
    * slow durable /tmp those fsyncs dominate each stream's fixed cost
    * (guide §6: put scratch I/O on the fast tier). So the root is
    * SPARK_GRAFT_CKPT_ROOT when set, else tmpfs (/dev/shm) when
    * writable, else java.io.tmpdir. A deploy that wants
    * recoverable checkpoints points the override at durable storage.
    */
  private[graft] def scratchRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    sys.env.get("SPARK_GRAFT_CKPT_ROOT").map(java.nio.file.Paths.get(_)).getOrElse(
      if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
  }

  /** The one library call that makes a throwaway dir: a fresh
    * `<prefix>*` dir under [[scratchRoot]], deleted recursively at the
    * next releaseTransient() boundary. A stream's checkpoint, its
    * per-batch output and its sink dirs all live here, so tmpfs use
    * stays bounded to one query's scratch however long the suite is.
    * A frame read from such a dir must be drained before the boundary.
    */
  def scratchTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString
    transientDirs.synchronized { transientDirs += dir }
    dir
  }

  private val exitDirs = scala.collection.mutable.ArrayBuffer[String]()
  sys.addShutdownHook(exitDirs.synchronized(exitDirs.foreach(deleteRecursively)))

  /** A fresh `<prefix>*` dir under java.io.tmpdir for an artifact that
    * outlives the query boundary (the session warehouse, a published
    * index). Its owner may delete it earlier with [[deleteRecursively]];
    * whatever is left is deleted recursively at JVM exit.
    */
  private[graft] def sessionTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    exitDirs.synchronized { exitDirs += dir }
    dir
  }

  private val transientViews =
    scala.collection.mutable.ArrayBuffer[(SparkSession, String)]()

  /** Register a memory-sink temp view for deferred drop at the next
    * releaseTransient() boundary (the view must stay alive until the
    * consumer has drained the returned frame, so the drop cannot
    * happen at creation).
    */
  def registerTransientView(s: SparkSession, name: String): Unit =
    transientViews.synchronized { transientViews += ((s, name)) }

  /** Register a callback run by releaseAll() — for holders of
    * memoized checkpointed frames (e.g. the IVF index), whose entries
    * become unusable once their blocks are freed.
    */
  def onReleaseAll(h: () => Unit): Unit = hooks.synchronized { hooks += h }

  /** Free every checkpoint block releaseAfter has registered (and
    * invalidate registered memos). Call at harness teardown —
    * Verify/Bench run 100+ operators in one session, and without this
    * the blocks of every operator's index artifact accumulate until
    * driver GC happens to run.
    */
  def releaseAll(): Unit = {
    hooks.synchronized { hooks.foreach(h => try h() catch { case NonFatal(_) => () }) }
    releaseTransient()
    retained.synchronized {
      retained.foreach(r => try r.unpersist(blocking = false) catch { case NonFatal(_) => () })
      retained.clear()
    }
  }
}

/** Distributed global offsets for per-partition running computations
  * (global rank, running token offset): the only driver-side state is
  * one (pid, total) row per partition — bounded by the partition
  * count, never the data.
  */
object PartitionOffsets {

  /** Exclusive prefix-sum the per-partition totals and join them back
    * as a broadcast 2-column (pid, _off) frame. Returns the joined
    * frame (all original columns + `_off`) and the grand total.
    *
    * A broadcast join keeps the plan O(1)-deep at ANY partition
    * count; the alternative — folding the offsets into a
    * when(pid===0,..).when(pid===1,..) literal chain — grows one
    * codegen branch per partition and at 100 TB partition counts
    * (10⁴–10⁵) blows the JVM's 64 KB method limit into interpreted
    * fallback, with a plan string to match.
    */
  def joinOffsets(df: DataFrame, perPid: Seq[(Int, Long)]): (DataFrame, Long) = {
    var acc = 0L
    val rows = perPid.sortBy(_._1).map { case (p, t) => val o = acc; acc += t; (p, o) }
    val s = df.sparkSession
    import s.implicits._
    val offs = org.apache.spark.sql.functions.broadcast(rows.toDF("pid", "_off"))
    (df.join(offs, Seq("pid")), acc)
  }
}

object GraftSession {

  // bucketed tables land here, so it is never empty at exit: a plain
  // deleteOnExit would leave it behind
  private lazy val warehouseDir: String = Caching.sessionTempDir("graft_warehouse")

  /** Tuned local session. Mirrors what a cluster deploy would set:
    * AQE (coalesce + skew-join) on, shuffle partitions sized to the
    * parallelism, broadcast threshold generous for dim tables.
    */
  def local(threads: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$threads]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // InferFiltersFromGenerate pushes `size(g)>0 AND isnotnull(g)`
      // below explode(g); predicate pushdown then substitutes g's
      // whole defining expression into the filter — including INSIDE
      // lambda bodies, where interpreted eval has no subexpression
      // reuse. For explode(transform(...element_at(split(text),i)...))
      // that re-runs the split per array ELEMENT: measured 23× slower
      // on the shingle pipelines. The inference only ever saves work
      // when generators are often empty; our generators never are.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // State-store provider for the stateful streaming operators.
      // Default (in-memory HDFSBackedStateStore) holds every live
      // key's state in executor heap; SPARK_GRAFT_ROCKSDB=1 switches
      // to the bundled RocksDB provider — state off-heap, bounded heap
      // at ANY key cardinality. Measured both regimes at the 100x
      // probe: IN-SUITE (crowded heap, post release-boundary) tuned
      // RocksDB runs st_sessions at ~0.97x the in-memory provider —
      // parity, because GC pressure from co-resident queries taxes
      // the in-heap provider; ISOLATED min-of-3 the in-memory
      // provider wins 1.49x (43.1 vs 64.4 s at 9.5M live sessions,
      // BENCH_SF10_SESSIONS_{MEM,RDB}_ISO_r11) — RocksDB's native
      // put/commit path costs more than heap writes when heap is
      // uncontended. In-memory stays the default; switch when live
      // state approaches the executor heap (sizing fit below) or the
      // JVM is shared with other heap-hungry work.
      // Sizing formula, now a THREE-POINT fit over 30x of cardinality
      // (tools/StateProbe; STATEPROBE_r9 + STATEPROBE_{SF1,EV300}_r10
      // artifacts): in-memory state measures 350 / 455 / 434 B/session
      // at 0.95M / 9.55M / 28.6M live sessions — flat within +-15%,
      // so budget ~1 GB executor heap per 10^6 live sessions (450 B x
      // 2 for the provider's retained version maps); RocksDB measures
      // 177 / 166 / 142 B/session off-heap over the same points.
      // Switch providers when live_keys x 450 B x 2 approaches the
      // per-executor heap. Output parity under both providers:
      // StateStoreProviderSpec.
      .config("spark.sql.streaming.stateStore.providerClass",
        if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      // RocksDB provider tuning (no-ops under the in-memory provider).
      // Changelog checkpointing commits the per-batch delta instead of
      // uploading a full snapshot every commit (snapshots move to the
      // background maintenance thread); trackTotalNumberOfRows=false
      // skips the read-before-write each put/merge does only to keep a
      // row-count metric — the dominant per-event overhead for
      // merge-heavy session windows; 64 MB write buffers cut memtable
      // flush frequency at high event rates. Output parity under both
      // providers stays gated by StateStoreProviderSpec.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      // write-buffer sizing is env-tunable for the capacity probes
      // (the r13 merge-path tuning sweep at the 100k sessions point);
      // defaults are the r9-measured parity configuration
      .config("spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB",
        sys.env.getOrElse("SPARK_GRAFT_RDB_WRITEBUF_MB", "64"))
      .config("spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber",
        sys.env.getOrElse("SPARK_GRAFT_RDB_NBUF", "4"))
      // optional bounded off-heap block-cache/memtable budget (MB):
      // caps RocksDB native memory across all stores in the JVM —
      // the production knob for co-resident state-heavy queries
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        sys.env.get("SPARK_GRAFT_RDB_BOUNDED_MB").map(_ => "true").getOrElse("false"))
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        sys.env.getOrElse("SPARK_GRAFT_RDB_BOUNDED_MB", "500"))
      // bucketed-table writes (q_bucketed_join) land in the warehouse;
      // keep it out of the repo working tree. One dir per JVM (lazy):
      // getOrCreate ignores configs on an existing session anyway, so
      // per-call temp dirs would only leak.
      .config("spark.sql.warehouse.dir", warehouseDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

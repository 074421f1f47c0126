package graft.tools

import org.apache.spark.sql.streaming.OutputMode

/** Measure the session-window state store directly —
  * `StateProbe <sfDir> [outFile]` runs st_sessions' stream over the
  * given events table and reports the state operator's OWN metrics
  * (rows, memory bytes) from the final StreamingQueryProgress, plus
  * the derived bytes/session. This turns in-memory-provider
  * deployment sizing into a formula instead of a surprise: heap
  * needed ≈ live_sessions × bytes_per_session × provider overhead
  * (the HDFSBacked provider keeps maintenance copies of recent
  * versions, so budget ~2× steady state).
  */
object StateProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = if (args.length > 1) Some(args(1)) else None
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.local(cpus)
    val src = graft.streaming.Streaming.streamEvents(spark, sfDir)
    val sessions = graft.streaming.Streaming.sessionStream(src)
    val ckpt = graft.Caching.scratchTempDir("graft_probe_ckpt")
    val t0 = System.nanoTime()
    // noop sink, NOT memory: the probe reads the state operator's own
    // metrics, and a Complete-mode memory sink would ship the full
    // result set to the driver every batch — at 28M live sessions
    // that trips spark.driver.maxResultSize long before the state
    // store itself is the limit (which is exactly what this tool
    // exists to measure).
    val q = sessions.writeStream.format("noop")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    // the LAST progress with a state operator carries the final store
    // size. numRowsTotal is 0 under RocksDB when trackTotalNumberOfRows
    // is off (the graft default — the per-put read-before-write exists
    // only to maintain that metric), so gate on presence, not rows.
    val prog = q.recentProgress.reverse
      .find(p => p.stateOperators.nonEmpty &&
        (p.stateOperators.head.numRowsTotal > 0 ||
          p.stateOperators.head.memoryUsedBytes > 0 ||
          p.stateOperators.head.numRowsUpdated > 0))
      .getOrElse(sys.error("no state operator progress captured"))
    val st = prog.stateOperators.head
    val rows = st.numRowsTotal
    val mem = st.memoryUsedBytes
    val custom = st.customMetrics
    q.stop()
    // sessions_out ≈ live state rows (Complete-mode session agg: one
    // state row per open session); under RocksDB with row tracking
    // off numRowsTotal is 0 — report -1 rather than a fake count.
    val nOut = if (rows > 0) rows else -1L
    // The denominator the sizing formula divides by, carried IN the
    // artifact so a RocksDB capture (state_rows 0 with row tracking
    // off) stands alone: the same sessionization computed as a batch
    // aggregate over the probed events table — identical grouping, so
    // its group count IS the session count the store holds.
    val sessionsBatch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions.session_window(
        org.apache.spark.sql.functions.col("ts"), "30 minutes"),
        org.apache.spark.sql.functions.col("user_id"))
      .count().count()
    def num1(v: Double) =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val denom = if (rows > 0) rows else sessionsBatch
    val provider = spark.conf
      .get("spark.sql.streaming.stateStore.providerClass").split("\\.").last
    val line =
      s"""{"metric":"state_probe","sf":"$sfDir","provider":"$provider",""" +
        s""""state_rows":$rows,"state_bytes":$mem,""" +
        s""""bytes_per_row":${num1(if (rows > 0) mem.toDouble / rows else 0.0)},""" +
        s""""sessions_batch":$sessionsBatch,""" +
        s""""bytes_per_session":${num1(if (denom > 0) mem.toDouble / denom else 0.0)},""" +
        s""""sessions_out":$nOut,"wall_sec":$secs,""" +
        s""""custom":{${custom.entrySet().toArray.map { e =>
          val kv = e.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]]
          "\"" + kv.getKey + "\":" + kv.getValue
        }.mkString(",")}}}"""
    outFile.foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n"))
    println(line)
    graft.Caching.releaseTransient()
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Checkpoint-restart under a DIFFERENT spark.sql.shuffle.partitions:
  * a streaming job redeployed with new parallelism must produce
  * exactly what the undisturbed deployment produces — Spark pins the
  * state-store partitioning in the checkpoint, so the conf change
  * must not reshuffle state or change results. This is the round-3
  * rescale check SURVEY §7 names: on a cluster, executor counts and
  * shuffle widths change across restarts as a matter of course.
  */
class StateRescaleSpec extends SparkSpec {

  /** Write the two event-time halves of events.parquet as two files
    * in a fresh source dir; returns (dir, path of the 2nd file before
    * it is moved in).
    */
  private def splitSource(): (String, Path) = {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val mid = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)")).head().getLong(0)
    val srcDir = tempDir("graft_rescale_src")
    val staging = tempDir("graft_rescale_stage")
    def dump(df: DataFrame, name: String): Path = {
      val tmp = s"$staging/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = Files.list(java.nio.file.Paths.get(tmp)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Paths.get(part)
    }
    val p1 = dump(ev.filter(unix_micros(col("ts")) <= mid), "h1")
    val p2 = dump(ev.filter(unix_micros(col("ts")) > mid), "h2")
    Files.move(p1, srcDir.resolve("h1.parquet"))
    (srcDir.toString, p2)
  }

  private def srcStream(dir: String): DataFrame = {
    val sch = graft.sources.Tables.events(spark, sfDir).schema
    spark.readStream.schema(sch).parquet(dir)
  }

  /** Run `mkStream` over the source dir in two restarts sharing one
    * checkpoint: phase 1 sees only h1.parquet at `parts1` shuffle
    * partitions; then h2.parquet appears and phase 2 restarts at
    * `parts2`. Returns all rows the memory sink saw (append: union of
    * phases; complete: the final table).
    */
  private def twoPhase(dir: String, second: Path, mkStream: DataFrame => DataFrame,
                       mode: OutputMode, parts1: Int, parts2: Int,
                       tag: String): Seq[String] = {
    val ckpt = tempDir(s"graft_rescale_ckpt_$tag").toString
    // append phases write to a recoverable parquet sink (memory-sink
    // append can't restart from a checkpoint); complete phases
    // materialize to a memory table.
    val outDir = tempDir(s"graft_rescale_out_$tag").toString
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def phase(n: Int, name: String): Seq[String] =
      try {
        spark.conf.set(key, n.toString)
        val s0 = mkStream(srcStream(dir)).writeStream
          .outputMode(mode).option("checkpointLocation", ckpt)
        val q =
          if (mode == OutputMode.Complete())
            s0.format("memory").queryName(name).start()
          else s0.format("parquet").start(outDir)
        q.processAllAvailable()
        q.stop()
        if (mode == OutputMode.Complete())
          spark.table(name).collect().map(_.toString).toSeq
        else Seq.empty
      } finally spark.conf.set(key, prev)
    val out1 = phase(parts1, s"rescale_${tag}_1")
    Files.copy(second, java.nio.file.Paths.get(dir).resolve("h2.parquet"))
    val out2 = phase(parts2, s"rescale_${tag}_2")
    if (mode == OutputMode.Complete()) out2
    else spark.read.parquet(outDir).collect().map(_.toString).toSeq
  }

  test("st_stateful_rate: restart at different shuffle partitions = identical output") {
    val (dirA, secondA) = splitSource()
    val (dirB, secondB) = splitSource()
    val rescaled = twoPhase(dirA, secondA,
      src => graft.streaming.Streaming.rateStream(spark, src),
      OutputMode.Append(), parts1 = 8, parts2 = 3, tag = "rate_a")
    val steady = twoPhase(dirB, secondB,
      src => graft.streaming.Streaming.rateStream(spark, src),
      OutputMode.Append(), parts1 = 8, parts2 = 8, tag = "rate_b")
    assert(rescaled.nonEmpty)
    assert(rescaled.sorted === steady.sorted)
  }

  test("st_sessions: restart at different shuffle partitions = identical output") {
    val (dirA, secondA) = splitSource()
    val (dirB, secondB) = splitSource()
    val rescaled = twoPhase(dirA, secondA,
      graft.streaming.Streaming.sessionStream,
      OutputMode.Complete(), parts1 = 8, parts2 = 3, tag = "sess_a")
    val steady = twoPhase(dirB, secondB,
      graft.streaming.Streaming.sessionStream,
      OutputMode.Complete(), parts1 = 8, parts2 = 8, tag = "sess_b")
    assert(rescaled.nonEmpty)
    assert(rescaled.sorted === steady.sorted)
  }
}

package graft


import org.apache.spark.sql.functions._

/** Exactly-once sink semantics under replay: re-processing a batch
  * (fresh checkpoint over the same input and sink dir — the worst-case
  * recovery: the checkpoint was lost AFTER the sink wrote) must
  * rewrite the same bytes, never append duplicates.
  */
class StreamReplaySpec extends SparkSpec {

  test("Pipeline replay into the same sink dir produces identical output, no dupes") {
    val esDir = tempDir("replay_es").toString
    def runOnce(): Unit = {
      val ckpt = tempDir("replay_ckpt").toString // fresh = full replay
      val src = graft.sources.Tables.normalizeEventsTs(spark.readStream
        .schema(spark.read.parquet(s"$sfDir/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
        .select("event_id", "ts", "user_id", "event_type", "value")
      val q = graft.streaming.Pipeline.start(src, "ts",
        graft.streaming.Pipeline.Config(esDir = Some(esDir)), ckpt)
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    val first = spark.read.text(esDir).count()
    val firstHash = spark.read.text(esDir)
      .agg(sum(crc32(col("value")))).head().getLong(0)
    runOnce() // replay: same batch ids, same partitions, overwrite
    val second = spark.read.text(esDir).count()
    val secondHash = spark.read.text(esDir)
      .agg(sum(crc32(col("value")))).head().getLong(0)
    assert(second === first, "replay duplicated sink output")
    assert(secondHash === firstHash, "replay changed sink bytes")
    // 2 physical lines (action + doc) per input record
    val n = graft.sources.Tables.events(spark, sfDir).count()
    assert(first === 2 * n)
  }
}

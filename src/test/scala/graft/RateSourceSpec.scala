package graft

import org.apache.spark.sql.functions._

/** Source parameterization: the pipeline rollup transform runs
  * unchanged over the RATE source (trigger-cadence-driven generator
  * micro-batches — no file listing), and whatever prefix of the
  * stream the triggers processed equals the batch computation over
  * the same ids. This exercises the trigger/backpressure path that
  * file sources (one listing, one batch) never do.
  */
class RateSourceSpec extends SparkSpec {

  test("hourly rollup over the rate source == batch rollup over the processed prefix") {
    val rolled = graft.metrics.Transforms.hourlyRollup(
      graft.streaming.Streaming.rateEvents(spark, rowsPerSecond = 5000))
    val name = "graft_rate_replay"
    val ckpt = tempDir("rate_ckpt").toString
    val q = rolled.writeStream.format("memory").queryName(name)
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try {
      // let several trigger cycles fire; stop once enough rows flowed
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        spark.table(name).agg(coalesce(sum("n"), lit(0L))).head().getLong(0) < 2000)
        Thread.sleep(200)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
    val k = got.agg(sum("n")).head().getLong(0)
    assert(k >= 2000, s"rate source only produced $k rows")
    // the rate source emits sequential ids, so the processed rows are
    // exactly ids 0..k-1 — replay them as a batch
    val want = graft.metrics.Transforms.hourlyRollup(
      graft.streaming.Streaming.rateEventsBatch(spark, k))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    assert(rows(got) === rows(want))
    // multiple trigger cycles actually fired (the point of the rate path)
    info(s"processed $k generated rows")
  }
}

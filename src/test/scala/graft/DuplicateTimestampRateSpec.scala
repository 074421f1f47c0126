package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Two samples of one series with an identical timestamp: the batch
  * rate (m3) divides by zero → Spark NULL → filtered; the stateful
  * streaming rate must emit nothing for that sample too (not
  * ±Infinity/NaN from raw Scala division).
  */
class DuplicateTimestampRateSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "a", 1000000000L, 10.0),
      (2L, 10L, "a", 1000000000L, 20.0), // duplicate ts within the series
      (3L, 10L, "a", 2000000000L, 40.0),
      (4L, 11L, "b", 1000000000L, 5.0),
      (5L, 11L, "b", 3000000000L, 9.0),
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val tmp = tempDir("graft_dupts")
    val stage = tmp.resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    // the loaders expect a single file named events.parquet
    val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, tmp.resolve("events.parquet"))
    tmp.toString
  }

  test("batch m3: duplicate-ts sample yields NULL rate, not Infinity") {
    val rates = graft.metrics.Metrics.rate.run(spark, dir).collect()
    val e2 = rates.find(_.getLong(0) == 2L).get
    assert(e2.isNullAt(e2.fieldIndex("rate")))
    val e3 = rates.find(_.getLong(0) == 3L).get
    assert(e3.getDouble(e3.fieldIndex("rate")) === 20.0)
  }

  test("st_stateful_rate matches batch semantics on duplicate timestamps") {
    val streamed = graft.streaming.Streaming.statefulRate.run(spark, dir)
      .select("user_id", "event_type", "event_id", "rate")
      .collect().map(_.toString).toSeq
    val batch = graft.metrics.Metrics.rate.run(spark, dir)
      .filter(col("rate").isNotNull)
      .select("user_id", "event_type", "event_id", "rate")
      .orderBy("user_id", "event_type", "event_id")
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.size === 2) // e3 (rate 20.0) and e5 (rate 2.0) only
  }
}

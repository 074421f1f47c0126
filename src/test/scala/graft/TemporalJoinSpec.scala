package graft


import org.apache.spark.sql.functions._

/** Boundary semantics of the as-of and range joins on a hand-built
  * events table (written as parquet so the GraftQuery closures run
  * unchanged; `ts` is nanosecond longs like the driver testdata).
  */
class TemporalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def us(sec: Long): Long = sec * 1000000000L

  // user 1: view@10s, purchase@10s (tie → view counts), purchase@5s (no
  //         prior view → sentinel)
  // user 2: clicks at t-3600s (excluded, boundary is strict >),
  //         t-3599s and t (both included) around purchase@7200s
  private lazy val dir: String = {
    val d = tempDir("graft_tj").toString
    Seq(
      (1L, us(10), 1L, "view", 1.0, "{}"),
      (2L, us(10), 1L, "purchase", 2.0, "{}"),
      (3L, us(5), 1L, "purchase", 3.0, "{}"),
      (4L, us(7200 - 3600), 2L, "click", 10.0, "{}"),
      (5L, us(7200 - 3599), 2L, "click", 20.0, "{}"),
      (6L, us(7200), 2L, "click", 30.0, "{}"),
      (7L, us(7200), 2L, "purchase", 4.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("as-of join: equal-ts view is visible; no prior view gives the sentinel") {
    val out = graft.olap.TemporalJoins.asofJoin.run(spark, dir)
      .orderBy("event_id").collect()
    val byId = out.map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(byId(2L).getAs[Long]("view_event_id") === 1L) // tie at ts=10 counts
    assert(byId(3L).getAs[Long]("view_event_id") === -1L) // nothing before 5s
  }

  test("range join: (t-1h, t] boundaries — t-1h excluded, t-1h+1s and t included") {
    val out = graft.olap.TemporalJoins.rangeJoin.run(spark, dir)
      .filter($"user_id" === 2).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_clicks") === 2)
    assert(out.head.getAs[Double]("click_value") === 50.0)
  }
}

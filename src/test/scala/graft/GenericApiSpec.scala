package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The generic library APIs work on arbitrary schemas, not just the
  * harness tables.
  */
class GenericApiSpec extends SparkSpec {
  import spark.implicits._

  test("Temporal.asofJoin on a custom schema (sensor readings vs calibrations)") {
    val readings = Seq(
      ("s1", 100L, 1.0), ("s1", 200L, 2.0), ("s2", 150L, 3.0),
    ).toDF("sensor", "r_us", "reading")
      .withColumn("r_ts", timestamp_micros($"r_us" * 1000000))
    val calibrations = Seq(
      ("s1", 90L, 0.5), ("s1", 200L, 0.7), ("s2", 160L, 0.9),
    ).toDF("sensor", "c_us", "offset")
      .withColumn("c_ts", timestamp_micros($"c_us" * 1000000))
      .select($"sensor", $"c_ts", $"offset".as("cal_offset"))
    val out = graft.olap.Temporal.asofJoin(readings, calibrations,
        Seq("sensor"), "r_ts", "c_ts", Seq("cal_offset"))
      .orderBy("sensor", "r_us").collect()
    // s1@100 -> cal@90 (0.5); s1@200 -> cal@200 ties inclusive (0.7);
    // s2@150 -> none (calibration at 160 is later)
    assert(out.map(r => Option(r.getAs[Any]("cal_offset"))).toSeq ===
      Seq(Some(0.5), Some(0.7), None))
  }

  test("Dedup.canonical adapts arbitrary columns into the pipelines") {
    val df = Seq((10, "alpha beta gamma alpha beta gamma alpha beta"),
      (20, "alpha beta gamma alpha beta gamma alpha beta"))
      .toDF("item_id", "body")
    val groups = graft.dedup.Dedup.exactGroups(
      graft.dedup.Dedup.canonical(df, "item_id", "body"))
    assert(groups.filter($"group_size" === 2).count() === 2)
    assert(groups.agg(min("canonical_id")).head().getLong(0) === 10L)
  }

  test("Pipeline.Config with a single sink enabled writes only that sink") {
    val root = Files.createTempDirectory("graft_es_only")
    val in = Files.createDirectories(root.resolve("in"))
    Files.write(in.resolve("r.json"),
      """{"id":1,"ts":"2024-03-01T10:00:00Z","user_id":3,"v":5.0}""".getBytes("UTF-8"))
    val esDir = root.resolve("es").toString
    val q = graft.streaming.Pipeline.start(
      spark.readStream.schema("id LONG, ts TIMESTAMP, user_id LONG, v DOUBLE").json(in.toString),
      "ts", graft.streaming.Pipeline.Config(indexPrefix = "m", esDir = Some(esDir)),
      Files.createTempDirectory("graft_es_only_ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    val written = Files.list(root)
    try assert(written.iterator().asScala.map(_.getFileName.toString).toSet === Set("in", "es"))
    finally written.close()
    val idx = spark.read.text(esDir).select($"es_index".cast("string"))
      .distinct().as[String].collect()
    assert(idx.toSeq === Seq("m-2024-03-01"))
  }
}

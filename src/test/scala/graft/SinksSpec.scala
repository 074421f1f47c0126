package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** The on-disk bytes of both sinks match the reference wire formats
  * (ElasticSearchAppender bulk NDJSON + date-rotated index;
  * KafkaAppender keyed JSON records).
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("ES bulk sink: action+doc line pairs in date-rotated index dirs") {
    val out = tempDir("graft_es_spec").toString
    val df = Seq(
      (1L, new Timestamp(86400L * 1000), """{"m":1}"""),
      (2L, new Timestamp(86400L * 2000), """{"m":2}"""),
    ).toDF("id", "ts", "doc")
    graft.sinks.Sinks.writeEsBulk(df, "ts", "doc", "metrics", out)

    val back = spark.read.text(out)
    assert(back.count() === 4) // 2 records × (action + doc)
    val idx = back.select($"es_index".cast("string")).distinct()
      .as[String].collect().sorted
    assert(idx === Array("metrics-1970-01-02", "metrics-1970-01-03"))
    val lines = spark.read.text(out).filter($"es_index" === "metrics-1970-01-02")
      .select("value").as[String].collect().sorted
    assert(lines === Array("""{"index":{"_index":"metrics-1970-01-02","_type":"doc"}}""", """{"m":1}"""))
  }

  test("Kafka producer contract: unkeyed, shared poll ts, flush-every-500 batch boundaries") {
    val n = 1234
    val df = (0 until n).map(i => (i.toLong, s"""{"m":$i}""")).toDF("event_id", "doc")
    val out = graft.sinks.Sinks.kafkaProducerBatches(
      df, Seq("event_id"), "doc", pollTsMillis = 1700000000000L).collect()
    assert(out.length === n)
    // value-only records: one shared timestamp, no key column at all
    assert(out.forall(_.getAs[Long]("timestamp") === 1700000000000L))
    assert(!out.head.schema.fieldNames.contains("key"))
    // flush after index 0, then every 500th: batches [0], (0,500], (500,1000], tail
    val sizes = out.groupBy(_.getAs[Long]("batch_id")).view
      .mapValues(_.length).toMap
    assert(sizes === Map(0L -> 1, 1L -> 500, 2L -> 500, 3L -> (n - 1001)))
    // boundary bytes: message 500 closes batch 1, message 501 opens batch 2
    val byIdx = out.map(r => r.getAs[Long]("msg_index") -> r.getAs[Long]("batch_id")).toMap
    assert(byIdx(0L) === 0L && byIdx(1L) === 1L && byIdx(500L) === 1L && byIdx(501L) === 2L)
    assert(out.forall(_.getAs[String]("topic") === "jmx_data_ingestion_pipeline"))
  }

  test("Kafka wire frame: connector-contract columns, value bytes = producer payload") {
    val n = 57
    val df = (0 until n).map(i => (i.toLong, s"""{"m":$i}""")).toDF("event_id", "doc")
    val batches = graft.sinks.Sinks.kafkaProducerBatches(df, Seq("event_id"), "doc")
    val wire = graft.sinks.Sinks.kafkaWireFrame(batches, "value", "t1")
    // exact connector contract: key/value binary, topic string, no partition
    assert(wire.schema.fieldNames.toSeq === Seq("key", "value", "topic"))
    assert(wire.schema("key").dataType.typeName === "binary")
    assert(wire.schema("value").dataType.typeName === "binary")
    val rows = wire.collect()
    assert(rows.length === n)
    assert(rows.forall(_.isNullAt(0)), "reference producer is unkeyed — key must be null")
    assert(rows.forall(_.getAs[String]("topic") === "t1"))
    // the wire value bytes are exactly the producer payload strings
    val sent = rows.map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).sorted
    val produced = batches.select("value").as[String].collect().sorted
    assert(sent.sameElements(produced))
  }

  test("Kafka JSONL wire frame byte-equals the JSONL sink's lines, partition-for-partition") {
    val out = tempDir("graft_kwire_spec").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("k", "name", "v")
    graft.sinks.Sinks.writeKafkaJsonl(df, "k", out, numPartitions = 4)
    val wire = graft.sinks.Sinks.kafkaJsonlWireFrame(df, "k", "t2", numPartitions = 4)
    assert(wire.schema.fieldNames.toSeq === Seq("key", "value", "topic", "partition"))
    val fileLines = spark.read.text(out)
      .select($"_kpart".cast("int").as("partition"), $"value".cast("string"))
      .as[(Int, String)].collect().sorted
    val wireLines = wire
      .select($"partition", $"value".cast("string"))
      .as[(Int, String)].collect().sorted
    assert(wireLines.sameElements(fileLines),
      "wire frame must byte-equal the JSONL sink output at the same placement")
  }

  test("Kafka JSONL sink: records land key-partitioned, JSON round-trips") {
    val out = tempDir("graft_kafka_spec").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "name", "v")
    graft.sinks.Sinks.writeKafkaJsonl(df, "k", out, numPartitions = 4)
    val back = spark.read.json(spark.read.text(out).select("value").as[String])
    assert(back.count() === 2)
    assert(back.select(sum($"v")).as[Double].head() === 4.0)
  }
}

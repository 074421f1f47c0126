package graft


import org.apache.spark.sql.functions._

/** The whole reference flow in one pass: a file of Jolokia payloads →
  * normalize → recursive flatten → hourly rollup → ES bulk sink on
  * disk. This is main.py end to end, file-backed.
  */
class EndToEndReferenceFlowSpec extends SparkSpec {
  import spark.implicits._

  private def payload(host: Int, tsSec: Long, count: Int): String =
    s"""{"status":200,"timestamp":$tsSec,
        "request":{"mbean":"kafka.server:*","type":"read"},
        "value":{"kafka.server:type=BrokerTopicMetrics,name=MessagesInPerSec":
                 {"Count":"$count",
                  "Rates":"{\\"OneMinute\\":\\"1.5\\",\\"FiveMinute\\":\\"0.7\\"}"}}}"""
      .replaceAll("\n\\s*", "")

  test("payload file -> normalize -> flatten -> rollup -> ES bulk files") {
    // 1. a JSONL "scrape capture" file
    val dir = tempDir("graft_e2e").toString
    val lines = (0 until 6).map { i =>
      val doc = payload(i % 2, 1700000000L + i * 600, 10 + i)
      s"""{"payload":${ujsonEscape(doc)},"host":"host-${i % 2}","server_type":"KafkaBroker"}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/capture.jsonl"),
      lines.mkString("\n").getBytes)

    // 2. read + normalize + recursive flatten
    val raw = spark.read.json(s"$dir/capture.jsonl")
    val flat = graft.jolokia.Jolokia.flattenNestedAttrs(
      graft.jolokia.Jolokia.normalize(raw, "payload", "host", "server_type"))
    // 6 payloads × (Count + Rates.OneMinute + Rates.FiveMinute)
    assert(flat.count() === 18)
    assert(flat.filter($"attribute" === "Rates.OneMinute").count() === 6)

    // 3. windowed rollup over the numeric Count metric
    val rolled = flat.filter($"attribute" === "Count")
      .select(timestamp_seconds($"created_date_time").as("ts"),
        $"injected_host_name".as("series"), $"value".cast("double").as("v"))
      .groupBy(window($"ts", "1 hour"), $"series")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
    assert(rolled.agg(sum("n")).head().getLong(0) === 6)

    // 4. ship to the ES bulk sink; verify on-disk shape
    val esDir = tempDir("graft_e2e_es").toString
    val docs = flat.withColumn("ts", timestamp_seconds($"created_date_time"))
      .withColumn("doc", to_json(struct($"mbean_name", $"attribute", $"value")))
    graft.sinks.Sinks.writeEsBulk(docs, "ts", "doc", "jmx", esDir)
    val back = spark.read.text(esDir)
    assert(back.count() === 36) // action + doc line per record
    val idx = back.select($"es_index".cast("string")).distinct().as[String].collect()
    assert(idx.toSeq === Seq("jmx-2023-11-14"))
  }

  private def ujsonEscape(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

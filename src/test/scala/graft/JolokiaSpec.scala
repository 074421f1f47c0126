package graft

import org.apache.spark.sql.functions._

/** Exact semantics of the Jolokia payload normalization
  * (reference: JMXScraper.py:95-118) on hand-built payloads.
  */
class JolokiaSpec extends SparkSpec {
  import spark.implicits._

  private val okPayload =
    """{"status":200,"timestamp":1700000000,
       "request":{"mbean":"kafka.server:*","type":"read"},
       "value":{"kafka.server:type=BrokerTopicMetrics,name=MessagesInPerSec":
                {"Count":"42","OneMinuteRate":"1.5"}}}"""
  private val errPayload = """{"status":404,"timestamp":1700000001,"request":{"mbean":"x","type":"read"},"value":{}}"""

  private def normalized = {
    val df = Seq(
      (okPayload, "host-1", "KafkaBroker"),
      (errPayload, "host-2", "KafkaBroker"),
    ).toDF("payload", "host", "server_type")
    graft.jolokia.Jolokia.normalize(df, "payload", "host", "server_type")
  }

  test("error responses (status != 200) are dropped") {
    assert(normalized.filter($"injected_host_name" === "host-2").count() === 0)
  }

  test("one row per (mbean, attribute), mbean split into domain + props") {
    val rows = normalized.orderBy("attribute").collect()
    assert(rows.length === 2) // Count + OneMinuteRate
    val r = rows.head
    assert(r.getAs[String]("injected_bean_name") === "kafka.server")
    assert(r.getAs[String]("mbean_name") === "kafka.server:type=BrokerTopicMetrics,name=MessagesInPerSec")
    val props = r.getAs[Map[String, String]]("bean_props")
    assert(props === Map("type" -> "BrokerTopicMetrics", "name" -> "MessagesInPerSec"))
    assert(r.getAs[String]("attribute") === "Count")
    assert(r.getAs[String]("value") === "42")
    assert(r.getAs[Long]("created_date_time") === 1700000000L)
  }

  test("odd mbean names parse totally beside a good payload: last key wins, missing parts are null") {
    val oddPayload =
      """{"status":200,"timestamp":1700000002,
         "request":{"mbean":"*:*","type":"read"},
         "value":{"kafka.server:type=A,type=B":{"Count":"1"},
                  "kafka.server":{"Count":"2"},
                  "a:foo":{"Count":"3"}}}"""
    val mixed = graft.jolokia.Jolokia.normalize(
      Seq((okPayload, "host-1", "KafkaBroker"), (oddPayload, "host-3", "KafkaBroker"))
        .toDF("payload", "host", "server_type"),
      "payload", "host", "server_type")
    val odd = mixed.filter($"injected_host_name" === "host-3").collect()
      .map(r => r.getAs[String]("mbean_name") ->
        (r.getAs[String]("injected_bean_name"), r.getAs[Map[String, String]]("bean_props")))
      .toMap
    assert(odd === Map(
      "kafka.server:type=A,type=B" -> ("kafka.server", Map("type" -> "B")),
      "kafka.server" -> ("kafka.server", null),
      "a:foo" -> ("a", Map("foo" -> null))))
    val good = mixed.filter($"injected_host_name" === "host-1").orderBy("attribute")
    assert(good.collect().toSeq === normalized.orderBy("attribute").collect().toSeq)
  }

  test("k8s discovery honors annotations: disabled/pending/unannotated pods excluded") {
    val pods = graft.jolokia.Jolokia.discover(spark).collect()
    assert(pods.map(_.getAs[String]("pod_name")).toSeq ===
      Seq("connect-0", "kafka-0", "kafka-1", "ksql-0", "zk-0"))
    val ksql = pods.find(_.getAs[String]("pod_name") === "ksql-0").get
    assert(ksql.getAs[String]("server_type") === "Discovered") // no type annotation
    // unknown types poll the common default beans; known types their own
    assert(ksql.getAs[String]("mbean_pattern") === "java.lang:type=*")
    assert(pods.find(_.getAs[String]("pod_name") === "zk-0")
      .get.getAs[String]("scrape_url") ===
      "http://10.0.1.10:7772/jolokia/read/org.apache.ZooKeeperService:*")
  }
}

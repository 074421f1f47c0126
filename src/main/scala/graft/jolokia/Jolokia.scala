package graft.jolokia

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.GraftQuery

/** Jolokia payload normalization + K8s discovery (SURVEY.md §2.A),
  * the structural core of the reference
  * (JMXScraper.py:95-118, KubernetesAutomator.py).
  */
object Jolokia {

  private def envelope(value: String): DataType = DataType.fromDDL(
    "STRUCT<status: INT, timestamp: LONG, request: STRUCT<mbean: STRING, type: STRING>, " +
      s"value: $value>")

  /** Jolokia read-response envelope (wildcard read: value is a map of
    * mbean name → attribute map).
    */
  val envelopeSchema: DataType = envelope("MAP<STRING, MAP<STRING, STRING>>")
  val singleEnvelopeSchema: DataType = envelope("MAP<STRING, STRING>")

  /** Normalize a column of Jolokia JSON payloads into flat metric rows:
    * one row per (mbean, attribute), the mbean name split into domain +
    * `k=v` properties (kept as a map column), with injected host /
    * server-type / createdDateTime metadata — the exact record shape of
    * JMXScraper.internal_get_structured_json_from_response.
    *
    * Pure from_json + explode (codegen'd); error rows (status != 200)
    * are dropped like the reference does.
    */
  def normalize(payloads: DataFrame, payloadCol: String, hostCol: String,
                serverTypeCol: String): DataFrame =
    records(payloads, payloadCol, hostCol, serverTypeCol, envelopeSchema,
      Seq(explode(col("_env.value")).as(Seq("mbean_name", "attrs"))))

  /** Normalize single-mbean responses, whose `value` is the attribute
    * map itself, to the same flat record shape as [[normalize]], under
    * the requested mbean name (the reference wraps a single-mbean
    * response into the wildcard form, JMXScraper.py:120-146).
    */
  def normalizeSingle(payloads: DataFrame, payloadCol: String, hostCol: String,
                      serverTypeCol: String): DataFrame =
    records(payloads, payloadCol, hostCol, serverTypeCol, singleEnvelopeSchema,
      Seq(col("_env.request.mbean").as("mbean_name"), col("_env.value").as("attrs")))

  /** The record builder both envelope shapes share: `beans` selects
    * `mbean_name` and `attrs` from the parsed `_env`. The name split is
    * total, so no mbean name can fail the batch: a name without `:`
    * has null props, a property without `=` a null value, and a
    * repeated key keeps its last value (the reference builds a Python
    * dict).
    */
  private def records(payloads: DataFrame, payloadCol: String, hostCol: String,
                      serverTypeCol: String, schema: DataType,
                      beans: Seq[Column]): DataFrame = {
    val name = split(col("mbean_name"), ":")
    val kvs = col("_kvs")
    payloads
      .withColumn("_env", from_json(col(payloadCol), schema))
      .filter(col("_env.status") === 200)
      .select(Seq(col(hostCol).as("injected_host_name"),
        col(serverTypeCol).as("injected_server_type"),
        col("_env.timestamp").as("created_date_time")) ++ beans: _*)
      // staged, so the last-wins filter reads the pairs once per name
      .withColumn("_kvs", transform(split(get(name, lit(1)), ","), kv => {
        val p = split(kv, "=")
        struct(get(p, lit(0)).as("key"), get(p, lit(1)).as("value"))
      }))
      // before the attribute explode, so once per mbean
      .withColumn("injected_bean_name", get(name, lit(0)))
      .withColumn("bean_props", map_from_entries(filter(kvs, (e, i) =>
        !exists(slice(kvs, i + 2, size(kvs)), x => x("key") === e("key")))))
      .select(col("injected_host_name"), col("injected_server_type"),
        col("created_date_time"), col("mbean_name"), col("injected_bean_name"),
        col("bean_props"), explode(col("attrs")).as(Seq("attribute", "value")))
  }

  /** Recursive attribute flatten (ReusableCodes.py:16-22): JMX
    * attribute values that are themselves nested JSON objects (e.g. a
    * percentile map) flatten into path-concatenated keys
    * (`Latency.p50`). One pass per nesting level; `depth` bounds the
    * recursion like the reference's dict walk (JMX beans are ≤ 2-3
    * deep in practice). Scalar attributes pass through unchanged.
    *
    * Input: normalize()/normalizeSingle() output (one row per
    * (mbean, attribute, value)); output: same shape, nested objects
    * expanded.
    */
  def flattenNestedAttrs(flat: DataFrame, depth: Int = 2): DataFrame = {
    val mapType = org.apache.spark.sql.types.DataType.fromDDL("MAP<STRING, STRING>")
    (1 to depth).foldLeft(flat) { (df, _) =>
      val parsed = from_json(col("value"), mapType)
      val asMap = when(parsed.isNotNull,
        transform_keys(parsed, (k, _) => concat(col("attribute"), lit("."), k)))
        .otherwise(map(col("attribute"), col("value")))
      df.select(df.columns.filterNot(Set("attribute", "value")).toIndexedSeq.map(col) :+ asMap.as("_m"): _*)
        .select(col("*"), explode(col("_m")).as(Seq("attribute", "value")))
        .drop("_m")
    }
  }

  /** Deterministic in-code pod inventory standing in for the K8s API
    * (annotations drive discovery exactly like KubernetesAutomator:
    * jolokia/is_enabled, jolokia/port, jolokia/server_type; only
    * Running pods are eligible).
    */
  private val pods: Seq[(String, String, String, Map[String, String])] = Seq(
    ("kafka-0", "10.0.0.10", "Running",
      Map("jolokia/is_enabled" -> "true", "jolokia/port" -> "7771", "jolokia/server_type" -> "KafkaBroker")),
    ("kafka-1", "10.0.0.11", "Running",
      Map("jolokia/is_enabled" -> "true", "jolokia/port" -> "7771", "jolokia/server_type" -> "KafkaBroker")),
    ("kafka-2", "10.0.0.12", "Pending",
      Map("jolokia/is_enabled" -> "true", "jolokia/port" -> "7771", "jolokia/server_type" -> "KafkaBroker")),
    ("zk-0", "10.0.1.10", "Running",
      Map("jolokia/is_enabled" -> "true", "jolokia/port" -> "7772", "jolokia/server_type" -> "ZooKeeper")),
    ("zk-1", "10.0.1.11", "Running",
      Map("jolokia/is_enabled" -> "false", "jolokia/port" -> "7772", "jolokia/server_type" -> "ZooKeeper")),
    ("connect-0", "10.0.2.10", "Running",
      Map("jolokia/is_enabled" -> "true", "jolokia/port" -> "7773", "jolokia/server_type" -> "KafkaConnect")),
    ("web-0", "10.0.3.10", "Running", Map.empty),
    ("ksql-0", "10.0.4.10", "Running",
      Map("jolokia/is_enabled" -> "true", "jolokia/port" -> "7774")),
  )

  /** Per-server-type mbean poll patterns (argparser.py:62-69 defaults,
    * main.py:21-26): ZooKeeper polls its service bean, the Kafka
    * family polls `kafka.*:*`, and any OTHER discovered type polls the
    * common default beans (`java.lang:type=*`,
    * main.py:65-69 + argparser common_mbeans_list). A server with n
    * patterns scrapes n URLs (itertools.product in return_url_set,
    * argparser.py:117-122).
    */
  private val mbeanPatterns: Seq[(String, Seq[String])] = Seq(
    "ZooKeeper" -> Seq("org.apache.ZooKeeperService:*"),
    "KafkaBroker" -> Seq("kafka.*:*"),
    "KafkaConnect" -> Seq("kafka.*:*"),
    "KSQL" -> Seq("kafka.*:*"))
  private val commonPatterns: Seq[String] = Seq("java.lang:type=*")

  /** Annotation-driven pod → Jolokia scrape-URL discovery table.
    * Server type falls back to "Discovered" like the reference; each
    * pod fans out to one row per mbean pattern of its type
    * (base_url × patterns — the reference's return_url_set), with the
    * full scrape URL assembled.
    */
  def discover(s: SparkSession): DataFrame = {
    import s.implicits._
    val patterns = broadcast(mbeanPatterns.toDF("server_type", "patterns"))
    pods.toDF("pod_name", "pod_ip", "phase", "annotations")
      .filter(col("phase") === "Running" &&
        element_at(col("annotations"), "jolokia/is_enabled") === "true")
      .select(
        col("pod_name"),
        coalesce(element_at(col("annotations"), "jolokia/server_type"), lit("Discovered"))
          .as("server_type"),
        concat(lit("http://"), col("pod_ip"), lit(":"),
          element_at(col("annotations"), "jolokia/port"), lit("/jolokia/read/")).as("base_url"))
      .join(patterns, Seq("server_type"), "left")
      .withColumn("mbean_pattern",
        explode(coalesce(col("patterns"), typedLit(commonPatterns))))
      .select(col("pod_name"), col("server_type"), col("base_url"),
        col("mbean_pattern"),
        concat(col("base_url"), col("mbean_pattern")).as("scrape_url"))
      .orderBy("pod_name", "mbean_pattern")
  }

  /** m12: oracle-checked via a literal VALUES replay of the expected
    * discovery output (the transform must reproduce it exactly).
    */
  val k8sDiscovery = GraftQuery(
    "m12_k8s_discovery",
    Some("""
      SELECT * FROM (VALUES
        ('connect-0', 'KafkaConnect', 'http://10.0.2.10:7773/jolokia/read/',
         'kafka.*:*', 'http://10.0.2.10:7773/jolokia/read/kafka.*:*'),
        ('kafka-0',   'KafkaBroker',  'http://10.0.0.10:7771/jolokia/read/',
         'kafka.*:*', 'http://10.0.0.10:7771/jolokia/read/kafka.*:*'),
        ('kafka-1',   'KafkaBroker',  'http://10.0.0.11:7771/jolokia/read/',
         'kafka.*:*', 'http://10.0.0.11:7771/jolokia/read/kafka.*:*'),
        ('ksql-0',    'Discovered',   'http://10.0.4.10:7774/jolokia/read/',
         'java.lang:type=*', 'http://10.0.4.10:7774/jolokia/read/java.lang:type=*'),
        ('zk-0',      'ZooKeeper',    'http://10.0.1.10:7772/jolokia/read/',
         'org.apache.ZooKeeperService:*', 'http://10.0.1.10:7772/jolokia/read/org.apache.ZooKeeperService:*')
      ) AS t(pod_name, server_type, base_url, mbean_pattern, scrape_url)
      ORDER BY pod_name, mbean_pattern"""),
    (s, _) => discover(s),
  )

  def all: Seq[GraftQuery] = Seq(k8sDiscovery)
}

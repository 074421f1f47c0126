package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom

/** Seeded input generators. Every byte they write is a pure function
  * of the seed and the parameters: no clock, no hash-map iteration
  * order, no locale.
  */
object Gen {

  // ---------------------------------------------------------------- JMX

  /** Traffic shape of one scrape sweep. */
  final case class JmxParams(hosts: Int, beansPerHost: Int, beansPerPayload: Int,
                             nestedShare: Double, non200Share: Double,
                             malformedShare: Double)

  /** What the generator knows a payload file must produce: payload
    * lines written, how many of them the normalizer must reject, and
    * the flattened records per UTC date (one ES index per date).
    */
  final case class Expect(payloads: Long, non200: Long, malformed: Long,
                          recordsByDate: Map[String, Long]) {
    def rejected: Long = non200 + malformed
    def records: Long = recordsByDate.values.sum
    def +(o: Expect): Expect = Expect(payloads + o.payloads, non200 + o.non200,
      malformed + o.malformed,
      (recordsByDate.keySet ++ o.recordsByDate.keySet).iterator.map(k =>
        k -> (recordsByDate.getOrElse(k, 0L) + o.recordsByDate.getOrElse(k, 0L))).toMap)
  }
  val NoExpect: Expect = Expect(0, 0, 0, Map.empty)

  /** Host roster: brokers, ZooKeeper and Connect, in the proportions a
    * small Kafka deployment has.
    */
  private val roster = Seq("KafkaBroker", "KafkaBroker", "KafkaBroker", "KafkaBroker",
    "KafkaBroker", "ZooKeeper", "ZooKeeper", "KafkaConnect")

  /** Bean families per server type: (pattern the scraper reads, name of
    * the bean with a `%d` slot). Every name is a valid JMX ObjectName —
    * a domain, a colon, and `key=value` properties with DISTINCT keys.
    * JMX forbids a repeated key, so the normalizer's duplicate-key
    * failure is not benchmark traffic.
    */
  private val families: Map[String, Seq[(String, Seq[String] => String)]] = {
    val meters = Seq("MessagesInPerSec", "BytesInPerSec", "BytesOutPerSec",
      "TotalFetchRequestsPerSec", "TotalProduceRequestsPerSec", "FailedFetchRequestsPerSec")
    val logs = Seq("Size", "NumLogSegments", "LogEndOffset", "LogStartOffset")
    val reqs = Seq("Produce", "FetchConsumer", "FetchFollower", "Metadata", "OffsetCommit")
    val times = Seq("TotalTimeMs", "RequestQueueTimeMs", "LocalTimeMs", "RemoteTimeMs")
    Map(
      "KafkaBroker" -> Seq(
        ("kafka.server:type=BrokerTopicMetrics,*", i =>
          s"kafka.server:type=BrokerTopicMetrics,name=${meters(i.head.toInt % meters.size)}," +
            s"topic=topic-${i.head.toInt / meters.size}"),
        ("kafka.log:type=Log,*", i =>
          s"kafka.log:type=Log,name=${logs(i.head.toInt % logs.size)}," +
            s"topic=topic-${i.head.toInt / logs.size / 4},partition=${i.head.toInt / logs.size % 4}"),
        ("kafka.network:type=RequestMetrics,*", i =>
          s"kafka.network:type=RequestMetrics,name=${times(i.head.toInt % times.size)}," +
            s"request=${reqs(i.head.toInt / times.size % reqs.size)},shard=${i.head.toInt / times.size / reqs.size}"),
        ("java.lang:type=*", i => s"java.lang:type=MemoryPool,name=pool-${i.head}")),
      "ZooKeeper" -> Seq(
        ("org.apache.ZooKeeperService:*", i =>
          s"org.apache.ZooKeeperService:name0=ReplicatedServer_id1,name1=replica.1," +
            s"name2=Follower,name3=Connections,name4=client-${i.head}"),
        ("java.lang:type=*", i => s"java.lang:type=MemoryPool,name=pool-${i.head}")),
      "KafkaConnect" -> Seq(
        ("kafka.connect:type=connector-task-metrics,*", i =>
          s"kafka.connect:type=connector-task-metrics,connector=conn-${i.head.toInt / 8},task=${i.head.toInt % 8}"),
        ("kafka.connect:type=sink-task-metrics,*", i =>
          s"kafka.connect:type=sink-task-metrics,connector=sink-${i.head.toInt / 8},task=${i.head.toInt % 8}"),
        ("java.lang:type=*", i => s"java.lang:type=MemoryPool,name=pool-${i.head}")),
    )
  }

  private val nestedKeys = Seq("OneMinuteRate", "FiveMinuteRate", "FifteenMinuteRate", "MeanRate")

  private def num(r: SplittableRandom): String = (r.nextInt(100000000) / 1000.0).toString

  /** Renders the bean's attribute object and returns the records it
    * flattens to: a nested `Rates` object becomes one record per key.
    */
  private def attrs(r: SplittableRandom, nestedShare: Double, sb: java.lang.StringBuilder): Int =
    if (r.nextDouble() < nestedShare) {
      sb.append("{\"Count\":").append(r.nextInt(1000000000)).append(",\"Rates\":{")
      nestedKeys.zipWithIndex.foreach { case (k, i) =>
        if (i > 0) sb.append(',')
        sb.append('"').append(k).append("\":").append(num(r))
      }
      sb.append("}}")
      1 + nestedKeys.size
    } else if (r.nextDouble() < 0.6) {
      sb.append("{\"Value\":").append(num(r)).append('}')
      1
    } else {
      sb.append("{\"Count\":").append(r.nextInt(1000000000))
        .append(",\"RateUnit\":\"SECONDS\"}")
      2
    }

  /** One scrape sweep at `epochSec`: every host reads its bean families
    * in payloads of at most `beansPerPayload` beans, scraped one second
    * apart, so (host, timestamp) is unique per payload. Lines are
    * `host \t server_type \t payload`. A non-200 payload is an error
    * envelope; a malformed one is a valid envelope cut inside its value,
    * before the trailing status field.
    */
  def sweep(p: JmxParams, seed: Long, sweepNo: Long, epochSec: Long,
            out: java.lang.StringBuilder): Expect = {
    val r = new SplittableRandom(seed * 1000003L + sweepNo)
    var payloads, non200, malformed = 0L
    val byDate = scala.collection.mutable.TreeMap[String, Long]()
    for (h <- 0 until p.hosts) {
      val tpe = roster(h % roster.size)
      val host = s"${tpe.toLowerCase}-$h"
      val fams = families(tpe)
      val beans = (0 until p.beansPerHost).map { j =>
        val (pattern, name) = fams(j % fams.size)
        (pattern, name(Seq((j / fams.size).toString)))
      }.groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (pattern, bs) => bs.map(_._2).grouped(p.beansPerPayload).map(pattern -> _) }
      beans.zipWithIndex.foreach { case ((pattern, names), k) =>
        val ts = epochSec + k
        val env = new java.lang.StringBuilder(names.size * 160)
        env.append("{\"request\":{\"mbean\":\"").append(pattern).append("\",\"type\":\"read\"},")
        val u = r.nextDouble()
        var recs = 0
        if (u < p.non200Share) {
          env.append("\"error_type\":\"javax.management.InstanceNotFoundException\",")
            .append("\"error\":\"").append(pattern).append(" not found\",\"status\":404}")
          non200 += 1
        } else {
          env.append("\"value\":{")
          names.zipWithIndex.foreach { case (n, i) =>
            if (i > 0) env.append(',')
            env.append('"').append(n).append("\":")
            recs += attrs(r, p.nestedShare, env)
          }
          val valueEnd = env.length
          env.append("},\"timestamp\":").append(ts).append(",\"status\":200}")
          if (u < p.non200Share + p.malformedShare) {
            env.setLength(valueEnd - 1 - r.nextInt(valueEnd / 2))
            malformed += 1
            recs = 0
          }
        }
        payloads += 1
        if (recs > 0) {
          val d = Instant.ofEpochSecond(ts).atOffset(ZoneOffset.UTC).toLocalDate.toString
          byDate(d) = byDate.getOrElse(d, 0L) + recs
        }
        out.append(host).append('\t').append(tpe).append('\t').append(env).append('\n')
      }
    }
    Expect(payloads, non200, malformed, byDate.toMap)
  }

  /** Midnight UTC of a fixed day; the seed shifts it by whole days so
    * two seeds never share timestamps.
    */
  def baseEpoch(seed: Long): Long = 1767225600L + 86400L * Math.floorMod(seed, 997L)

  /** Write a file atomically: the streaming file source must never list
    * a half-written file.
    */
  def writeAtomically(stage: Path, target: Path, text: CharSequence): Unit = {
    Files.createDirectories(stage.getParent)
    Files.createDirectories(target.getParent)
    Files.write(stage, text.toString.getBytes(UTF_8))
    Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** A multi-day capture: `sweeps` sweeps spread evenly over `days`
    * days, one file per host per sweep, as a scraper that appends each
    * scrape to its own file leaves them.
    */
  def capture(p: JmxParams, seed: Long, sweeps: Int, days: Int, dir: Path): Expect = {
    val step = days * 86400L / sweeps
    val stage = dir.resolveSibling(dir.getFileName.toString + ".stage")
    (0 until sweeps).foldLeft(NoExpect) { (acc, i) =>
      val sb = new java.lang.StringBuilder()
      val e = sweep(p, seed, 1000000L + i, baseEpoch(seed) + i * step, sb)
      sb.toString.split("\n").toSeq.groupBy(_.takeWhile(_ != '\t')).toSeq.sortBy(_._1)
        .foreach { case (host, lines) =>
          val f = f"sweep-$i%05d-$host.tsv"
          writeAtomically(stage.resolve(f), dir.resolve(f), lines.mkString("", "\n", "\n"))
        }
      acc + e
    }
  }

  // ------------------------------------------------------------- corpus

  /** Corpus shape: size, the share of documents planted as near
    * duplicates of an earlier document, and the share carrying a
    * boilerplate header.
    */
  final case class CorpusParams(docs: Int, plantedShare: Double, boilerplateShare: Double)

  /** Generated corpus plus the planted pairs, split by kind:
    * whitespace variants (same tokens, different spacing) and
    * truncations (the earlier document is a prefix of the later one).
    */
  final case class Corpus(rows: IndexedSeq[(Long, String, String, String, Long)],
                          whitespacePairs: Set[(Long, Long)],
                          truncationPairs: Set[(Long, Long)])

  /** The 30-word vocabulary and 10–100 token lengths of the sf0.1
    * `documents` test table, so per-shingle document frequencies match it.
    */
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
  /** Words outside the vocabulary: the header's shingles and its
    * 50-character prefix are shared by every boilerplate document, so
    * at the stated share their document frequency exceeds the
    * operators' cap of 1000.
    */
  val Boilerplate: String =
    "copyright notice all rights reserved reproduction prohibited without written consent of publisher"

  def corpus(p: CorpusParams, seed: Long): Corpus = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    def words(n: Int): Seq[String] = Seq.fill(n)(vocab(r.nextInt(vocab.size)))
    val texts = new Array[String](p.docs)
    // plain documents long enough to plant from, each used at most once
    // so that every planted pair is exactly one (source, copy) pair
    val sources = scala.collection.mutable.ArrayBuffer[Int]()
    val ws = Set.newBuilder[(Long, Long)]
    val tr = Set.newBuilder[(Long, Long)]
    for (i <- 0 until p.docs) {
      val u = r.nextDouble()
      if (u < p.plantedShare && sources.nonEmpty) {
        val k = r.nextInt(sources.size)
        val src = sources(k)
        sources(k) = sources.last
        sources.remove(sources.size - 1)
        if (r.nextBoolean()) {
          texts(i) = texts(src).split(" ").map(w => if (r.nextInt(4) == 0) w + "  " else w)
            .mkString(" ") + " "
          ws += ((src.toLong, i.toLong))
        } else {
          texts(i) = texts(src) + " " + words(1 + r.nextInt(3)).mkString(" ")
          tr += ((src.toLong, i.toLong))
        }
      } else if (u < p.plantedShare + p.boilerplateShare) {
        texts(i) = Boilerplate + " " + words(10 + r.nextInt(91)).mkString(" ")
      } else {
        val n = 10 + r.nextInt(91)
        texts(i) = words(n).mkString(" ")
        if (n >= 15) sources += i
      }
    }
    val rows = texts.indices.map { i =>
      (i.toLong, texts(i), langs(r.nextInt(langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    Corpus(rows, ws.result(), tr.result())
  }
}

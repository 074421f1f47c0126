package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.dedup.Dedup

/** dedup_corpus: the four blocking near-dup operators in sequence on a
  * seeded corpus with planted near-duplicates and a hot boilerplate
  * header.
  */
final class DedupCorpus(c: Ctx) extends Workload {
  /** (layer name, registered operator) in the order a cycle runs them. */
  val Ops = Seq("containment" -> "d_containment", "minhash_lsh" -> "d_minhash_lsh",
    "simhash" -> "d_simhash", "prefix" -> "d_prefix_containment")

  private var dir: Path = _
  private var corpus: Gen.Corpus = _
  /** each operator's output rows (as text) in the first window */
  private var firstWindow = Map.empty[String, Seq[String]]
  private var current = Map.empty[String, Seq[String]]
  private var window = 0
  private var bytesPerRow = 0.0

  private def corpusDir = dir.resolve("corpus").toString

  /** Writes `documents.parquet`, the table the operators read. */
  private def write(s: SparkSession, c: Gen.Corpus, to: Path): Unit =
    s.createDataFrame(c.rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(to.resolve("documents.parquet").toString)

  private def runOps(d: String): Map[String, Seq[String]] = Ops.map { case (op, q) =>
    op -> c.sp(s"dedup.$op")(SparkEntry.queries(q)(c.spark, d).collect().toSeq.map(_.mkString(",")))
  }.toMap

  def generate(d: Path): Unit = {
    dir = d
    corpus = Gen.corpus(Sizes.corpus(c.tiny), c.seed)
    write(c.spark, corpus, d.resolve("corpus"))
  }
  def warmupCycles: Int = 1

  def open(w: Int): Unit = { window = w; current = Map.empty }

  def cycle(i: Int): Long = {
    val out = runOps(corpusDir)
    if (current.isEmpty) current = out
    c.check("dedup_corpus.repeatable", out == current, s"cycle $i pairs differ from cycle 0")
    corpus.rows.size.toLong
  }

  private def pairs(op: String): Set[(Long, Long)] =
    current(op).iterator.map(_.split(",")).map(a => (a(0).toLong, a(1).toLong)).toSet

  /** Each planted pair must be found by every operator whose definition
    * guarantees it: whitespace variants (identical tokens) by all four,
    * truncations (the earlier doc a prefix of the later) by containment
    * and prefix. MinHash-LSH and SimHash recall of truncations is
    * reported, not checked: both are probabilistic in the edit.
    */
  def close(): Unit = {
    def missing(op: String, want: Set[(Long, Long)]) = want -- pairs(op)
    for (op <- Ops.map(_._1)) {
      val m = missing(op, corpus.whitespacePairs)
      c.check(s"dedup_corpus.$op.whitespace_pairs", m.isEmpty, s"missing ${m.take(5)} of ${m.size}")
    }
    for (op <- Seq("containment", "prefix")) {
      val m = missing(op, corpus.truncationPairs)
      c.check(s"dedup_corpus.$op.truncation_pairs", m.isEmpty, s"missing ${m.take(5)} of ${m.size}")
    }
    for (op <- Seq("minhash_lsh", "simhash")) {
      val got = corpus.truncationPairs.size - missing(op, corpus.truncationPairs).size
      println(s"info dedup_corpus.$op recovered $got of ${corpus.truncationPairs.size} truncation pairs")
    }
    if (firstWindow.isEmpty) firstWindow = current
    // the warm-up, untimed and traced windows must agree pair for pair
    c.check("dedup_corpus.pairs_equal_across_windows", current == firstWindow,
      s"window $window's pair sets differ from the first window's")
    // the delivered output: one file of pair rows per operator
    val out = dir.resolve(s"pairs-$window")
    Files.createDirectories(out)
    val bytes = current.map { case (op, rows) =>
      Files.write(out.resolve(s"$op.csv"), rows.map(_ + "\n").mkString.getBytes(UTF_8))
      Files.size(out.resolve(s"$op.csv"))
    }.sum
    bytesPerRow = bytes.toDouble / math.max(1, current.values.map(_.size).sum)
  }

  def sinkBytesPerRow: Double = bytesPerRow

  def layers(tr: Tracer, cycles: Int): Seq[(String, Double)] = {
    val s = c.spark
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(name: String)(body: => Unit): Double = Stats.quantile((0 until 3).map { _ =>
      tr.seconds(s"prefix.$name")(body)
    }, 0.5)
    val docs = graft.sources.Tables.documents(s, corpusDir)
    val scan = t("scan")(noop(docs))
    val shingle = t("shingle")(noop(Dedup.shingleTable(docs)))
    Seq("sources.scan_s" -> scan, "text.shingle_s" -> (shingle - scan)) ++
      Ops.flatMap { case (op, _) =>
        val a = tr.total(_ == s"dedup.$op")
        val n = current(op).size.toDouble
        Seq(s"dedup.${op}_s" -> Stats.quantile(tr.durations(s"dedup.$op"), 0.5) / 1000.0,
          s"dedup.$op.pairs" -> n,
          s"dedup.$op.exchanges" -> a.exchanges.toDouble / cycles,
          s"dedup.$op.shuffle_bytes" -> a.shuffleWrite.toDouble / cycles,
          s"dedup.$op.candidates_per_pair" -> (if (n > 0) a.pairGenRows.toDouble / cycles / n else 0.0))
      }
  }
}

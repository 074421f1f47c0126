package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Duplication-adaptive df cap for the blocking indexes
  * (SURVEY §7: pair fan-out ∝ duplication² on replica-heavy corpora).
  * Contract: on low-duplication data the cap resolves to the fixed
  * maximum and the pair output is IDENTICAL to the fixed-cap pipeline
  * (so the DuckDB oracles' literal 1000 stays valid); on replica-heavy
  * data the cap tightens so predicted pair mass stays within
  * PairMassPerDoc × nDocs, while low-duplication near-dups in the same
  * corpus are still found.
  */
class AdaptiveBlockingSpec extends SparkSpec {

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The df frame the operators feed the cap: `size(ids)` of the
    * capped shingle buckets (buffer cap maxCap+1).
    */
  private def shingleDf(docs: org.apache.spark.sql.DataFrame) =
    Dedup.cappedBucketsPlan(
      Dedup.shingleSets(docs)
        .select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("shingle")),
      Seq("shingle"), 1001)
      .select(size(col("ids")).cast("long").as("df"))

  test("low-duplication corpus: cap resolves to maxCap; pairs ≡ fixed-cap output") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val cap = Dedup.adaptiveDfCapFromDf(shingleDf(docs), docs.count())
    assert(cap === 1000L, s"driver corpus must not tighten (got $cap)")
    val adaptive = Dedup.ngramJaccardPairs(docs)
    val fixed = Dedup.ngramJaccardPairs(docs, adaptive = false)
    assert(adaptive.exceptAll(fixed).isEmpty && fixed.exceptAll(adaptive).isEmpty)
  }

  test("replica-heavy corpus: cap tightens under the pair-mass budget") {
    // 5 distinct 22-token texts × 201 replicas: every replica shingle
    // has df = 201, predicted mass 5·20·201·200/2 ≈ 2.0M versus a
    // budget of 1000 × 1005 ≈ 1.0M — the cap must drop below 201.
    val base = (0 until 5).map(k =>
      (0 until 22).map(i => s"w${k}_$i").mkString(" "))
    val rows = for (k <- 0 until 5; r <- 0 until 201)
      yield ((k * 201 + r).toLong, base(k))
    val docs = docsOf(rows)
    val cap = Dedup.adaptiveDfCapFromDf(shingleDf(docs), docs.count())
    assert(cap < 201L, s"replica corpus must tighten below the replica df (got $cap)")
    assert(cap >= 2L, s"cap collapsed entirely (got $cap)")
  }

  test("LSH band buckets: budgeted cap sheds replica-quadratic pair mass") {
    // 3 texts × 1000 replicas: every band bucket holds 1000 ids, mass
    // 4 bands × 3 × 999·1000/2 ≈ 6.0M against a budget of 1000 × 3000
    // = 3M — the bucket cap must engage and shed the quadratic mass
    // (on low-duplication corpora it resolves to no-cap: the
    // d_minhash_lsh oracle gate proves that side).
    val base = (0 until 3).map(k =>
      (0 until 22).map(i => s"v${k}_$i").mkString(" "))
    val rows = for (k <- 0 until 3; r <- 0 until 1000)
      yield ((k * 1000 + r).toLong, base(k))
    val pairs = Dedup.minhashLshPairs(docsOf(rows))
    assert(pairs.count() === 0L, "over-budget replica buckets must be shed")
  }

  test("mixed corpus: replica mass is shed, low-duplication near-dups survive") {
    val base = (0 until 5).map(k =>
      (0 until 22).map(i => s"w${k}_$i").mkString(" "))
    val replicas = for (k <- 0 until 5; r <- 0 until 201)
      yield ((k * 201 + r).toLong, base(k))
    // one genuine near-dup pair with unique (df=2) shingles
    val a = (0 until 30).map(i => s"uniq_$i").mkString(" ")
    val b = (0 until 28).map(i => s"uniq_$i").mkString(" ") // prefix of a: high jaccard
    val docs = docsOf(replicas ++ Seq((100000L, a), (100001L, b)))
    val pairs = Dedup.ngramJaccardPairs(docs)
      .filter(col("doc_a") === 100000L && col("doc_b") === 100001L)
    assert(pairs.count() === 1L, "low-dup near-dup pair must survive the tightened cap")
  }

  test("prefix buckets: the adaptive cap can never tighten below the fixed 1000") {
    // each doc sits in exactly one prefix bucket, so nDocs = Σdf and the
    // pair mass under the cap, Σ df(df−1)/2 ≤ 499.5·Σdf, always fits the
    // 1000·Σdf budget. Worst case for the fold: every bucket at df = 1000.
    import spark.implicits._
    val hist = Seq.fill(50)(1000L).toDF("df")
    assert(Dedup.adaptiveDfCapFromDf(hist, 50L * 1000L) === 1000L)
  }

  test("prefix corpus: over-cap bucket yields no pairs, planted truncation pair is found") {
    // 1,200 docs share one 59-char header, so their 50-char prefix
    // bucket has df 1200 > the cap of 1000 ("... number 1" would
    // otherwise pair with "... number 10"); one planted pair outside
    // it: b is a truncation of a
    val head = "shared boilerplate header that every export page carries ok"
    val replicas = (0 until 1200).map(i => (i.toLong, s"$head body number $i"))
    val a = (0 until 20).map(i => s"planted_$i").mkString(" ")
    val b = (0 until 15).map(i => s"planted_$i").mkString(" ")
    val docs = docsOf(replicas ++ Seq((5000L, a), (5001L, b)))
    val pairs = Dedup.prefixPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_short"), r.getAs[Long]("doc_long")))
    // exactly the planted pair: none from the over-cap bucket
    assert(pairs.toSet === Set((5001L, 5000L)), pairs.take(5).mkString(", "))
  }
}

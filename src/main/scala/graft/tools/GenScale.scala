package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-off ~N× scale-up of a driver testdata dir (default 10×) for
  * stress benching — `GenScale <srcDir> <outDir> [factor] [docmode]`.
  *
  * `docmode` selects the DUPLICATION REGIME of the scaled documents
  * table (all other tables are identical between modes):
  *   - `replica` (default): token-perturbed copies — every replica is
  *     a near-dup of its original sitting BELOW the pair gates, but
  *     the surviving shared shingles give df ∝ factor and pair mass ∝
  *     factor². This is the duplication-adversarial regime where the
  *     adaptive df cap MUST tighten to keep pair shuffles linear.
  *   - `fresh`: every token of replicas 1..N-1 carries a rep-unique
  *     suffix, so shingle vocabularies are DISJOINT across replicas —
  *     each replica reproduces the source corpus' own duplication
  *     structure at shifted ids and nothing more. Pair mass grows ∝
  *     corpus size, the budget is slack at any factor, and the
  *     adaptive cap must resolve to maxCap (bit-identical output to
  *     the fixed cap). This is the regime the cap must NOT touch.
  *   - `events` / `docs`: only that one table scales (see their
  *     branches below); every other table is copied verbatim.
  *
  * Replica 0 is the source data verbatim; replicas 1..N-1:
  *   - shift every key domain by rep·(max+1), so joins (orders ⋈
  *     lineitem ⋈ part/supplier, events ⋈ customer) scale consistently
  *     and per-key row counts stay what they were;
  *   - perturb document text token-wise (a rep-unique token inserted
  *     after every 4th token kills ~half the 3-gram shingles), so
  *     replicas sit at ~0.29 Jaccard / ~0.5 containment to their
  *     originals — BELOW the 0.5 / 0.8 dedup gates. Near-dup pair
  *     counts therefore scale linearly with the corpus, not
  *     quadratically with the replication factor;
  *   - re-draw embedding vectors from the corpus' own distribution
  *     (hash-derived uniform direction, unit norm — the source is
  *     unit-norm with per-dim std 1/√64): independent unit vectors
  *     sit ~0.125±σ cosine, far below the 0.45 near-dup gate.
  *
  * Probe sets (vec_id < 10) stay fixed — replica ids are shifted out
  * of the probe range — so ANN queries measure pure corpus-scan
  * scaling.
  */
object GenScale {

  private val dims = 0 until 64

  /** The uniform re-draw of replica `rep`'s vector `vec_id` before
    * normalization: 64 hash-derived coordinates in [-1, 1]. An
    * EXPLICIT 64-element array of codegen-able expressions, not a
    * transform lambda: higher-order functions always evaluate
    * interpreted, and at factor 50000 that put ~10^10 interpreted
    * xxhash64/pmod evals on the write path (measured: every executor
    * thread pinned in HashExpression.eval). Bit-identical to the
    * lambda form (GenScaleVecSpec), so replica r's vectors stay the
    * same across scale factors and rounds.
    */
  private[graft] def rawVec: Column = array(dims.map(i =>
    (pmod(xxhash64(col("vec_id"), col("rep"), lit(i)), lit(2001L)).cast("double")
      - 1000.0) / 1000.0): _*)

  def main(args: Array[String]): Unit = {
    val Array(src, out) = args.take(2)
    val factor = if (args.length > 2) args(2).toInt else 10
    val docMode = if (args.length > 3) args(3) else "replica"
    require(Seq("replica", "fresh", "events", "docs").contains(docMode),
      s"docmode must be replica|fresh|events|docs, got $docMode")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.local(cpus)
    import spark.implicits._

    val reps = (0 until factor).toDF("rep")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def shift(c: String, stride: Long): Column =
      col(c) + col("rep").cast("long") * stride
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    def write(df: DataFrame, t: String): Unit = {
      // many files per table, not one: a single parquet file has one
      // row group and scans SERIALLY however many cores exist — real
      // deployments read thousands of splits, so the stress data must
      // too (deterministic content; file assignment does not affect
      // any hash-checked result)
      df.drop("rep").repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] wrote $t")
    }

    // embeddings, replica/fresh modes: replica 0 verbatim, reps > 0
    // re-drawn from the corpus' own distribution (independent unit
    // vectors sit ~0.125±σ cosine — below every near-dup gate),
    // vec_ids shifted out of the fixed probe range.
    def scaleEmbeddings(): Unit = {
      val emb = read("embeddings")
      val V = stride(emb, "vec_id")
      // same left-fold float order as the lambda form's aggregate
      // (0.0 + x² ≡ x² bitwise)
      def sumSq(arr: String): Column =
        dims.map(i => element_at(col(arr), i + 1) * element_at(col(arr), i + 1))
          .reduce(_ + _)
      // distribute the SOURCE vectors first, THEN replicate: the
      // source table is one parquet file (one partition), so the
      // factor rides a broadcast nested-loop join against the tiny
      // reps frame and each of the 256 partitions births its own
      // factor×(rows/256) replicas IN PLACE — no shuffle of the
      // replicated rows at all. The previous shape
      // (crossJoin THEN repartition(256)) pushed every replicated row
      // through the exchange, and because the crossJoin inherited the
      // scan's single partition, ONE task sorted+spilled the whole
      // replicated corpus for the round-robin split — at factor 50000
      // that is 10^8 rows × ~300 B through one core (measured: >20 min
      // in UnsafeExternalSorter before the r15 rewrite, vs the
      // per-row hash math being the only real work). Written DIRECTLY
      // from the 256 compute partitions (not through write()'s
      // repartition(32)): a post-compute shuffle of finished vectors
      // doubled peak disk and capped the 10^8-vector factor on a
      // single host — and 256 files scan strictly better than 32
      // anyway (content is deterministic; file assignment affects no
      // hash-checked result).
      emb.repartition(256).crossJoin(broadcast(reps))
        .withColumn("_raw", rawVec)
        .withColumn("_nrm", sqrt(sumSq("_raw")))
        .withColumn("embedding",
          when(col("rep") === 0, col("embedding"))
            .otherwise(array(dims.map(i =>
              (element_at(col("_raw"), i + 1) / col("_nrm")).cast("float")): _*)))
        .withColumn("vec_id", shift("vec_id", V))
        .drop("_raw", "_nrm", "rep")
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[genscale] wrote embeddings")
    }

    // documents scaling, shared by the full replica/fresh modes and
    // the docs-only mode. Every replica must differ from its
    // original: token insertion only fires at every 4th position, so
    // docs with < 4 whitespace tokens additionally get one rep-unique
    // token appended — without it short docs replicate verbatim
    // (Jaccard 1.0) and the dedup stress gates'
    // near-dup-pairs-scale-linearly property breaks.
    def scaleDocuments(fresh: Boolean): Unit = {
      val docs = read("documents")
      val D = stride(docs, "doc_id")
      val perturbedText =
        if (fresh)
          // rep-unique suffix on EVERY token: replica vocabularies are
          // disjoint, so cross-replica shingle sharing is zero and the
          // corpus' duplication-per-doc stays constant as it scales
          when(col("rep") === 0, col("text")).otherwise(
            concat_ws(" ", transform(split(col("text"), " "), t =>
              concat(t, lit("~"), col("rep")))))
        else when(col("rep") === 0, col("text")).otherwise(
          when(size(split(col("text"), " ")) < 4,
            concat(col("text"), lit(" z"), col("rep"), lit("qshort")))
            .otherwise(concat_ws(" ", transform(split(col("text"), " "), (t, i) =>
              when(i % 4 === 3,
                concat(t, lit(" z"), col("rep"), lit("q"), pmod(i, lit(89))))
                .otherwise(t)))))
      // spread before the per-row text transform for the same
      // single-source-partition reason as scaleEmbeddings
      write(docs.crossJoin(reps)
        .repartition(256)
        .withColumn("text", perturbedText)
        .withColumn("doc_id", shift("doc_id", D))
        .withColumn("n_chars", length(col("text")).cast("long")), "documents")
    }

    // `docs` mode: only the documents table scales (fresh-regime
    // perturbation — duplication-per-doc constant as the corpus
    // grows); everything else is copied verbatim. The cheap way to
    // put the linear text/dedup family at 10^6-10^7 documents for a
    // second scaling decade without scaling lineitem.
    if (docMode == "docs") {
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
        write(read(t).withColumn("rep", lit(0)), t)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      write(read("events").withColumn("rep", lit(0)), "events")
      write(read("embeddings").withColumn("rep", lit(0)), "embeddings")
      scaleDocuments(fresh = true)
      spark.stop()
      return
    }

    // `events` mode: only the events table scales (replica-style key
    // and timestamp shifts — session cardinality rides user_id, so
    // live-session count scales with the factor); everything else is
    // copied verbatim. This is the cheap way to put streaming state
    // stores at 10^7-10^8 live sessions without a 300x lineitem/
    // documents blow-up the state probe never reads.
    if (docMode == "events") {
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents"))
        write(read(t).withColumn("rep", lit(0)), t)
      val C0 = stride(read("customer"), "c_custkey")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev0 = read("events")
      val E0 = stride(ev0, "event_id")
      val shifted0 = ev0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("ts") + col("rep").cast("long") * 1000000000L
        case _ => expr("timestampadd(SECOND, rep, ts)")
      }
      write(ev0.crossJoin(reps)
        .withColumn("event_id", shift("event_id", E0))
        .withColumn("user_id", shift("user_id", C0))
        .withColumn("ts", shifted0), "events")
      write(read("embeddings").withColumn("rep", lit(0)), "embeddings")
      spark.stop()
      return
    }

    // dims: copied verbatim (they are fixed-size at any scale)
    write(read("region").withColumn("rep", lit(0)), "region")
    write(read("nation").withColumn("rep", lit(0)), "nation")

    val cust = read("customer")
    val C = stride(cust, "c_custkey")
    write(cust.crossJoin(reps).withColumn("c_custkey", shift("c_custkey", C)),
      "customer")

    val supp = read("supplier")
    val S = stride(supp, "s_suppkey")
    write(supp.crossJoin(reps).withColumn("s_suppkey", shift("s_suppkey", S)),
      "supplier")

    val part = read("part")
    val P = stride(part, "p_partkey")
    write(part.crossJoin(reps).withColumn("p_partkey", shift("p_partkey", P)),
      "part")

    val ord = read("orders")
    val O = stride(ord, "o_orderkey")
    write(ord.crossJoin(reps)
      .withColumn("o_orderkey", shift("o_orderkey", O))
      .withColumn("o_custkey", shift("o_custkey", C)), "orders")

    write(read("lineitem").crossJoin(reps)
      .withColumn("l_orderkey", shift("l_orderkey", O))
      .withColumn("l_partkey", shift("l_partkey", P))
      .withColumn("l_suppkey", shift("l_suppkey", S)), "lineitem")

    // events.ts is nanosecond parquet. Pre-4.1 readers need nanosAsLong
    // (ts arrives as a long; shift one second = 1e9 ns per replica and
    // write the long back); Spark 4.1+ reads it natively as a timestamp
    // (shift via timestampadd). Tables.normalizeEventsTs handles either
    // written form on re-read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = read("events")
    val E = stride(ev, "event_id")
    val shiftedTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + col("rep").cast("long") * 1000000000L
      case _ => expr("timestampadd(SECOND, rep, ts)")
    }
    write(ev.crossJoin(reps)
      .withColumn("event_id", shift("event_id", E))
      .withColumn("user_id", shift("user_id", C))
      .withColumn("ts", shiftedTs),
      "events")

    scaleDocuments(fresh = docMode == "fresh")

    scaleEmbeddings()

    spark.stop()
  }
}


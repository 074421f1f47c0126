package graft

import org.apache.spark.sql.functions._

/** d_embed_dup's scale contract (Sim.embedDupPairs): exact all-pairs
  * tiles at oracle scales, IVF-cell-blocked tiles beyond
  * EmbedExactCutoff. The blocked path is allowed to MISS cross-cell
  * pairs (a measured recall artifact) but must never invent a pair or
  * change a cosine: its output is a subset of the exact pair set with
  * identical values, and pairs of identical vectors (which always
  * share a cell — same argmin) are always found.
  */
class EmbedDupScaleSpec extends SparkSpec {

  test("at oracle scale embedDupPairs IS the exact block-matrix path") {
    val exact = graft.sim.Embed
      .cosinePairs(graft.sources.Tables.embeddings(spark, sfDir),
        "vec_id", "embedding", 0.45)
      .orderBy("id_a", "id_b").collect().toSeq
    val viaEntry = graft.sim.Sim.embedDupPairs(spark, sfDir, 0.45)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(viaEntry === exact)
    assert(exact.nonEmpty)
  }

  test("above the cutoff the blocked path is a value-exact subset that keeps planted dups") {
    import spark.implicits._
    val n = graft.sim.Sim.EmbedExactCutoff.toInt + 50
    val dir = tempDir("embed_scale").toString
    // n random unit-ish vectors + 50 planted exact duplicates
    // (vec n+i ≡ vec i): identical vectors share an argmin cell, so
    // the blocked path must surface every planted pair at cos 1.0.
    spark.range(n + 50)
      .select(col("id").as("vec_id"),
        (col("id") % 7).cast("int").as("label"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(when(col("id") < n, col("id")).otherwise(col("id") - n), i),
            lit(2001L)).cast("double") - 1000.0) / 1000.0).cast("float"))
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val blocked = graft.sim.Sim.embedDupPairs(spark, dir, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.sim.Embed
      .cosinePairs(spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(blocked.subsetOf(exact), "blocked path invented pairs or changed values")
    val planted = (0 until 50).map(i => (i.toLong, (n + i).toLong, 1.0)).toSet
    assert(planted.subsetOf(exact))
    assert(planted.subsetOf(blocked), "blocked path lost a same-cell identical pair")
    graft.Caching.releaseTransient()
  }

  test("clustered-corpus recall floor: blocked path keeps >= 0.9 of actionable pairs") {
    // The committed A/Bs (EMBED_AB_VEC200K_r10: recall 0.951 overall /
    // 0.964 at cos >= 0.75 on the clustered 200k corpus) are
    // artifacts — nothing FAILED if a routing regression dropped them.
    // This gate rebuilds the same clustered construction at spec size
    // and pins the floor: a deliberate nprobe/cell-count regression
    // must flip this red, not just dent a JSON nobody re-reads.
    val n = 20000
    val dir = tempDir("embed_clustered").toString
    ClusteredCorpus.write(spark, n, dir)

    val blocked = graft.sim.Sim.embedDupPairs(spark, dir, 0.45)
      .select(col("id_a"), col("id_b"))
      .filter(col("id_a") < 1000 || col("id_b") < 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // Exact ground truth on a 1000-vector STRATUM (every pair with at
    // least one endpoint in it) — 1000×20k cosines instead of the full
    // n²/2, same recall estimand since the stratum is a hash-uniform
    // sample of endpoints.
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val strat = vecs.filter(col("vec_id") < 1000)
      .select(col("vec_id").as("id_s"), col("v").as("vs"))
    val exactStrat = broadcast(strat)
      .join(vecs, col("vec_id") =!= col("id_s"))
      .select(least(col("id_s"), col("vec_id")).as("id_a"),
        greatest(col("id_s"), col("vec_id")).as("id_b"),
        round(graft.gfunctions.cosine(col("vs"), col("v")), 4).as("cs"))
      .distinct()
    val hi = exactStrat.filter(col("cs") >= 0.75)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = exactStrat.filter(col("cs") >= 0.45)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hi.size >= 1000, s"degenerate spec corpus: only ${hi.size} high-cos pairs")

    assert(blocked.subsetOf(all), "blocked stratum pairs not a subset of exact")
    val recallHi = hi.intersect(blocked).size.toDouble / hi.size
    val recallAll = all.intersect(blocked).size.toDouble / all.size
    info(f"clustered recall: ${recallAll}%.3f overall, ${recallHi}%.3f at cos>=0.75 " +
      s"(${all.size} / ${hi.size} stratum pairs)")
    assert(recallHi >= 0.9, f"blocked recall $recallHi%.3f at cos>=0.75 below 0.9 floor")
    graft.Caching.releaseAll()
  }
}

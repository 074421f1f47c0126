package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic CLUSTERED embedding corpora for scale-regime specs:
  * 256 hash-derived unit cluster directions, v = √0.75·ĉ + 0.5·r̂
  * normalized, so within-cluster cosine ≈ 0.75 and cross-cluster ≈ 0.
  * This is the structure real embedding corpora carry and the regime
  * the blocked/routed operators are deployed for; the committed A/B
  * artifacts (EMBED_AB_*, ANNPROBE_*) measured the same construction
  * at 200k–5M vectors, built by GenScale's since-retired `vectors`
  * mode. Pure hash of (vec_id, dim) — bit-stable across runs, no RNG
  * state.
  */
object ClusteredCorpus {

  /** Write an n-vector clustered corpus to `dir`/embeddings.parquet
    * (vec_id, label, embedding float[64]) and return the dir.
    */
  def write(spark: SparkSession, n: Int, dir: String): String = {
    val rawVec = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(col("vec_id"), lit(1), i), lit(2001L)).cast("double")
        - 1000.0) / 1000.0)
    val cidC = pmod(xxhash64(col("vec_id"), lit(1), lit("cluster")), lit(256L))
    val centerVec = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(cidC, i, lit("center")), lit(2001L)).cast("double")
        - 1000.0) / 1000.0)
    val cn = sqrt(aggregate(centerVec, lit(0.0), (a, x) => a + x * x))
    val rn = sqrt(aggregate(rawVec, lit(0.0), (a, x) => a + x * x))
    val raw = zip_with(centerVec, rawVec,
      (c, r) => lit(math.sqrt(0.75)) * c / cn + lit(0.5) * r / rn)
    spark.range(n)
      .select(col("id").as("vec_id"), (col("id") % 7).cast("int").as("label"))
      .repartition(8)
      .withColumn("_raw", raw)
      .withColumn("_nrm", sqrt(aggregate(col("_raw"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("embedding", transform(col("_raw"), x => (x / col("_nrm")).cast("float")))
      .drop("_raw", "_nrm")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }
}

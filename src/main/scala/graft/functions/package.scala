package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared Column helpers. All are built from codegen'd
  * `org.apache.spark.sql.functions` — no UDFs — so they stay inside
  * whole-stage codegen and keep Catalyst pushdown intact.
  */
package object gfunctions {

  /** Money/quantity math: the oracle hash-compares values, and sums of
    * doubles are order-dependent. `decimal(18,2)` sums are exact and
    * associative in both Spark and DuckDB, so aggregate in decimal and
    * surface as double.
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum surfaced as a double (engine-portable). */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact mean: decimal sum, one double division — deterministic in
    * both engines (vs avg(double) whose summation order differs).
    */
  def davg(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))

  /** TPC-H style discounted revenue, exact at scale 4. */
  def revenue(price: Column, discount: Column): Column =
    sum(dec2(price) * (lit(1).cast(DecimalType(18, 2)) - dec2(discount))).cast("double")

  /** Portable deterministic 31-ary polynomial string hash mod 2^31-1.
    * Reproducible in DuckDB SQL (`list_reduce` over `ascii` codes) —
    * unlike engine-internal hashes (xxhash64 / duckdb hash()). Native
    * codegen'd expression (functions.PolyHash).
    */
  def polyHash(s: Column, mult: Long = 31L): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.PolyHash(Shim.expression(s.cast("string")), mult))
  }

  /** Dot product of two double-array columns — graft's native Catalyst
    * expression (functions.DotProduct): one codegen'd loop, no
    * intermediate array, same left-fold float semantics as the HOF
    * `aggregate(zip_with(...))` it replaces.
    */
  def dotProduct(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.DotProduct(
      Shim.expression(a.cast("array<double>")), Shim.expression(b.cast("array<double>"))))
  }

  /** Nearest centroid of `v` against a constant codebook as
    * struct(d2, cid) — ≡ array_min over the per-centroid distance
    * structs (see ArgminCentroid for the bit-exactness contract).
    */
  def argminCentroid(v: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.ArgminCentroid(
      Shim.expression(v.cast("array<double>")),
      cents.map(_._1).toArray, cents.map(_._2.toArray).toArray))
  }

  /** Lazy ordered-pair fan-out of a sorted `array<struct<doc_id,n>>`
    * bucket as generator ROWS (doc_a, na, doc_b, nb) — graft's native
    * Generator (functions.OrderedPairsGen): no per-bucket pair-array
    * materialization, no interpreted HOF. `minSizeRatio` replays the
    * lossless size filter with identical float semantics.
    */
  def orderedPairsRows(ids: Column, minSizeRatio: Double = 0.0,
                       minDocB: Long = Long.MinValue): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.OrderedPairsGen(Shim.expression(ids), minSizeRatio, minDocB))
  }

  /** `array_sort(collect_list(struct(doc_id, n)))` with a hard buffer
    * cap — functions.CappedSortedCollect, the fused bucket build of
    * every blocking index (shingle, LSH band, prefix). Buckets that
    * truncate have df ≥ cap and are dropped by the callers' df filter,
    * so every surviving array is complete and sorted (the exactness
    * contract lives on the aggregate's Scaladoc).
    */
  def cappedSortedCollect(id: Column, n: Column, cap: Int): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.CappedSortedCollect(
      Shim.expression(id.cast("long")), Shim.expression(n.cast("int")), cap)
      .toAggregateExpression())
  }

  /** Fused candidate+verify fan-out of a SimHash pigeonhole bucket
    * (sorted `array<struct<doc_id,h>>`) as (doc_a, doc_b, hamming)
    * rows with hamming ≤ maxHamming — functions.HammingPairsGen.
    */
  def hammingPairsRows(ids: Column, maxHamming: Int): Column = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.column(graft.functions.HammingPairsGen(Shim.expression(ids), maxHamming))
  }

  /** Null-safe division: NULL when the divisor is 0, matching DuckDB
    * (and pre-ANSI Spark). Spark 4 runs ANSI mode by default, where a
    * plain `/` THROWS on a zero divisor — any division by a
    * data-derived quantity (time delta, deviation, vector norm, token
    * count) must go through this or it is a runtime crash waiting for
    * the first degenerate series/document at scale.
    */
  def safeDiv(num: Column, den: Column): Column = num / nullif(den, lit(0))

  /** Cosine similarity of two equal-length double array columns.
    * NULL for a zero vector (zero norm), never a divide-by-zero error.
    */
  def cosine(a: Column, b: Column): Column =
    safeDiv(dotProduct(a, b), sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))

  // ---- skew salting ----------------------------------------------------
  //
  // For hot keys that AQE's skew-join split can't fix (e.g. a single
  // key holding >1/32 of a 100 TB fact table): spread the fact side
  // across `n` sub-keys with a deterministic salt, replicate the
  // other side n×, join on (key, salt). Join output is identical to
  // the unsalted join; the shuffle is n-way finer on the hot key.

  /** Deterministic salt in [0, n) derived from spreader columns (pick
    * high-cardinality columns of the skewed side).
    */
  def salt(n: Int, spreaders: Column*): Column =
    pmod(hash(spreaders: _*), lit(n))

  /** Replicate each row n× with salt values 0..n-1 (for the small /
    * build side of a salted join).
    */
  def explodeSalt(df: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("_salt", explode(sequence(lit(0), lit(n - 1))))

  /** Skew-safe equi-join: `skewed ⋈ other` on `key`, with the skewed
    * side salted n ways and the other side replicated n×. Result
    * equals the plain inner join.
    */
  def saltedJoin(skewed: org.apache.spark.sql.DataFrame,
                 other: org.apache.spark.sql.DataFrame,
                 key: String, n: Int,
                 spreaders: Seq[String]): org.apache.spark.sql.DataFrame =
    skewed.withColumn("_salt", salt(n, spreaders.map(col): _*))
      .join(explodeSalt(other, n), Seq(key, "_salt"))
      .drop("_salt")
}

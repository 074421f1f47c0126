package graft

import org.apache.spark.sql.functions._

/** GenScale's vector builder was rewritten in r15 from a
  * higher-order-function lambda (always interpreted — ~10^10
  * interpreted hash evals at factor 50000) to an explicit 64-element
  * array of codegen-able expressions. Replica vectors must stay
  * BIT-identical across that rewrite, across scale factors, and
  * therefore across rounds. This spec pins GenScale's own `rawVec`
  * against the lambda form element-for-element.
  */
class GenScaleVecSpec extends SparkSpec {

  test("explicit-array vector builder is bit-identical to the lambda form") {
    // the lambda (pre-r15) form, verbatim from the old GenScale
    val rawLam = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001L)).cast("double")
        - 1000.0) / 1000.0)
    val src = spark.range(0, 500)
      .select(pmod(col("id"), lit(50L)).as("vec_id"),
        (col("id") * 37 + 1).as("rep"))
    val both = src
      .select(col("vec_id"), col("rep"),
        graft.tools.GenScale.rawVec.as("raw_arr"), rawLam.as("raw_lam"))
      .collect()
    for (r <- both)
      assert(r.getSeq[Double](2) === r.getSeq[Double](3),
        s"raw mismatch at vec_id=${r.getLong(0)} rep=${r.getLong(1)}")
  }

  test("a retired docmode fails with the usage message before any session starts") {
    val e = intercept[IllegalArgumentException](
      graft.tools.GenScale.main(Array("in", "out", "10", "vectors")))
    assert(e.getMessage.contains("docmode must be replica|fresh|events|docs"))
  }
}

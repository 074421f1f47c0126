package graft

import org.apache.spark.sql.functions._

import graft.sim.Sim.bruteTop3

/** `Sim.bruteTop3`, the brute-force recall baseline, was rewritten in
  * r15 from a row_number window (which sort-exchanges probes×corpus
  * candidate rows — ~100 GB of spill at 100M vectors) to a bounded
  * per-partition top-3 merge. The selected (probe, neighbor) set must
  * be IDENTICAL to the window form — it is the denominator of every
  * recall@3 number the ANN scale claims rest on.
  */
class AnnBruteTopKSpec extends SparkSpec {

  test("bounded top-3 merge selects exactly the window form's rows") {
    val ev = graft.sim.Sim.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val probesR = ev.filter(col("vec_id") < 12)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    // the pre-r15 window form, verbatim
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
    val windowed = broadcast(probesR)
      .join(ev.select(col("vec_id").as("neighbor_id"), col("v")),
        col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.gfunctions.cosine(col("pv"), col("v")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bounded = bruteTop3(probesR, ev)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === windowed)
    assert(bounded.size === 12 * 3)
    // ties: a probe with duplicate-cosine neighbors must break ties by
    // neighbor_id ascending in both forms — force one by duplicating a
    // vector under new ids
    import spark.implicits._
    val base = ev.limit(50)
    val dup = base.filter(col("vec_id") === 7)
      .select(lit(9001L).as("vec_id"), col("v"))
      .unionByName(base.filter(col("vec_id") === 7)
        .select(lit(9002L).as("vec_id"), col("v")))
    val ev2 = base.unionByName(dup)
    val p2 = ev2.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val got = bruteTop3(p2, ev2)
      .collect().map(_.getLong(1)).toSet
    // both duplicates have cosine 1.0 with the probe; the third slot
    // goes to the best non-duplicate — and 9001 < 9002 both make it
    assert(got.contains(9001L) && got.contains(9002L))
    assert(got.size === 3)
  }

  test("undefined cosines never enter the top-3: zero-norm and NaN corpus vectors") {
    import spark.implicits._
    val ev = graft.sim.Sim.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val dim = ev.select(size(col("v"))).head().getInt(0)
    // a zero-norm vector (cosine -> NULL via safeDiv) and a NaN-entry
    // vector (cosine -> NaN) injected into the corpus: the raw window
    // form would rank the NaN row FIRST (NaN orders greatest under
    // DESC), and the keeper's getDouble would NPE on the NULL — both
    // must simply be excluded from every probe's top-3
    val zero = Seq((9101L, Seq.fill(dim)(0.0))).toDF("vec_id", "v")
    val nan = Seq((9102L, Double.NaN +: Seq.fill(dim - 1)(1.0)))
      .toDF("vec_id", "v")
    val ev2 = ev.limit(40).unionByName(zero).unionByName(nan)
    val probes = ev2.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val got = bruteTop3(probes, ev2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    assert(!got.exists { case (_, nb) => nb == 9101L || nb == 9102L })
    assert(got.groupBy(_._1).forall(_._2.length == 3))
    // and the selected set still equals the window form over the
    // FILTERED candidates (the pinned equivalence, NaN/NULL-free)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
    val windowed = broadcast(probes)
      .join(ev2.select(col("vec_id").as("neighbor_id"), col("v")),
        col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.gfunctions.cosine(col("pv"), col("v")).as("cs"))
      .filter(col("cs").isNotNull && !isnan(col("cs")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet === windowed)
  }
}

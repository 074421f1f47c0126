package graft

/** Scale guardrails: the plans we'd want at 100 TB — parquet pushdown
  * + pruned scans, broadcast joins for dims, no cartesian products
  * anywhere in the registry.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter pushed to parquet, scan pruned to used columns") {
    val p = plan(graft.olap.Olap.q1.run(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "scan should prune unused columns")
  }

  test("q3/q5: dimension joins broadcast") {
    assert(plan(graft.olap.Olap.q3.run(spark, sfDir)).contains("BroadcastHashJoin"))
    assert(plan(graft.olap.Olap.q5.run(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("q3: top-k runs as TakeOrderedAndProject, not a global sort") {
    assert(plan(graft.olap.Olap.q3.run(spark, sfDir)).contains("TakeOrderedAndProject"))
  }

  test("q_bucketed_join: zero exchange below the join (bucket co-location)") {
    val j = graft.olap.Olap2.bucketedOrdersJoin(spark, sfDir)
    val p = plan(j)
    val joinIdx = p.linesIterator.indexWhere(l => l.contains("SortMergeJoin"))
    assert(joinIdx >= 0, p)
    // everything below the join (scans) must be exchange-free
    assert(!p.linesIterator.drop(joinIdx).exists(_.contains("Exchange")),
      s"bucketed join still shuffles:\n$p")
  }

  test("m4: per-series top-1 plans WindowGroupLimit partial pushdown below the shuffle") {
    val p = plan(graft.metrics.Metrics.latestPerSeries.run(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("s_ivf_adc: cell-routed equi-joins only — no nested-loop scan of the corpus") {
    for (q <- Seq(graft.sim.Sim.ivfAdc, graft.sim.Sim.ivfAdcResidual, graft.sim.Opq.opqAdc)) {
      val p = plan(q.run(spark, sfDir))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"${q.name} must route probes to cells via an equi-join, not scan the corpus:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"${q.name}: expected broadcast hash joins:\n$p")
    }
  }

  test("near-dup pair fan-out runs the native generator on capped buckets") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    // the lazy plan: the public entry checkpoints (its plan is an
    // opaque RDD scan), the invariants live on the plan underneath
    val p = plan(graft.dedup.Dedup.ngramJaccardPairsPlan(docs))
    assert(p.contains("Generate graft_ordered_pairs"),
      s"pair fan-out must be the native generator:\n$p")
    assert(!p.contains("flatten"),
      s"the materializing HOF pair chain must be gone:\n$p")
  }

  // bucket arrays are cap-bounded INSIDE the aggregate
  // (CappedSortedCollect), so the build needs neither a frequency
  // prepass nor a df-filter join ahead of the groupBy — the plan is
  // scan → explode → ONE aggregate exchange, nothing else
  private def assertFusedBucketBuild(entries: org.apache.spark.sql.DataFrame,
                                     keys: Seq[String]): Unit = {
    val p = plan(graft.dedup.Dedup.cappedBucketsPlan(entries, keys, 1001))
    val k = keys.mkString(",")
    assert(p.contains("graft_capped_collect"),
      s"$k: bucket build must be the fused capped aggregate:\n$p")
    assert(!p.contains("Join"),
      s"$k: the df-filter join must be gone (the cap lives in the aggregate):\n$p")
    // one keyed exchange only (Par.spread's round-robin rebalance of
    // the raw scan is not a keyed shuffle)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"$k: bucket build must be a single keyed exchange:\n$p")
  }

  test("shingle bucket build is the fused capped aggregate: one pass, no join") {
    import org.apache.spark.sql.functions.{col, explode, size}
    val sets = graft.dedup.Dedup.shingleSets(graft.sources.Tables.documents(spark, sfDir))
    assertFusedBucketBuild(
      sets.select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("shingle")),
      Seq("shingle"))
  }

  test("LSH band and prefix bucket builds are the fused capped aggregate") {
    import org.apache.spark.sql.functions.{col, lit, posexplode, substring}
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val sets = graft.dedup.Dedup.shingleSets(docs)
    assertFusedBucketBuild(
      sets.select(col("doc_id"), lit(0).as("n"), posexplode(col("shs")).as(Seq("band", "bsig"))),
      Seq("band", "bsig"))
    assertFusedBucketBuild(
      docs.select(col("doc_id"), lit(0).as("n"),
        substring(graft.text.Text.normText(col("text")), 1, 50).as("p50")),
      Seq("p50"))
  }

  test("d_prefix_containment: capped aggregate buckets, native generator fan-out") {
    val p = plan(graft.dedup.Dedup.prefixContainment.run(spark, sfDir))
    assert(p.contains("graft_capped_collect"),
      s"prefix buckets must be the fused capped aggregate:\n$p")
    assert(p.contains("graft_ordered_pairs"),
      s"prefix pair fan-out must be the native generator:\n$p")
    assert(!p.contains("collect_list"),
      s"the uncapped collect_list bucket build must be gone:\n$p")
  }

  test("simhash candidate stage is the fused hamming generator, not a block self-join") {
    // the registered query checkpoints its pair table (opaque RDD scan
    // in PLANS dumps) — the invariant lives on the lazy plan underneath
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (out, sim) = graft.dedup.Dedup.simhashPairsRaw(docs, 3)
    try {
      val p = plan(out)
      assert(p.contains("graft_hamming_pairs"),
        s"candidates must come from the fused hamming generator:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the block self-join must be gone:\n$p")
    } finally sim.unpersist()
  }

  test("no operator plans a cartesian product") {
    // includes the IVF family: since the map-side argmin rewrite their
    // centroids are literals, so no crossJoin remains anywhere.
    for (q <- SparkEntry.registry) {
      val p = plan(q.run(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian product")
    }
  }
}

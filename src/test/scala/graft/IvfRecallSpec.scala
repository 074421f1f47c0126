package graft

import org.apache.spark.sql.functions._

/** IVF search quality: measure recall@3 of the multi-probe (nprobe=2)
  * cell search against brute-force cosine top-3 on the same probes.
  */
class IvfRecallSpec extends SparkSpec {

  test("s_ivf_search recall@3 vs brute force is >= 0.9 at nprobe=2") {
    val ivf = graft.sim.Sim.ivfSearch.run(spark, sfDir)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = graft.sim.Sim.bruteTopk.run(spark, sfDir)
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(brute.nonEmpty)
    val recalls = brute.map { case (p, truth) =>
      val got = ivf.getOrElse(p, Set.empty)
      truth.intersect(got).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"nprobe=2 IVF recall@3 = $mean%.2f over ${recalls.size} probes")
    // 2 of 8 cells searched: boundary neighbors are what multi-probe
    // exists to recover — demand near-exact recall.
    assert(mean >= 0.9, f"recall $mean%.2f below multi-probe floor")
  }

  test("s_ivf_adc recall@3 vs brute force is production-grade; re-ranked sims are exact") {
    val adc = graft.sim.Sim.ivfAdc.run(spark, sfDir)
    val got = adc.select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val bruteRows = graft.sim.Sim.bruteTopk.run(spark, sfDir).collect()
    val brute = bruteRows.filter(_.getAs[Int]("rank") <= 3)
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(brute.nonEmpty)
    val recalls = brute.map { case (p, truth) =>
      truth.intersect(got.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF-ADC recall@3 vs brute cosine = $mean%.2f")
    // 8-bit subspace codebooks (PqK = 256) + a 50-candidate shortlist:
    // the ADC ranking must carry the true neighbors into the exact
    // re-rank — the residual IVF-routing loss (nprobe=2 of 8 cells,
    // ceiling ~0.93 per the s_ivf_search test) is all that may remain.
    assert(mean >= 0.8, f"IVF-ADC recall $mean%.2f below production floor 0.8")
    // the re-rank surface is EXACT cosine: every reported (probe,
    // neighbor, cos_sim) must equal the brute-force value for that pair
    val bruteSim = bruteRows
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos_sim")).toMap
    for (r <- adc.collect()) {
      val key = (r.getLong(0), r.getLong(1))
      // brute only reports its own top-5; compare where both surfaced
      bruteSim.get(key).foreach(exp =>
        assert(r.getAs[Double]("cos_sim") === exp, s"inexact re-rank sim at $key"))
    }
  }

  test("residual ADC: same 32-bit memory budget, recall vs plain ADC recorded") {
    def recallOf(df: org.apache.spark.sql.DataFrame, brute: Map[Long, Set[Long]]): Double = {
      val got = df.select(col("probe_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = brute.map { case (p, t) =>
        t.intersect(got.getOrElse(p, Set.empty)).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val brute = graft.sim.Sim.bruteTopk.run(spark, sfDir)
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val plain = recallOf(graft.sim.Sim.ivfAdc.run(spark, sfDir), brute)
    val res = recallOf(graft.sim.Sim.ivfAdcResidual.run(spark, sfDir), brute)
    // the recall-vs-memory point: both variants spend 32 bits/vector;
    // residual codebooks see smaller, better-centered inputs, so the
    // residual form must clear the higher floor.
    info(f"recall@3 vs brute: plain ADC $plain%.2f, residual ADC $res%.2f")
    assert(res >= 0.85, f"residual ADC recall $res%.2f below production floor 0.85")
    assert(plain >= 0.8, f"plain ADC recall $plain%.2f below production floor 0.8")
  }

  test("large-candidate ADC: the registered shortlist rule holds recall where fixed 50 collapses") {
    // The r10 defect: s_ivf_adc shipped AdcShortlist = 50 — fine at
    // gate scales (~500 candidates/probe) but ANNPROBE_VEC2M measured
    // recall@3 = 0.077 at 140k candidates/probe with it. Since r11 the
    // operator resolves Sim.adcShortlist(cand) = max(50, cand/12),
    // the divisor picked by the measured recall-vs-shortlist sweep
    // (ANNPROBE_*_SL12_r11: 1/12.5 of candidates saturates recall);
    // this gate runs the REGISTERED path (searchIvfAdc: same probes,
    // same index components, same adaptive cut) on a 100k clustered
    // corpus where candidates/probe ≈ 25k — the regime that collapsed
    // the fixed constant — and demands the production floor.
    val n = 100000
    val dir = tempDir("adc_large").toString
    ClusteredCorpus.write(spark, n, dir)
    val cand = 2L * n / 8
    val slAdaptive = graft.sim.Sim.adcShortlist(cand)
    assert(slAdaptive > 50, s"spec corpus too small to exercise the scaled rule ($slAdaptive)")

    val idx = graft.sim.Sim.ivfIndex(spark, dir, k = 8, iters = 3)
    val books = graft.sim.Sim.pqBooks(spark, dir)
    val coded = graft.sim.Sim.ivfCoded(spark, dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

    // exact truth for the 10 probes
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cs").desc, col("neighbor_id"))
    val brute = broadcast(probes)
      .join(e.select(col("vec_id").as("neighbor_id"), col("v")),
        col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        graft.gfunctions.cosine(col("pv"), col("v")).as("cs"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(brute.nonEmpty)

    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select(col("probe_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = brute.map { case (p, t) =>
        t.intersect(got.getOrElse(p, Set.empty)).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    // the REGISTERED operator path (adaptive cut inside searchIvfAdc)
    val adaptive = recallOf(
      graft.sim.Sim.searchIvfAdc(spark, dir, idx.centroids, books, coded))
    // the r10 shipped configuration, for the record
    val fixed50 = recallOf(
      graft.sim.Sim.searchIvfAdcProbes(e, probes, idx.centroids, books, coded,
        nprobe = 2, shortlistN = 50))
    info(f"recall@3 at ~$cand candidates/probe: adaptive(sl=$slAdaptive) " +
      f"$adaptive%.3f vs fixed-50 $fixed50%.3f")
    assert(adaptive >= 0.7,
      f"adaptive-shortlist ADC recall $adaptive%.3f below the 0.7 large-k floor")
    assert(adaptive > fixed50,
      f"scaled shortlist ($adaptive%.3f) did not beat the fixed 50 ($fixed50%.3f)")
    graft.Caching.releaseAll()
  }

  test("oracle-gated runs fail loudly if the shortlist would diverge from the fixed 50") {
    // at gate-scale candidate volumes the rule IS the constant
    // (harness gates top out at 500 candidates/probe; the cand/12
    // divisor keeps the floor up to 600)
    assert(graft.sim.Sim.adcShortlist(500) === 50)
    assert(graft.sim.Sim.adcShortlist(600) === 50)
    assert(graft.sim.Sim.adcShortlist(25000) === 2083)
    // the decade knee (r16): past ~1M candidates/probe the divisor
    // drops to 8 — at the measured 100M geometry (2.69M cand/probe)
    // cand/12 read recall_adc@3 0.947 vs cand/8's 0.993 at unchanged
    // ADC wall (ANNPROBE_VEC100M_r15 vs ANNPROBE_VEC100M_SL8_r16)
    assert(graft.sim.Sim.adcShortlist((1L << 20) - 1) === 87381) // cand/12
    assert(graft.sim.Sim.adcShortlist(1L << 20) === 131072)      // cand/8
    assert(graft.sim.Sim.adcShortlist(2687411L) === 335926)      // the 100M point
    System.setProperty("graft.assertFixedCap", "true")
    try {
      intercept[IllegalStateException] {
        graft.sim.Sim.guardOracleShortlist(graft.sim.Sim.adcShortlist(25000L), 25000L)
      }
      // and the gate-scale resolution passes the guard untouched
      graft.sim.Sim.guardOracleShortlist(graft.sim.Sim.adcShortlist(500), 500)
    } finally System.clearProperty("graft.assertFixedCap")
  }

  test("OPQ rotation: recall-vs-memory curve vs un-rotated residual ADC at each code budget") {
    def recallOf(df: org.apache.spark.sql.DataFrame, brute: Map[Long, Set[Long]]): Double = {
      val got = df.select(col("probe_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = brute.map { case (p, t) =>
        t.intersect(got.getOrElse(p, Set.empty)).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val brute = graft.sim.Sim.bruteTopk.run(spark, sfDir)
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // the curve: at each per-subspace budget k (16 = 4-bit codes, the
    // memory-starved regime where rotation matters most; 256 = the
    // production 8-bit budget), the SAME routed pipeline with and
    // without the learned rotation
    val curve = Seq(16, 256).map { k =>
      val plain = recallOf(graft.sim.Opq.searchOpq(spark, sfDir, k, rotate = false), brute)
      val opq = recallOf(graft.sim.Opq.searchOpq(spark, sfDir, k, rotate = true), brute)
      info(f"k=$k%3d (${graft.sim.Sim.PqM * (32 - Integer.numberOfLeadingZeros(k - 1))} bits/vec): residual $plain%.3f → OPQ $opq%.3f")
      (k, plain, opq)
    }
    // OPQ must never lose to the un-rotated baseline at any budget,
    // and must strictly win somewhere on the curve — the rotation has
    // to BUY something, not just be orthogonally harmless.
    curve.foreach { case (k, plain, opq) =>
      assert(opq >= plain, f"OPQ recall $opq%.3f below un-rotated $plain%.3f at k=$k")
    }
    assert(curve.exists { case (_, plain, opq) => opq > plain },
      "OPQ strictly improved recall nowhere on the curve")
  }
}

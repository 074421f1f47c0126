package graft

import org.apache.spark.sql.functions._

/** Round-2 operators: hopping windows, stratified sampling, PII scrub,
  * scalar quantization.
  */
class NewOpsSpec extends SparkSpec {

  test("m18_hopping_rollup: every event lands in exactly size/slide = 4 windows") {
    val out = graft.metrics.Metrics.hoppingRollup.run(spark, sfDir)
    val windowedRows = out.agg(sum("n")).head().getLong(0)
    val events = graft.sources.Tables.events(spark, sfDir).count()
    assert(windowedRows === 4 * events)
    // window starts are on the 15-minute grid
    val offGrid = out.filter(unix_micros(col("win_start")) % (15L * 60 * 1000000) =!= 0).count()
    assert(offGrid === 0)
  }

  test("q_stratified_sample: deterministic, and realized rates near the 20% target") {
    val a = graft.olap.Olap2.stratifiedSample.run(spark, sfDir).collect()
    val b = graft.olap.Olap2.stratifiedSample.run(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    a.foreach { r =>
      val rate = r.getDouble(r.fieldIndex("rate"))
      assert(rate > 0.10 && rate < 0.30, s"stratum ${r.get(0)} rate $rate")
    }
  }

  test("t_pii_scrub: placeholders replace matches; scrub is idempotent on clean text") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact bob@example.com or 10.0.0.1 or 555-123-4567 now"),
      (2L, "no pii here at all"),
    ).toDF("doc_id", "text")
    val tmp = tempDir("pii")
    val stage = tmp.resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    val part = java.nio.file.Files.list(stage)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, tmp.resolve("documents.parquet"))
    val out = graft.text.Text.piiScrub.run(spark, tmp.toString).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getInt(r1.fieldIndex("n_emails")) === 1)
    assert(r1.getInt(r1.fieldIndex("n_ips")) === 1)
    assert(r1.getInt(r1.fieldIndex("n_phones")) === 1)
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getInt(r2.fieldIndex("n_emails")) === 0)
    assert(r2.getInt(r2.fieldIndex("scrubbed_len")) === "no pii here at all".length)
  }

  test("m19_counter_reset_rate: resets yield the new value as increase, never negative") {
    val out = graft.metrics.Metrics.counterResetRate.run(spark, sfDir)
    assert(out.filter(col("increase") < 0).count() === 0)
    // where no reset happened, increase equals m3's raw delta numerator
    val m3 = graft.metrics.Metrics.rate.run(spark, sfDir)
      .filter(col("rate").isNotNull).count()
    assert(out.count() >= m3) // m19 keeps dup-ts rows (null rate) too
  }

  test("st_hopping stream == m18 batch hopping rollup") {
    val streamed = graft.streaming.Streaming.streamHopping.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = graft.metrics.Metrics.hoppingRollup.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
  }

  test("q_funnel: stage counts are monotone non-increasing") {
    val r = graft.olap.Olap2.funnel.run(spark, sfDir).head()
    val (nv, nc, np) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nv >= nc && nc >= np && nv > 0)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("st_alerts stream == m15 batch alert transitions") {
    val streamed = graft.streaming.Streaming.streamAlerts.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = graft.metrics.Metrics.alertTransitions.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
  }

  test("q_ntile_deciles: ten near-equal bins covering all orders") {
    val out = graft.olap.Olap2.ntileDeciles.run(spark, sfDir).collect()
    assert(out.length === 10)
    val ns = out.map(r => r.getLong(r.fieldIndex("n")))
    assert(ns.max - ns.min <= 1)
    // bins are ordered: each decile's hi ≤ next decile's lo is not
    // guaranteed on ties, but lo ≤ hi within each bin always holds
    out.foreach(r => assert(
      r.getDouble(r.fieldIndex("lo")) <= r.getDouble(r.fieldIndex("hi"))))
  }

  test("d_prefix_containment: detects a truncated copy, orders short before long") {
    import spark.implicits._
    val base = ("x" * 30 + " y" * 40).trim
    val df = Seq(
      (1L, base),                 // full doc
      (2L, base.substring(0, 60)), // truncated copy (shares 50-char prefix)
      (3L, "completely different text " * 10),
    ).toDF("doc_id", "text")
    val tmp = tempDir("prefix")
    val stage = tmp.resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    val part = java.nio.file.Files.list(stage)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, tmp.resolve("documents.parquet"))
    val out = graft.dedup.Dedup.prefixContainment.run(spark, tmp.toString).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 2L && out.head.getLong(1) === 1L)
  }

  test("q_asof_nearest: picks the closer side; falls back across directions") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 20:00:00"), 101L))
      .toDF("user_id", "lts", "lid")
    val right = Seq((1L, ts("2024-01-01 10:00:30"), 900L), // 30s after lid=100
      (1L, ts("2024-01-01 09:58:00"), 901L))               // 2min before
      .toDF("user_id", "rts", "rid")
    val out = graft.olap.Temporal.asofJoinNearest(
      left, right, Seq("user_id"), "lts", "rts", Seq("rid"))
      .orderBy("lid").collect()
    assert(out(0).getLong(out(0).fieldIndex("rid")) === 900L) // forward is closer
    assert(out(1).getLong(out(1).fieldIndex("rid")) === 900L) // only backward exists
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("q_grouping_sets: three aggregation levels, grand total matches") {
    val out = graft.olap.Olap2.groupingSets.run(spark, sfDir).collect()
    val gids = out.map(r => r.getLong(r.fieldIndex("gid"))).distinct.sorted
    assert(gids.length === 3)
    val grand = out.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length === 1)
    val total = graft.sources.Tables.orders(spark, sfDir).count()
    assert(grand.head.getLong(grand.head.fieldIndex("n")) === total)
  }

  test("st_sessions: sessions partition the event stream per user") {
    val out = graft.streaming.Streaming.streamSessions.run(spark, sfDir)
    val sessioned = out.agg(sum("n_events")).head().getLong(0)
    val events = graft.sources.Tables.events(spark, sfDir).count()
    assert(sessioned === events)
    assert(out.filter(col("session_end") < col("session_start")).count() === 0)
  }

  test("m20_metric_catalog: one row per (server_type, key), totals cover the stream") {
    val out = graft.metrics.Metrics.metricCatalog.run(spark, sfDir)
    assert(out.groupBy("injected_server_type", "prop_k").count()
      .filter(col("count") > 1).count() === 0)
    val total = out.agg(sum("n_samples")).head().getLong(0)
    assert(total === graft.sources.Tables.events(spark, sfDir).count())
  }

  test("t_contamination: only eval docs, ratios in [0,1], identical copies contaminate") {
    val out = graft.text.Text.contamination.run(spark, sfDir)
    assert(out.filter(col("split") === "train").count() === 0)
    assert(out.filter(col("contamination") < 0 || col("contamination") > 1).count() === 0)
    assert(out.filter(col("n_shared") > col("n_grams")).count() === 0)
  }

  test("s_recall_eval: recall agrees with IvfRecallSpec's floor") {
    val out = graft.sim.Sim.recallEval.run(spark, sfDir)
    assert(out.count() === 10)
    val mean = out.agg(avg("recall_at_3")).head().getDouble(0)
    assert(mean >= 0.8, s"mean recall $mean")
    assert(out.filter(col("n_matched") > 3).count() === 0)
  }

  test("m21_burn_rate: every 1h window appears once, burn ratios non-negative") {
    val out = graft.metrics.Metrics.burnRate.run(spark, sfDir)
    assert(out.groupBy("win1").count().filter(col("count") > 1).count() === 0)
    assert(out.filter(col("burn_1h") < 0 || col("burn_6h") < 0).count() === 0)
    // page implies both thresholds
    assert(out.filter(col("page") &&
      (col("burn_1h") <= 14.4 || col("burn_6h") <= 6.0)).count() === 0)
  }

  test("mm_chunk_dedup: identical payloads share every chunk; savings = (n-1)*len") {
    import spark.implicits._
    val payload = ("lorem ipsum dolor sit amet " * 40).trim
    val df = Seq((1L, payload), (2L, payload), (3L, "entirely different body"))
      .toDF("doc_id", "text")
    val tmp = tempDir("cd")
    val stage = tmp.resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    val part = java.nio.file.Files.list(stage)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, tmp.resolve("documents.parquet"))
    val out = graft.multimodal.Multimodal.chunkDedup.run(spark, tmp.toString).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_docs")) === 2)
      assert(r.getLong(r.fieldIndex("bytes_saved")) ===
        (r.getLong(r.fieldIndex("n_occurrences")) - 1) * r.getInt(r.fieldIndex("chunk_len")))
    }
  }

  test("q_incremental_rollup: merged partials equal the direct rollup") {
    import graft.gfunctions._
    val merged = graft.olap.Olap2.incrementalRollup.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    val direct = graft.sources.Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
      .collect().map(_.toString).toSeq
    assert(merged === direct)
  }

  test("q_skew_diagnose: shares ordered descending, heavy flag consistent") {
    val out = graft.olap.Olap2.skewDiagnose.run(spark, sfDir).collect()
    assert(out.length === 20)
    val ns = out.map(r => r.getLong(r.fieldIndex("n")))
    assert(ns.sameElements(ns.sortBy(-_)))
  }

  test("t_sentences: counts positive, mean within [min, max]") {
    val out = graft.text.Text.sentences.run(spark, sfDir)
    assert(out.filter(col("n_sentences") <= 0).count() === 0)
    assert(out.filter(col("mean_len") < col("min_len") ||
      col("mean_len") > col("max_len")).count() === 0)
  }

  test("t_packing: windows cover every token exactly once, contiguous doc ranges") {
    val out = graft.text.Text.packing.run(spark, sfDir).collect()
    val totalTokens = out.map(r => r.getLong(r.fieldIndex("n_tokens"))).sum
    val expected = graft.sources.Tables.documents(spark, sfDir)
      .select(sum(size(graft.text.Text.toks(col("text"))))).head().getLong(0)
    assert(totalTokens === expected)
    // doc ranges of consecutive windows don't interleave (a doc starts
    // in exactly one window)
    val sorted = out.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(a.fieldIndex("last_doc")) <= b.getLong(b.fieldIndex("first_doc")))
      case _ =>
    }
  }

  test("m22_time_weighted_avg: TWA lies within each series' value range") {
    val twa = graft.metrics.Metrics.timeWeightedAvg.run(spark, sfDir)
    val ranges = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type")
      .agg(min("value").as("vmin"), max("value").as("vmax"))
    val bad = twa.join(ranges, Seq("user_id", "event_type"))
      .filter(col("twa") < col("vmin") - 0.001 || col("twa") > col("vmax") + 0.001)
    assert(bad.count() === 0)
  }

  test("d_containment: containment >= jaccard always; full-subset scores 1.0") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, base),                            // subset doc
      (2L, base + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (3L, "totally unrelated words here in this document body text")).toDF("doc_id", "text")
    val tmp = tempDir("cont")
    val stage = tmp.resolve("stage")
    df.coalesce(1).write.parquet(stage.toString)
    val part = java.nio.file.Files.list(stage)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, tmp.resolve("documents.parquet"))
    val out = graft.dedup.Dedup.containment.run(spark, tmp.toString).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    assert(r.getDouble(r.fieldIndex("containment")) === 1.0)
    assert(r.getDouble(r.fieldIndex("containment")) >= r.getDouble(r.fieldIndex("jaccard")))
  }

  test("st_latest stream == m4 batch latest-per-series") {
    val streamed = graft.streaming.Streaming.streamLatest.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    val batch = graft.metrics.Metrics.latestPerSeries.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
  }

  test("t_corpus_filter: retention in [0,1], kept <= total, covers all docs") {
    val out = graft.text.Text.corpusFilter.run(spark, sfDir)
    assert(out.filter(col("n_kept") > col("n_total")).count() === 0)
    val total = out.agg(sum("n_total")).head().getLong(0)
    assert(total === graft.sources.Tables.documents(spark, sfDir).count())
  }

  test("d_dedup_funnel: survivors <= each stage's canonical count <= n_docs") {
    val r = graft.dedup.Dedup.dedupFunnel.run(spark, sfDir).head()
    val (n, e, nd, sv) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(sv <= e && sv <= nd && e <= n && nd <= n && sv > 0)
  }

  test("q_percent_of_total: shares sum to 1") {
    val out = graft.olap.Olap2.percentOfTotal.run(spark, sfDir)
    val s = out.agg(sum("share")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-4)
  }

  test("m23_seasonal_baseline: every flagged sample deviates >60% from its hour baseline") {
    val out = graft.metrics.Metrics.seasonalBaseline.run(spark, sfDir)
    assert(out.filter(abs(col("deviation")) <= 0.6 - 0.0001).count() === 0)
    assert(out.count() > 0)
  }

  test("d_split_leakage: pair counts account for every near-dup pair; leak flag = split mismatch") {
    val out = graft.dedup.Dedup.splitLeakage.run(spark, sfDir).collect()
    val total = out.map(_.getAs[Long]("n_pairs")).sum
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(
      graft.sources.Tables.documents(spark, sfDir)).count()
    assert(total === pairs)
    assert(out.forall(r =>
      r.getAs[Boolean]("is_leak") ===
        (r.getAs[String]("split_a") != r.getAs[String]("split_b"))))
  }

  test("t_rep_ngrams: fractions in [0,1]; a looping doc maxes both; short docs are 0") {
    val out = graft.text.Text.repNgrams.run(spark, sfDir)
    val n = graft.sources.Tables.documents(spark, sfDir).count()
    assert(out.count() === n)
    assert(out.filter(col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1 ||
      col("dup_trigram_frac") < 0 || col("dup_trigram_frac") > 1).count() === 0)
    import spark.implicits._
    val synth = Seq(
      (0L, ("spam " * 50).trim),   // pure loop: one bigram holds all mass
      (1L, "one"),                 // no bigrams at all
      (2L, "all distinct tokens here now")).toDF("doc_id", "text")
    val p = graft.text.Text.repetitionProfile(synth).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(p(0L).getAs[Double]("top_bigram_frac") === 1.0)
    assert(p(0L).getAs[Double]("dup_trigram_frac") === 1.0)
    assert(p(1L).getAs[Long]("n_bigrams") === 0L)
    assert(p(1L).getAs[Double]("top_bigram_frac") === 0.0)
    assert(p(2L).getAs[Double]("dup_trigram_frac") === 0.0)
  }

  test("s_pq_quantize: 4 codes per vector from the 256-centroid codebooks, sane RMSE") {
    val out = graft.sim.Sim.pqQuantize.run(spark, sfDir)
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(out.count() === n)
    val codes = out.select(split(col("codes"), ",").as("cs")).collect()
    assert(codes.forall(_.getSeq[String](0).length === 4))
    // codebook ids are the seed vec_ids 0..255 (PqK = 256)
    assert(codes.forall(_.getSeq[String](0).forall(c => c.toLong >= 0 && c.toLong < 256)))
    // quantizing to 32 bits loses information but must stay bounded
    val worst = out.agg(max("recon_rmse")).head().getDouble(0)
    assert(worst > 0.0 && worst < 1.0, s"rmse $worst")
  }

  test("m25_cusum_drift: one row per series, non-negative statistics, CUSUM matches a reference fold") {
    val out = graft.metrics.Metrics.cusumDrift.run(spark, sfDir)
    val series = graft.sources.Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(out.count() === series)
    assert(out.filter(col("cusum_hi_max") < 0 || col("cusum_lo_max") < 0).count() === 0)
    // reference fold for one series, computed directly
    val ev = graft.sources.Tables.events(spark, sfDir)
      .filter(col("user_id") === 0 && col("event_type") === "view")
      .orderBy("ts", "event_id").select("value").collect().map(_.getDouble(0))
    assert(ev.nonEmpty)
    val mean = {
      val dec = ev.map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      (dec.sum.toDouble / ev.length)
    }
    var (hi, mh) = (0.0, 0.0)
    ev.foreach { x =>
      hi = math.max(hi + x - mean - 0.05 * mean, 0.0); mh = math.max(mh, hi)
    }
    val got = out.filter(col("user_id") === 0 && col("event_type") === "view")
      .head().getAs[Double]("cusum_hi_max")
    assert(math.abs(got - mh) < 1e-3, s"$got vs $mh")
  }

  test("s_pq_adc: table-lookup distances approximate exact-L2 ranking") {
    val adc = graft.sim.Sim.pqAdc.run(spark, sfDir)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // exact-L2 truth (ADC approximates L2, not cosine): tiny spec
    // corpus, computed directly
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recalls = (0L until 10L).map { p =>
      val truth = (vecs - p).map { case (id, v) => id -> l2(vecs(p), v) }
        .toSeq.sortBy { case (id, d) => (d, id) }.take(3).map(_._1).toSet
      truth.intersect(adc.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    val random = 3.0 / (vecs.size - 1)
    info(f"PQ-ADC recall@3 vs exact L2 = $mean%.2f (random = $random%.3f)")
    // the synthetic embeddings are near-random per subspace, so the
    // true-neighbor distance gap is small and quantization noise caps
    // recall for ANY PQ geometry (measured 0.13-0.27 across m/k
    // sweeps) — correctness is the bit-exact oracle replay; here we
    // assert the table-lookup ranking clearly beats chance.
    assert(mean > 2 * random, f"ADC recall $mean%.2f vs random $random%.3f")
  }

  test("d_incremental == full near-dup recompute restricted to pairs touching the increment") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val thr = docs.agg(floor(lit(0.9) * (max("doc_id") + 1)).cast("long")).head().getLong(0)
    val full = graft.dedup.Dedup.ngramJaccardPairs(docs)
      .filter(col("doc_a") >= thr || col("doc_b") >= thr)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = graft.dedup.Dedup.incrementalDedup.run(spark, sfDir)
      .select("doc_new", "doc_other").collect()
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    assert(inc === full, "incremental result must equal the restricted full recompute")
    assert(inc.nonEmpty)
  }

  test("s_sq8_quantize: codes in [0,255], 64 per vector, small reconstruction error") {
    val out = graft.sim.Sim.sq8Quantize.run(spark, sfDir)
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(out.count() === n)
    val bad = out.filter(exists(
      transform(split(col("codes_csv"), ","), c => c.cast("long")),
      c => c < 0 || c > 255)).count()
    assert(bad === 0)
    assert(out.filter(size(split(col("codes_csv"), ",")) =!= 64).count() === 0)
    // int8 quantization of a [mn,mx] range: max abs error ≤ step/2 per
    // dim; mean error must be well under one step
    assert(out.agg(max("recon_mae")).head().getDouble(0) < 0.05)
  }
}

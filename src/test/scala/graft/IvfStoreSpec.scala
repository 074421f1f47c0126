package graft

/** The persisted-index lifecycle: saving the IVF/PQ artifacts to
  * parquet and loading them back must search bit-identically to the
  * in-memory build — this is the executor-loss-tolerant production
  * shape (build once, serve from storage).
  */
class IvfStoreSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq

  test("IVF: save -> load -> search is identical to in-memory search") {
    val dir = tempDir("ivf_store").toString
    val idx = graft.sim.Sim.ivfIndex(spark, sfDir, k = 8, iters = 3)
    graft.sim.IvfStore.save(idx, dir)
    val loaded = graft.sim.IvfStore.load(spark, dir)
    assert(loaded.centroids.map { case (c, v) => (c, v.toList) } ===
      idx.centroids.map { case (c, v) => (c, v.toList) })
    assert(loaded.assigned.count() === idx.assigned.count())
    assert(rows(graft.sim.Sim.searchIvf(loaded)) === rows(graft.sim.Sim.searchIvf(idx)))
  }

  test("IVF add: appending a batch == assigning the union (no-retrain online add)") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cut = e.agg((max("vec_id") * 0.9).cast("long")).head().getLong(0)
    // build on the first 90%, then online-add the newest 10%
    val base = graft.sim.Sim.buildIvf(e.filter(col("vec_id") < cut), k = 8, iters = 3)
    val extended = graft.sim.IvfStore.add(base, e.filter(col("vec_id") >= cut))
    assert(extended.assigned.count() === e.count())
    // one-shot assignment of the union with the same centroids must
    // agree cell-for-cell (assignment is a pure per-row function)
    val oneShot = graft.sim.IvfStore.add(
      graft.sim.Sim.IvfIndex(base.assigned.limit(0), base.centroids), e)
    val a = extended.assigned.select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = oneShot.assigned.select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b)
    // the extended index serves probes from the ADDED batch
    val got = graft.sim.Sim.searchIvfProbes(extended,
      e.filter(col("vec_id") >= cut).limit(3)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")))
    assert(got.count() > 0)
  }

  test("compact: union-chain depth resets to a constant; search results unchanged") {
    import org.apache.spark.sql.functions._
    // adds stacked in the plan = union inputs beyond the base (the
    // analyzer flattens nested unions into one n-ary Union node)
    def unionCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size - 1
      }.sum
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cut = e.agg((max("vec_id") * 0.8).cast("long")).head().getLong(0)
    val base = graft.sim.Sim.buildIvf(e.filter(col("vec_id") < cut), k = 8, iters = 3)
    // three online adds -> three stacked unions in the assigned plan
    var chained = base
    for (b <- 0 until 3)
      chained = graft.sim.IvfStore.add(chained,
        e.filter(col("vec_id") >= cut && col("vec_id") % 3 === b))
    assert(unionCount(chained.assigned) === 3)
    val dir = tempDir("ivf_compact").toString
    val compacted = graft.sim.IvfStore.compact(chained, dir)
    // depth is constant after compaction: no unions survive, and the
    // plan is the same single-scan shape a once-compacted 1-add index
    // has — the chain length before compaction no longer matters
    assert(unionCount(compacted.assigned) === 0)
    val once = graft.sim.IvfStore.compact(
      graft.sim.IvfStore.add(base, e.filter(col("vec_id") >= cut)),
      tempDir("ivf_compact1").toString)
    assert(compacted.assigned.queryExecution.analyzed.getClass ===
      once.assigned.queryExecution.analyzed.getClass)
    // search over the compacted index ≡ search over the union chain
    assert(rows(graft.sim.Sim.searchIvf(compacted)) ===
      rows(graft.sim.Sim.searchIvf(chained)))
    assert(compacted.assigned.count() === chained.assigned.count())
  }

  test("retrain: full seed set at the current size; d2 ratio separates drift") {
    import org.apache.spark.sql.functions._
    // 30k vectors put semDedupCells at 24 (> the fixed 8) with a
    // training-sample stride of 6 — the regime where Lloyd's seed
    // convention (vec_id < k) retains only ~k/stride ids unless
    // retrain re-keys the strided sample densely. A seed-starved
    // rebuild collapses to a handful of centroids; this gate pins the
    // centroid count to the adaptive k (minus normal empty-cell
    // attrition, never below half).
    val n = 30000L
    def uvecs(lo: Long, hi: Long, salt: String, scale: Double) =
      spark.range(lo, hi).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), i =>
          lit(scale) * (pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L))
            .cast("double") - 1000.0) / 1000.0).as("v"))
    val corpus = uvecs(0, n, "base", 1.0)
    val idx = graft.sim.IvfStore.retrain(corpus)
    val k = graft.sim.Sim.semDedupCells(n)
    assert(k > 8)
    assert(idx.centroids.size <= k)
    assert(idx.centroids.size >= k / 2,
      s"retrain produced ${idx.centroids.size} centroids for k=$k — seed starvation")
    assert(idx.assigned.count() === n)
    // the trigger statistic: a same-distribution batch reads ~1.0,
    // a shifted batch (same hash scheme, 4x magnitude) reads far above
    val d2Base = idx.assigned.agg(avg("d2")).head().getDouble(0)
    val same = graft.sim.IvfStore.batchD2Ratio(idx, uvecs(n, n + 3000, "base", 1.0), d2Base)
    val drift = graft.sim.IvfStore.batchD2Ratio(idx, uvecs(n, n + 3000, "base", 4.0), d2Base)
    assert(same > 0.7 && same < 1.3, s"stationary batch d2 ratio $same not ~1")
    assert(drift > 2.0, s"shifted batch d2 ratio $drift should exceed the stationary band")
  }

  test("meta: save persists the trigger baselines; loadMeta needs no corpus agg") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("ivf_meta").toString
    val idx = graft.sim.Sim.ivfIndex(spark, sfDir, k = 8, iters = 3)
    graft.sim.IvfStore.save(idx, dir)
    val meta = graft.sim.IvfStore.loadMeta(spark, dir)
    assert(meta.k === idx.centroids.size)
    assert(meta.n === idx.assigned.count())
    // the persisted d2Base equals the decimal-exact corpus mean — the
    // number a serving job would otherwise need a corpus-sized agg for
    val expect = graft.sim.IvfStore.computeMeta(idx.assigned, idx.centroids.size)
    assert(meta.d2Base === expect.d2Base)
    assert(meta.imbalance === expect.imbalance)
    // the trigger statistic is callable on a freshly-LOADED index with
    // only the 1-row meta read: a stationary batch (rows the index was
    // trained on) reads ~1
    val loaded = graft.sim.IvfStore.load(spark, dir)
    val batch = loaded.assigned.filter(col("vec_id") % 7 === 0).select("vec_id", "v")
    val ratio = graft.sim.IvfStore.batchD2Ratio(loaded, batch, meta.d2Base)
    assert(ratio > 0.5 && ratio < 1.5, s"stationary batch d2 ratio $ratio not ~1")
  }

  test("compactRetrain: SAME-dir save→load→add(drift)→retrain round trip survives") {
    import org.apache.spark.sql.functions._
    def uvecs(lo: Long, hi: Long, salt: String, scale: Double) =
      spark.range(lo, hi).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), i =>
          lit(scale) * (pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L))
            .cast("double") - 1000.0) / 1000.0).as("v"))
    val n = 4000L
    val dir = tempDir("ivf_same_dir").toString
    // publish a serving index, then BOOT FROM THE ARTIFACT — the
    // natural long-lived-serving pattern the r12 verdict found broken:
    // the retrained assignment plan lazily reads dir/assigned, and an
    // unstaged overwrite would delete its own input mid-scan
    graft.sim.IvfStore.save(graft.sim.IvfStore.retrain(uvecs(0, n, "base", 1.0)), dir)
    val served = graft.sim.IvfStore.load(spark, dir)
    val drifted = graft.sim.IvfStore.add(served, uvecs(n, 2 * n, "shifted", 1.0))
    val refreshed = graft.sim.IvfStore.compactRetrain(drifted, dir)
    // the refreshed index is complete, searchable, and re-published
    // IN PLACE: the artifact dir now holds the retrained corpus + meta
    assert(refreshed.assigned.count() === 2 * n)
    val meta = graft.sim.IvfStore.loadMeta(spark, dir)
    assert(meta.n === 2 * n)
    assert(meta.k === refreshed.centroids.size)
    val probes = uvecs(n, n + 3, "shifted", 1.0)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    assert(graft.sim.Sim.searchIvfProbes(refreshed, probes).count() > 0)
    // a second same-dir cycle proves the swap leaves no stale staging
    val again = graft.sim.IvfStore.compactRetrain(refreshed, dir)
    assert(again.assigned.count() === 2 * n)
  }

  test("flat maintenance on one dir: add -> compact -> compactRetrain keeps results") {
    import org.apache.spark.sql.functions._
    def uvecs(lo: Long, hi: Long, salt: String) =
      spark.range(lo, hi).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), i =>
          (pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L))
            .cast("double") - 1000.0) / 1000.0).as("v"))
    val dir = tempDir("ivf_maint").toString
    val idx = graft.sim.Sim.ivfIndex(spark, sfDir, k = 8, iters = 3)
    // the documented serving cycle, every step against the same dir
    graft.sim.IvfStore.save(idx, dir)
    val served = graft.sim.IvfStore.load(spark, dir)
    val added = graft.sim.IvfStore.add(served, uvecs(100000, 100050, "add"))
    val compacted = graft.sim.IvfStore.compact(added, dir)
    assert(compacted.assigned.count() === added.assigned.count())
    assert(rows(graft.sim.Sim.searchIvf(compacted)) ===
      rows(graft.sim.Sim.searchIvf(added)))
    // the previous version is kept for in-flight readers, so the
    // compacted frame still reads v1 after compactRetrain publishes v2
    val retrained = graft.sim.IvfStore.compactRetrain(compacted, dir)
    assert(graft.sim.IvfStore.currentVersion(spark, dir) === 2L)
    assert(retrained.assigned.count() === compacted.assigned.count())
    assert(rows(graft.sim.Sim.searchIvf(retrained)) ===
      rows(graft.sim.Sim.searchIvf(graft.sim.IvfStore.retrain(compacted.assigned))))
    // staging dirs are renamed into v{n}, never left behind
    val stranded = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".stage"))
    assert(stranded.isEmpty, s"stranded staging dirs: ${stranded.mkString(",")}")
  }

  test("indexHealth: a drifted batch trips retrain_due; a stationary batch does not") {
    import org.apache.spark.sql.functions._
    def uvecs(lo: Long, hi: Long, salt: String, scale: Double) =
      spark.range(lo, hi).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), i =>
          lit(scale) * (pmod(xxhash64(col("id"), i, lit(salt)), lit(2001L))
            .cast("double") - 1000.0) / 1000.0).as("v"))
    val n = 4000L
    val dir = tempDir("ivf_health").toString
    graft.sim.IvfStore.save(graft.sim.IvfStore.retrain(uvecs(0, n, "base", 1.0)), dir)
    val idx = graft.sim.IvfStore.load(spark, dir)
    val meta = graft.sim.IvfStore.loadMeta(spark, dir)
    def health(batch: org.apache.spark.sql.DataFrame) =
      graft.sim.Sim.indexHealth(batch, idx.centroids, meta).head()
    val same = health(uvecs(n, n + 1000, "base", 1.0))
    val drift = health(uvecs(n, n + 1000, "base", 4.0))
    assert(same.getInt(3) === 0,
      s"stationary batch tripped retrain_due (ratio ${same.getDouble(1)})")
    assert(same.getDouble(1) > 0.7 && same.getDouble(1) < 1.3)
    assert(drift.getInt(3) === 1,
      s"drifted batch did not trip retrain_due (ratio ${drift.getDouble(1)})")
    assert(drift.getDouble(1) >= 1.1)
    // the rule function agrees with the frame's verdict
    assert(graft.sim.IvfStore.retrainDue(drift.getDouble(1), drift.getDouble(2), meta))
    assert(!graft.sim.IvfStore.retrainDue(same.getDouble(1), same.getDouble(2), meta))
  }

  test("versioned publish: a crash mid-save leaves readers on the OLD complete version") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("ivf_crash").toString
    val idx = graft.sim.Sim.ivfIndex(spark, sfDir, k = 8, iters = 3)
    graft.sim.IvfStore.save(idx, dir)
    val v0Meta = graft.sim.IvfStore.loadMeta(spark, dir)
    val v0Rows = rows(graft.sim.Sim.searchIvf(graft.sim.IvfStore.load(spark, dir)))
    // simulate a publisher crashing BETWEEN artifact writes of v1:
    // assigned is fully written, centroids/meta/marker never land —
    // exactly the mixed-version window the r13 verdict flagged for the
    // pre-versioned layout
    idx.assigned.filter(col("vec_id") < 10)
      .write.mode("overwrite").parquet(s"$dir/v1/assigned")
    // readers never see the torn version: same meta, same results
    val meta = graft.sim.IvfStore.loadMeta(spark, dir)
    assert(meta === v0Meta)
    val loaded = graft.sim.IvfStore.load(spark, dir)
    assert(loaded.assigned.count() === idx.assigned.count())
    assert(rows(graft.sim.Sim.searchIvf(loaded)) === v0Rows)
    // the NEXT successful save reclaims the torn dir (overwrites v1's
    // partial artifacts) and publishes it; readers move atomically
    graft.sim.IvfStore.save(loaded, dir)
    assert(graft.sim.IvfStore.currentVersion(spark, dir) === 1L)
    assert(graft.sim.IvfStore.load(spark, dir).assigned.count() === idx.assigned.count())
  }

  test("save aborts when a concurrent publisher FULLY published v{next} (marker present)") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("ivf_race").toString
    val idx = graft.sim.Sim.ivfIndex(spark, sfDir, k = 8, iters = 3)
    graft.sim.IvfStore.save(idx, dir) // v0 published
    val winner = graft.sim.Sim.IvfIndex(
      idx.assigned.filter(col("vec_id") < 100), idx.centroids)
    val winnerCount = winner.assigned.count()
    // the race, driven deterministically through the onStaged seam:
    // the loser reads currentVersion=0 and stages its v1 artifacts;
    // BEFORE its claim, a concurrent publisher fully publishes v1
    // (rename + marker). The loser must abort WITHOUT deleting the
    // winner's live, marker-referenced artifacts — pre-guard it
    // deleted v1, renamed its own set under the winner's marker, and
    // only then failed, leaving the winner serving the loser's index.
    val ex = intercept[IllegalStateException] {
      graft.sim.IvfStore.save(idx, dir,
        onStaged = () => graft.sim.IvfStore.save(winner, dir))
    }
    assert(ex.getMessage.contains("claimed by a concurrent publisher"))
    // readers see the WINNER's v1, intact
    assert(graft.sim.IvfStore.currentVersion(spark, dir) === 1L)
    assert(graft.sim.IvfStore.load(spark, dir).assigned.count() === winnerCount)
    // and no staging dirs survive the aborted publish
    val stranded = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".stage"))
    assert(stranded.isEmpty, s"stranded staging dirs: ${stranded.mkString(",")}")
  }

  test("IVF-ADC: save -> load -> search is identical to in-memory search") {
    val dir = tempDir("ivf_store_pq").toString
    val idx = graft.sim.Sim.ivfIndex(spark, sfDir, k = 8, iters = 3)
    val books = graft.sim.Sim.pqBooks(spark, sfDir)
    val coded = graft.sim.Sim.ivfCoded(spark, sfDir)
    graft.sim.IvfStore.savePq(books, coded, dir)
    val (lBooks, lCoded) = graft.sim.IvfStore.loadPq(spark, dir)
    assert(lBooks.map(_.map { case (c, v) => (c, v.toList) }) ===
      books.map(_.map { case (c, v) => (c, v.toList) }))
    val mem = rows(graft.sim.Sim.searchIvfAdc(spark, sfDir, idx.centroids, books, coded))
    val disk = rows(graft.sim.Sim.searchIvfAdc(spark, sfDir, idx.centroids, lBooks, lCoded))
    assert(disk === mem)
    assert(mem.nonEmpty)
  }
}

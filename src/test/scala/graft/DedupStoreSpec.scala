package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupStore}

/** DedupStore: the stored near-dup index's ingest must be EXACTLY the
  * full-recompute d_incremental output (the df table is a sufficient
  * statistic for the adaptive cap), and must survive a parquet
  * round-trip bit-identically.
  */
class DedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def split(d: String) = {
    val docs = graft.sources.Tables.documents(spark, d)
    val thr = docs.agg(floor(lit(0.9) * (max("doc_id") + 1)).cast("long"))
      .head().getLong(0)
    (docs.filter(col("doc_id") < thr), docs.filter(col("doc_id") >= thr))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_new"), col("doc_other"), col("cross_batch"), col("jaccard"))
    .orderBy("doc_new", "doc_other").collect().toSeq

  test("ingest against the stored history ≡ d_incremental full recompute") {
    val (hist, batch) = split(sfDir)
    val idx = DedupStore.build(hist)
    val got = sortedRows(DedupStore.ingest(idx, batch))
    val want = sortedRows(Dedup.incrementalDedup.run(spark, sfDir))
    assert(got === want)
  }

  test("save/load round-trips: a loaded index ingests identically") {
    val (hist, batch) = split(sfDir)
    val dir = tempDir("graft_dedup_store").toString
    DedupStore.save(DedupStore.build(hist), dir)
    val loaded = DedupStore.load(spark, dir)
    assert(loaded.nDocs === hist.count())
    val got = sortedRows(DedupStore.ingest(loaded, batch))
    val want = sortedRows(Dedup.incrementalDedup.run(spark, sfDir))
    assert(got === want)
  }

  test("ingest ≡ full recompute even when the batch TIGHTENS the adaptive cap") {
    // The corpus busts the pair-mass budget, so the merged df table
    // must reproduce the TIGHTENED full-corpus cap — the sufficiency
    // claim under cap movement, not just the slack-budget identity —
    // while a moderate-duplication group under the tightened cap
    // still yields both cross-batch and in-batch pairs to compare.
    // 331 docs, budget 331k: group A (201 replicas, shingle df 201,
    // mass ≈ 402k) busts → cap 200, its pairs shed; group B (30
    // replicas split across the 90% batch boundary, df 30 ≤ cap)
    // survives on both sides. Written as a documents.parquet dir so
    // the registered d_incremental runs on it unmodified.
    val repA = (0 until 22).map(i => s"r_$i").mkString(" ")
    val repB = (0 until 22).map(i => s"b_$i").mkString(" ")
    val rows =
      (0 until 201).map(r => (r.toLong, repA)) ++
        (0 until 100).map(k => (300L + k, (0 until 25).map(i => s"u${k}_$i").mkString(" "))) ++
        (0 until 15).map(r => (420L + r, repB)) ++  // history side of B
        (0 until 15).map(r => (900L + r, repB))     // batch side of B (thr = 823)
    val tmp = tempDir("dedup_store_hot")
    val stage = tmp.resolve("stage")
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, tmp.resolve("documents.parquet"))
    val (hist, batch) = split(tmp.toString)
    val got = sortedRows(DedupStore.ingest(DedupStore.build(hist), batch))
    val want = sortedRows(Dedup.incrementalDedup.run(spark, tmp.toString))
    assert(got === want)
  }

  test("ingest rejects a batch whose doc ids overlap stored history") {
    val (hist, batch) = split(sfDir)
    val idx = DedupStore.build(hist)
    // re-ingesting history itself is the canonical overlap
    val e = intercept[IllegalArgumentException] {
      DedupStore.ingest(idx, hist.limit(5)).collect()
    }
    assert(e.getMessage.contains("overlaps stored history"))
    // the valid batch still ingests (guard is not over-strict)
    DedupStore.ingest(idx, batch).count()
  }

  test("save/load round-trips maxDocId") {
    val (hist, _) = split(sfDir)
    val dir = tempDir("graft_dedup_store_meta").toString
    val built = DedupStore.build(hist)
    DedupStore.save(built, dir)
    assert(DedupStore.load(spark, dir).maxDocId === built.maxDocId)
    assert(built.maxDocId === hist.agg(max("doc_id")).head().getLong(0))
  }

  test("window index save/load round-trips: hashes and bloom match the in-memory build") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val dir = tempDir("graft_window_idx").toString
    DedupStore.saveWindowIndex(docs, dir)
    val widx = DedupStore.loadWindowIndex(spark, dir)
    val mem = Dedup.windowTable(docs).select("h").distinct()
    assert(widx.hashes.exceptAll(mem).unionByName(mem.exceptAll(widx.hashes)).isEmpty,
      "stored window-hash set differs from in-memory build")
    assert(widx.bloom.toSeq === Dedup.bloomWords(mem).toSeq,
      "stored bloom words differ from in-memory fold")
  }

  test("append folds a batch: appended index equals an index built on the union") {
    val (hist, batch) = split(sfDir)
    val appended = DedupStore.append(DedupStore.build(hist), batch)
    val full = DedupStore.build(graft.sources.Tables.documents(spark, sfDir))
    assert(appended.nDocs === full.nDocs)
    assert(appended.entries.count() === full.entries.count())
    // df tables agree row-for-row
    val diff = appended.dfFreq.exceptAll(full.dfFreq)
      .unionByName(full.dfFreq.exceptAll(appended.dfFreq))
    assert(diff.isEmpty)
  }
}

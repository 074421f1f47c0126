package graft

import org.apache.spark.sql.graftshim.Shim

/** Operators that persist internal index frames (shingle index, LSH
  * bands, SimHash signatures, cosine tiles, IVF corpus) must release
  * them before returning: Verify/Bench run every query in one session
  * (Bench twice), so a leaked cache per invocation accumulates for the
  * session lifetime.
  */
class CacheLifecycleSpec extends SparkSpec {

  private def assertNoLeak(name: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
    val out = run
    out.collect() // the harness's consuming action
    assert(Shim.noDataFrameCaches(spark), s"$name left DataFrame caches registered")
  }

  test("dedup pairs operators release their index caches") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assertNoLeak("ngramJaccardPairs")(graft.dedup.Dedup.ngramJaccardPairs(docs))
    assertNoLeak("minhashLshPairs")(graft.dedup.Dedup.minhashLshPairs(docs))
    assertNoLeak("simhashPairs")(graft.dedup.Dedup.simhashPairs(docs))
  }

  test("components / embed / IVF / LSH-ANN release their caches") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val edges = graft.dedup.Dedup.ngramJaccardPairs(docs).select("doc_a", "doc_b")
    assertNoLeak("connectedComponents")(graft.dedup.Dedup.connectedComponents(edges))
    assertNoLeak("cosinePairs")(
      graft.sim.Embed.cosinePairs(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding", 0.45))
    assertNoLeak("s_centroid_ivf")(graft.sim.Sim.centroidIvf.run(spark, sfDir))
    assertNoLeak("s_ivf_search")(graft.sim.Sim.ivfSearch.run(spark, sfDir))
    assertNoLeak("s_lsh_ann")(graft.sim.Sim.lshAnn.run(spark, sfDir))
  }

  test("Caching.releaseAll frees checkpoint blocks; operators rebuild cleanly after") {
    // prime a memoized checkpointed artifact, then free everything
    val before = graft.sim.Sim.centroidIvf.run(spark, sfDir).collect()
    Caching.releaseAll()
    // memo invalidated -> a fresh build must produce the same result
    val after = graft.sim.Sim.centroidIvf.run(spark, sfDir).collect()
    assert(after === before)
    assert(Shim.noDataFrameCaches(spark))
  }

  test("released results stay correct and composable") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs)
    // composable after release: filter + join on the checkpointed frame
    val n = pairs.filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5).count()
    assert(n === pairs.count())
  }

  /** A release-all hook that throws `e` on its first run only: hooks
    * stay registered for the JVM lifetime, so one that kept throwing
    * would reach every later spec's releaseAll.
    */
  private def throwOnce(e: Throwable): () => Unit = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    () => if (armed.getAndSet(false)) throw e
  }

  test("releaseAll: a hook's non-fatal failure does not stop the retained unpersist") {
    val df = Caching.retain(Caching.releaseAfter(spark.range(1000).toDF("id")))
    val rdd = Shim.checkpointedRdd(df).get
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Caching.onReleaseAll(throwOnce(new IllegalStateException("injected hook failure")))
    Caching.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "a failing hook kept the retained frame's blocks alive")
  }

  test("releaseAll: a hook's fatal error (LinkageError) propagates") {
    Caching.onReleaseAll(throwOnce(new LinkageError("injected fatal hook failure")))
    val e = intercept[LinkageError](Caching.releaseAll())
    assert(e.getMessage === "injected fatal hook failure")
    Caching.releaseAll() // the hook is spent: this release runs to the end
  }

  // The r9 leak finding: a stopped streaming query's memory-sink table
  // stayed reachable through its temp view for the JVM lifetime (and
  // the state store kept its version maps loaded). The boundary must
  // drop the registered views — and the frame must be fully usable
  // BETWEEN run and boundary.
  test("releaseTransient drops memory-sink temp views registered by streaming runs") {
    val out = graft.streaming.Streaming.pipeline.run(spark, sfDir)
    val rows = out.count() // consume before the boundary, as Bench/Verify do
    assert(rows > 0)
    val viewsBefore = spark.catalog.listTables()
      .filter("name like 'graft_stream_%'").count()
    assert(viewsBefore > 0, "streaming run registered no memory-sink view")
    Caching.releaseTransient()
    val viewsAfter = spark.catalog.listTables()
      .filter("name like 'graft_stream_%'").count()
    assert(viewsAfter === 0, s"boundary left $viewsAfter sink views alive")
    // the operator still reruns cleanly after the boundary
    assert(graft.streaming.Streaming.pipeline.run(spark, sfDir).count() === rows)
    Caching.releaseTransient()
  }
}

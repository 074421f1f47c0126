package graft

/** No registered stream query leaves a dir behind: every checkpoint,
  * per-batch output, sink dir and stored index it makes is released at
  * the harness boundaries Verify crosses (releaseTransient after each
  * query, releaseAll at the end).
  */
class ScratchLeakSpec extends SparkSpec {
  import SparkSpec.graftEntries

  test("every st_* query leaves no graft_* dir under the tmpdir or the scratch root") {
    spark // the session's own warehouse dir exists before the snapshot
    val before = graftEntries()
    val t0 = System.nanoTime()
    graft.streaming.Streaming.all.foreach { q =>
      q.run(spark, sfDir).collect()
      Caching.releaseTransient()
    }
    Caching.releaseAll()
    info(f"${graft.streaming.Streaming.all.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert((graftEntries() -- before) === Set.empty[String])
  }
}

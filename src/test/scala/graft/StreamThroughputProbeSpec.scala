package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.tools.StreamThroughputProbe

/** Smoke run of the sustained-rate probe: a short st_pipeline stream
  * gets past the warmup window, reports a positive sustained rate in a
  * parseable JSON line, and leaves no scratch dir behind.
  */
class StreamThroughputProbeSpec extends SparkSpec {
  import SparkSpec.graftEntries

  test("st_pipeline: JSON line past warmup with a sustained rate, no graft_* dir left") {
    spark // the session's own warehouse dir exists before the snapshot
    val before = graftEntries()
    val line = StreamThroughputProbe.run(spark, "st_pipeline", sfDir, rate = 50,
      nBatches = StreamThroughputProbe.Warmup + 2)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("query").asText === "st_pipeline")
    assert(json.get("batches").asInt > json.get("warmup_excluded").asInt)
    assert(json.get("rows_per_sec_sustained").asDouble > 0)
    assert((graftEntries() -- before) === Set.empty[String])
  }

  test("an unknown mode fails with the usage message") {
    val e = intercept[IllegalArgumentException](
      StreamThroughputProbe.run(spark, "st_ann", sfDir, rate = 50, nBatches = 12))
    assert(e.getMessage.contains("st_pipeline|st_sessions|st_dedup_ingest"), e.getMessage)
  }
}

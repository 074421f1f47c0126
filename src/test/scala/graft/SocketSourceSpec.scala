package graft

import org.apache.spark.sql.functions._

/** Source parameterization, socket kind: the pipeline rollup runs
  * unchanged over a TCP socket source (receiver-driven, line-at-a-time,
  * no replay — the local stand-in for a network ingest), and the
  * materialized result equals the batch computation over exactly the
  * ids that were sent. Completes the file/rate/socket parity trio
  * (StreamingParitySpec / RateSourceSpec / this).
  */
class SocketSourceSpec extends SparkSpec {

  test("hourly rollup over the socket source == batch rollup over the sent ids") {
    val n = 5000L
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val writer = new Thread(() => {
      try {
        val sock = server.accept() // blocks until the source connects
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), false)
        (0L until n).foreach(i => out.println(i))
        out.flush()
        // keep the connection open: closing can end the source before
        // the final micro-batch drains; the query's stop() tears down
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    val rolled = graft.metrics.Transforms.hourlyRollup(
      graft.streaming.Streaming.eventsSource(spark,
        graft.streaming.Streaming.SourceKind.Socket(server.getLocalPort)))
    val name = "graft_socket_replay"
    val ckpt = tempDir("socket_ckpt").toString
    val q = rolled.writeStream.format("memory").queryName(name)
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try {
      // lines travel over TCP: poll until every sent id has been
      // processed (processAllAvailable only covers what has ARRIVED)
      val deadline = System.currentTimeMillis() + 60000
      def seen(): Long =
        spark.table(name).agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
      while (System.currentTimeMillis() < deadline && seen() < n) {
        q.processAllAvailable()
        if (seen() < n) Thread.sleep(200)
      }
      assert(seen() === n, s"socket source delivered ${seen()} of $n ids")
    } finally {
      q.stop()
      server.close()
    }
    val got = spark.table(name)
    val want = graft.metrics.Transforms.hourlyRollup(
      graft.streaming.Streaming.rateEventsBatch(spark, n))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    assert(rows(got) === rows(want))
  }
}

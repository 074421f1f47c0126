package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.sinks.Sinks

/** The reference's main loop (main.py: poll every scraper, append each
  * record batch to every ENABLED sink) as a configurable continuous
  * pipeline: one micro-batched stream fans out per batch to whichever
  * sinks the config enables. Adding a sink is config, not code —
  * exactly the appender-registry shape of the reference.
  */
object Pipeline {

  /** Which sinks are on, and where they write (None = disabled) —
    * mirrors the reference's properties toggles
    * (kafka.enabled / elastic.enabled).
    */
  final case class Config(
      indexPrefix: String = "kafka-jmx-logs",
      esDir: Option[String] = None,
      kafkaDir: Option[String] = None,
      kafkaKeyCol: String = "user_id",
      kafkaPartitions: Int = 8,
  )

  /** Start the fan-out over a streaming frame. `tsCol` drives the
    * date-rotated ES index; the doc shipped to ES is the whole row as
    * JSON (the reference ships the flattened record verbatim).
    *
    * Each micro-batch is read once: with two sinks enabled the batch is
    * persisted, both sinks are written concurrently from the cached
    * rows, and the cache is released when both are done (one sink
    * writes straight from the source, uncached). The batch fails if any
    * sink fails; the first sink's error is thrown with the others
    * suppressed on it.
    *
    * Exactly-once to the file sinks: each micro-batch OVERWRITES its
    * own `batch=<id>` partition directory in every sink, so a batch
    * replayed after a failure — including one where a sink had already
    * finished — rewrites the same files instead of appending duplicates
    * (batch id is stable across retries — the checkpoint guarantees
    * it). Consumers read with `basePath` = the sink root.
    */
  def start(stream: DataFrame, tsCol: String, cfg: Config, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val writes = cfg.esDir.map { dir => () =>
          val docs = batch.withColumn("doc",
            to_json(struct(batch.columns.toIndexedSeq.map(col): _*)))
          Sinks.writeEsBulk(docs, tsCol, "doc", cfg.indexPrefix,
            s"$dir/batch=$id", mode = "overwrite")
        }.toSeq ++ cfg.kafkaDir.map { dir => () =>
          Sinks.writeKafkaJsonl(batch, cfg.kafkaKeyCol, s"$dir/batch=$id",
            cfg.kafkaPartitions, mode = "overwrite")
        }
        if (writes.size < 2) writes.foreach(_())
        else {
          batch.persist()
          try runConcurrently(writes, s"graft-sink-batch-$id")
          finally batch.unpersist()
        }
      }
      .start()

  /** Runs every write on its own fresh thread and waits for all of
    * them. Fresh threads, not a pool: a new thread inherits the
    * caller's SparkContext local properties (the query's job group,
    * which `stop()` cancels, and its query and batch ids), a pooled one
    * keeps whatever its first user had. If the caller is interrupted,
    * the writes are interrupted and still awaited, so nothing outlives
    * the call. Throws the first write's failure, in `writes` order,
    * with the later ones suppressed on it.
    */
  private def runConcurrently(writes: Seq[() => Unit], name: String): Unit = {
    val errors = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (w, i) =>
      new Thread(() => try w() catch { case e: Throwable => errors(i) = e }, s"$name-$i")
    }
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach { t =>
          while (t.isAlive) try t.join() catch { case _: InterruptedException => }
        }
        throw e
    }
    errors.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }
}

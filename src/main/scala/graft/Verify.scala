package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Oracle-gated run: the DuckDB SQL hard-codes the fixed df cap, so
    // a duplication-adaptive cap that tightens on this corpus must
    // fail loudly at derivation (Dedup.adaptiveDfCapFromDf), not as an
    // opaque hash mismatch in the driver's compare.
    sys.props("graft.assertFixedCap") = "true"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (unset in the driver run → all queries)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // per-query isolation: free transient checkpoint blocks
        // (memoized artifacts stay retained — see Bench.measure)
        graft.Caching.releaseTransient()
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a leaked SPARK_GRAFT_ONLY must never masquerade as a full dump:
    // leave an explicit marker file next to the partial output.
    only.foreach(o => Files.writeString(Paths.get(s"$outDir/_SUBSET.txt"),
      o.toSeq.sorted.mkString(",") + "\n"))
    spark.streams.active.foreach(qr => try qr.stop() catch { case NonFatal(_) => () })
    Caching.releaseAll()
    spark.stop()
  }
}

package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs
  * must not stop it).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer[Path]()

  /** A fresh `<prefix>*` dir under java.io.tmpdir, deleted with
    * everything in it when this spec finishes.
    */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  /** Deletes this spec's temp dirs and releases the scratch dirs and
    * checkpoint blocks its queries left (stream checkpoints on the
    * scratch root are freed only at this boundary).
    */
  override def afterAll(): Unit =
    try {
      tempDirs.synchronized(tempDirs.foreach(d => Caching.deleteRecursively(d.toString)))
      Caching.releaseTransient()
    } finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)

  /** Every `graft_*` entry directly under java.io.tmpdir or the
    * scratch root — the snapshot leak checks diff before and after.
    */
  def graftEntries(): Set[String] =
    Seq(new File(System.getProperty("java.io.tmpdir")), Caching.scratchRoot.toFile)
      .flatMap(root => Option(root.listFiles()).getOrElse(Array.empty[File]))
      .filter(_.getName.startsWith("graft_"))
      .map(_.getPath)
      .toSet
}

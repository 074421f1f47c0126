package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The inventory of `SPARK_GRAFT_*` env knobs read anywhere in the
  * program. README's "Environment" section lists the same names, so a
  * knob added or removed later must be changed in both places.
  */
class EnvKnobSpec extends AnyFunSuite {

  private val Knobs = Set("BENCH_OUT", "CKPT_ROOT", "CPUS", "EMBED_EXACT",
    "LOAD_LIMIT", "ONLY", "RDB_BOUNDED_MB", "RDB_NBUF", "RDB_WRITEBUF_MB",
    "ROCKSDB", "RUNS", "SF_DIR", "SKIP").map("SPARK_GRAFT_" + _)

  private val KnobName = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("src/main names exactly the inventoried SPARK_GRAFT_* knobs") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val found = files.flatMap(f => KnobName.findAllIn(Files.readString(f))).toSet
    assert(found === Knobs)
  }

  test("README's Environment section lists the same knobs") {
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("## Environment")
    assert(start >= 0, "README has no Environment section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    assert(KnobName.findAllIn(section).toSet === Knobs)
  }
}

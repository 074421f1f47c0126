package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** `scripts/capture.sh clean` is the gate every committed bench
  * artifact passes: both `"n_errors":0` and `"degraded":false` in the
  * first 160 bytes. Pinned on two committed sf10 sweeps.
  */
class CaptureGateSpec extends AnyFunSuite {
  private val script = "scripts/capture.sh"

  test("capture.sh parses") {
    assert(Seq("bash", "-n", script).! === 0)
  }

  test("clean gate: an artifact whose head lacks n_errors is dirty") {
    assert(Seq("bash", script, "clean", "BENCH_SF10_FULL_r16.json").! !== 0)
  }

  test("clean gate: a head with n_errors:0 and degraded:false is clean") {
    assert(Seq("bash", script, "clean", "BENCH_SF10_FULL_r17.json").! === 0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.runGate]] certification — the run-level contention verdict
  * published in the bench headline. The r14 driver run is the regression
  * fixture: it poisoned a whole round's driver-to-driver diff (probe
  * median 0.1105 on floor 0.0662, every key shifted ~1.155× in lockstep)
  * while its headline cal read clean, and an early cut of this gate with
  * calThreshold's 0.2 s absolute grace would ALSO have read it clean.
  */
class BenchGateSpec extends AnyFunSuite {

  test("the r14 poisoned run flags contended") {
    // per-pass probe medians from BENCH_r14's detail: hot throughout
    val probes = Seq(0.095, 0.102, 0.1105, 0.118, 0.131, 0.1105, 0.108)
    val (median, contended) = Bench.runGate(probes, 0.0662)
    assert(median == 0.1105)
    assert(contended, "the r14 run must flag (1.67x the floor)")
    // ...and the 0.2s-grace variant this gate replaced would have
    // silently passed it — the reason the grace is gone
    assert(median <= math.max(0.2, 1.3 * 0.0662))
  }

  test("a clean run does not flag") {
    // probes hugging the floor, one mild burst
    val (median, contended) =
      Bench.runGate(Seq(0.066, 0.068, 0.071, 0.067, 0.12), 0.066)
    assert(!contended)
    assert(median == 0.068)
  }

  test("boundary: exactly 1.3x the floor is NOT contended (strict >)") {
    val (_, contended) = Bench.runGate(Seq(0.13, 0.13, 0.13), 0.1)
    assert(!contended)
    val (_, over) = Bench.runGate(Seq(0.131, 0.131, 0.131), 0.1)
    assert(over)
  }

  test("no probes: median falls back to the floor, never flags") {
    val (median, contended) = Bench.runGate(Nil, 0.09)
    assert(median == 0.09)
    assert(!contended)
  }

  test("median is order-independent (interpolated for even counts)") {
    val shuffled = Seq(0.2, 0.05, 0.11, 0.08)
    val (median, _) = Bench.runGate(shuffled, 0.05)
    assert(math.abs(median - 0.095) < 1e-12,
      "even count takes the mean of the two middles")
    assert(Bench.runGate(shuffled.reverse, 0.05)._1 == median)
  }

  test("even-count median is not lenient: a straddling run flags") {
    // two cool probes, two hot — the lower middle (the r15 ADVICE hole)
    // would read 0.068 and pass; the interpolated median reads the
    // straddle and flags
    val probes = Seq(0.066, 0.068, 0.12, 0.13)
    val (median, contended) = Bench.runGate(probes, 0.066)
    assert(math.abs(median - 0.094) < 1e-12)
    assert(contended, "straddling run must flag (0.094 > 1.3 * 0.066)")
    assert(0.068 <= 1.3 * 0.066, "the lower middle would have passed it")
  }
}

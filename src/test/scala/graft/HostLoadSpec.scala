package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the host-contention instrumentation the bench artifact relies
  * on ([[HostLoad]]): if these probes silently break (a /proc format
  * change, a DCE'd calibration loop), the committed `host` block would
  * report a clean run on a contaminated host.
  */
class HostLoadSpec extends AnyFunSuite {

  test("cpuJiffies is readable and monotone across a busy interval") {
    val a = HostLoad.cpuJiffies()
    assert(a._1 > 0, "/proc/stat busy jiffies should parse")
    assert(a._2 > 0, "/proc/self/stat jiffies should parse")
    // burn ~100ms of CPU so both counters must advance
    val t0 = System.nanoTime()
    var h = 1L
    while (System.nanoTime() - t0 < 150e6) { h = h * 6364136223846793005L + 1 }
    assert(h != 0)
    val b = HostLoad.cpuJiffies()
    assert(b._1 >= a._1 && b._2 >= a._2)
  }

  test("externalCpuFrac: self-only burn reports ~zero external share") {
    // The share itself, on synthetic snapshots: other processes' load
    // on the host must not decide this test.
    val n = Runtime.getRuntime.availableProcessors().toDouble
    assert(HostLoad.externalCpuFrac((1000L, 200L), (1300L, 500L), 2.0) == 0.0)
    assert(HostLoad.externalCpuFrac((1000L, 200L), (1400L, 500L), 2.0) == 100.0 / (n * 2.0 * 100.0))

    // The probes see a real self burn: 300 ms of this thread's CPU time,
    // the same work however busy the host is.
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    assert(mx.isCurrentThreadCpuTimeSupported)
    val before = HostLoad.cpuJiffies()
    val cpu0 = mx.getCurrentThreadCpuTime
    val deadline = System.nanoTime() + 60e9.toLong
    var h = 1L
    while (mx.getCurrentThreadCpuTime - cpu0 < 300e6 && System.nanoTime() < deadline) {
      var i = 0
      while (i < 100000) { h = h * 6364136223846793005L + 1; i += 1 }
    }
    assert(h != 0)
    assert(mx.getCurrentThreadCpuTime - cpu0 >= 300e6, "burn did not finish in 60 s")
    val after = HostLoad.cpuJiffies()
    val self = after._2 - before._2
    val busy = after._1 - before._1
    // USER_HZ = 100: 300 ms is 30 jiffies; tick sampling may drop a few
    assert(self >= 25, s"self jiffies=$self")
    // the host's busy jiffies include this process's; the two files are
    // not read at the same instant, so allow a few jiffies of skew
    assert(busy >= self - 5, s"busy=$busy self=$self")
  }

  test("externalCpuFrac flags sentinel on unreadable snapshots") {
    assert(HostLoad.externalCpuFrac((-1L, 10L), (100L, 20L), 1.0) == -1.0)
    assert(HostLoad.externalCpuFrac((10L, 10L), (100L, 20L), 0.0) == -1.0)
  }

  test("calibProbe does fixed work and returns a plausible wall time") {
    // tiny variant so the suite doesn't pay the full 32x150M probe
    val t = HostLoad.calibProbe(threads = 4, iters = 2000000L)
    assert(t > 0.0 && t < 30.0, s"t=$t")
  }
}

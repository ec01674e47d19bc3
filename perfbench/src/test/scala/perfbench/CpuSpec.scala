package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CpuSpec extends AnyFunSuite {

  private def threadCpuNs: Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  test("work CPU time counts a busy thread's time") {
    val w0 = Cpu.workNs
    val t0 = threadCpuNs
    var x = 0L
    while (threadCpuNs - t0 < 200000000L) x += Gen.mix(x)
    val spun = threadCpuNs - t0
    val work = Cpu.workNs - w0
    assert(x != 1L)
    assert(work >= spun * 9 / 10, s"work $work ns for $spun ns spun")
  }

  test("compiler time is part of the process's time, and work is the rest") {
    val c = Cpu.compilerNs
    assert(c >= 0L)
    assert(Cpu.processNs >= c)
    assert(Cpu.workNs > 0L)
  }

  test("settle returns within its cap") {
    val t0 = System.nanoTime()
    Cpu.settle(capMs = 300L)
    assert(System.nanoTime() - t0 < 2000000000L)
  }
}

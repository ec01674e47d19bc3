package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** CPU time of this process, read from the kernel. The guest kernel
  * leaves time stolen by the hypervisor out of a thread's run time, and a
  * thread waiting for a core runs up no time at all, so CPU time moves
  * far less than wall time when other tenants load the machine. */
object Cpu {

  /** CPU time of the whole process so far, every thread included. */
  def processNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val tasks: Path = Paths.get("/proc/self/task")

  /** Run time of the JIT compiler threads so far. They compile on their
    * own schedule, so their time lands in whichever operation happens to
    * be running; the JVM is started with a fixed set of them so none
    * exits and takes its time along. */
  def compilerNs: Long = {
    val ds = Files.newDirectoryStream(tasks)
    try ds.iterator().asScala.map { t =>
      val name = try Files.readString(t.resolve("comm")).trim catch { case _: java.io.IOException => "" }
      if (!name.contains("CompilerThre") && !name.startsWith("Sweeper")) 0L
      else try Files.readString(t.resolve("schedstat")).trim.split(' ')(0).toLong
      catch { case _: java.io.IOException | _: NumberFormatException => 0L }
    }.sum
    finally ds.close()
  }

  /** CPU time the process spent on work so far: every thread except the
    * JIT compilers. Garbage collection counts, since allocation is part
    * of the program's cost. */
  def workNs: Long = processNs - compilerNs

  /** Wait, untimed, until the JIT compilers have been idle for a moment
    * or `capMs` has passed, so that what is timed next runs compiled
    * code however slowly the machine compiled it. */
  def settle(capMs: Long = 500L): Unit = {
    val end = System.nanoTime() + capMs * 1000000L
    var last = compilerNs
    var quiet = false
    while (!quiet && System.nanoTime() < end) {
      Thread.sleep(50L)
      val c = compilerNs
      quiet = c - last < 1000000L
      last = c
    }
  }
}

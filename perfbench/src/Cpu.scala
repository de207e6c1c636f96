package graftbench

import java.nio.file.{Files, Paths}

/** CPU time of this process's threads, read from Linux's per-thread
  * scheduler statistics (nanoseconds). The JIT compiler threads are left
  * out: how much compiling a window overlaps depends on the JVM, not on
  * the program, and varies from run to run.
  */
object Cpu {
  private val tasks = Paths.get("/proc/self/task")

  private def read(p: java.nio.file.Path): String = new String(Files.readAllBytes(p), "US-ASCII")

  /** CPU seconds the program's live threads have used so far. */
  def programS: Double = {
    val s = Files.list(tasks)
    try {
      var ns = 0L
      s.forEach { t =>
        try {
          if (!read(t.resolve("comm")).contains("CompilerThre"))
            ns += read(t.resolve("schedstat")).trim.split(' ')(0).toLong
        } catch { case _: java.io.IOException => () } // the thread ended
      }
      ns / 1e9
    } finally s.close()
  }

  /** CPU seconds, summed over the machine's CPUs, that the hypervisor
    * gave to other guests (the `steal` column of /proc/stat).
    */
  def stealS: Double = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "US-ASCII")
      .linesIterator.next().trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100 else 0.0
  }
}

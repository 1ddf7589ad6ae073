package graftbench

import java.io.File
import java.nio.file.Files

/** CPU time of this JVM's threads, with the JIT compiler's share split
  * off, in nanoseconds from /proc/self/task/<tid>/schedstat (the JVM's
  * own process CPU time counts 10 ms ticks, and its thread CPU times
  * cover Java threads only).
  *
  * The runner starts the JVM with a fixed set of compiler threads
  * (`-XX:-UseDynamicNumberOfCompilerThreads`), so the compiler threads
  * found at the first call are the JIT's for the whole run. */
object Cpu {
  /** CPU nanoseconds of every live thread, by thread id. */
  final case class Snap(ns: Map[String, Long])

  private def read(task: File, name: String): Option[String] =
    try Some(new String(Files.readAllBytes(new File(task, name).toPath)))
    catch { case _: java.io.IOException => None } // the thread ended

  private def tasks: Seq[File] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten

  private lazy val compilers: Set[String] =
    tasks.filter(t => read(t, "comm").exists(_.matches("C[12] Compiler(?s).*"))).map(_.getName).toSet

  def snap(): Snap = {
    compilers // named while every compiler thread is alive, before any interval
    Snap(tasks.flatMap(t => read(t, "schedstat").map(s => t.getName -> s.takeWhile(_ != ' ').toLong)).toMap)
  }

  /** CPU seconds spent between two snaps: (program, JIT). A thread that
    * ended in between loses what it spent since `a`. */
  def between(a: Snap, b: Snap): (Double, Double) = {
    var prog, jit = 0L
    b.ns.foreach { case (tid, ns) =>
      val d = ns - a.ns.getOrElse(tid, 0L)
      if (compilers(tid)) jit += d else prog += d
    }
    (prog / 1e9, jit / 1e9)
  }
}

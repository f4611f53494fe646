package perfbench

import scala.jdk.CollectionConverters._

/** Outcome of one operation: a timing when it completed, an error when it
  * threw. A failed operation never contributes a timing.
  */
final case class Outcome(ok: Boolean, seconds: Double, error: String) {
  def toMap: Map[String, Any] =
    if (ok) Map("ok" -> true, "seconds" -> seconds) else Map("ok" -> false, "error" -> error)
}

object Harness {

  def attempt(body: => Unit): Outcome = {
    val t0 = System.nanoTime()
    try {
      body
      Outcome(ok = true, (System.nanoTime() - t0) / 1e9, null)
    } catch {
      case e: Throwable => Outcome(ok = false, Double.NaN, describe(e))
    }
  }

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.take(1).mkString).getOrElse("")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `op(i)` for i = 0, 1, ... until `budgetS` seconds have passed and
    * at least `min` ops ran. Returns the number of ops.
    */
  def loop(budgetS: Double, min: Int)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budgetS) {
      op(i)
      i += 1
    }
    i
  }

  /** Heap in use after a full collection, summed over the heap pools'
    * collection usage, in MiB. Called between ops, never inside one.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }
}

/** Counts the `[memo] ... cold build` lines the engine prints on stderr, so
  * each key is charged the artifact builds it triggered.
  */
final class MemoTee(out: java.io.PrintStream) extends java.io.PrintStream(out, true) {
  @volatile var lines = 0
  override def println(x: String): Unit = {
    if (x != null && x.startsWith("[memo]")) lines += 1
    super.println(x)
  }
}

package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Host speed probe. On a shared host the speed of the cores drifts by
  * 2-4x over seconds to minutes with the neighbours' load, and a pass's
  * CPU time grows with its wall time, so the drift is not steal the guest
  * sees. Fixed kernels that never call the program, timed between the
  * program's calls while it is idle, give the speed of the host around
  * each call; metrics.py scales every op's time by them.
  *
  * Four kernels, each timed as the fastest of `reps` calls (the fastest
  * call is the one no transient stall of the guest hit):
  *  - chase: a random cycle through a 64 MB array on every core (memory
  *    latency, which the neighbours' cache and memory traffic sets);
  *  - stream: a copy of the same 64 MB out and back on every core (memory
  *    bandwidth);
  *  - sort: a sort of 128 Ki ints on one core (compute and cache);
  *  - boxed: a count of 64 Ki values in a boxed hash map on every core
  *    (allocation, young collections, hashing).
  * Only `boxed` allocates, and only short-lived objects of its own, so
  * the program's heap barely changes its cost. `close` drops the buffers
  * before the idle heap is read. */
final class HostSpeed(threads: Int) {
  private val Len = 1 << 24
  private val Slice = Len / threads
  private val ChaseSteps = 1 << 16
  private val pool = Executors.newFixedThreadPool(threads)
  @volatile private var sink = 0L

  /** One random cycle over every slot (Sattolo's shuffle). */
  private var cycle: Array[Int] = {
    val a = Array.tabulate(Len)(identity)
    val rnd = new java.util.Random(42)
    for (i <- Len - 1 until 0 by -1) {
      val j = rnd.nextInt(i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private var slices = Array.tabulate(threads)(t =>
    java.util.Arrays.copyOfRange(cycle, t * Slice, (t + 1) * Slice))

  private def chase(t: Int): Long = {
    val nx = cycle
    var p = t * Slice
    var i = 0
    while (i < ChaseSteps) { p = nx(p); i += 1 }
    p
  }

  private def stream(t: Int): Long = {
    val b = slices(t)
    System.arraycopy(cycle, t * Slice, b, 0, Slice)
    System.arraycopy(b, 0, cycle, t * Slice, Slice)
    b(Slice / 2)
  }

  private def sort(t: Int): Long = {
    val b = java.util.Arrays.copyOfRange(slices(t), 0, 1 << 17)
    java.util.Arrays.sort(b)
    b(b.length / 2)
  }

  private def boxed(t: Int): Long = {
    val src = slices(t)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < (1 << 16)) {
      val k = java.lang.Long.valueOf(src(i) % 30011L)
      val v = m.get(k)
      m.put(k, if (v == null) 1L else v + 1L)
      i += 1
    }
    m.size
  }

  private def fastest(reps: Int, n: Int)(k: Int => Long): Double = {
    val tasks = (0 until n).map(t => (() => k(t)): Callable[Long]).asJava
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      pool.invokeAll(tasks).asScala.foreach(f => sink += f.get())
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** ms of chase, stream, sort and boxed, in that order. */
  def probeMs(reps: Int = 2): Seq[Double] =
    Seq(fastest(reps, threads)(chase), fastest(reps, threads)(stream),
      fastest(reps, 1)(sort), fastest(reps, threads)(boxed))

  def close(): Unit = { pool.shutdownNow(); cycle = null; slices = null }
}

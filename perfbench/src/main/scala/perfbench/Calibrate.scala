package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** A fixed, program-independent CPU and memory workload on every core:
  * each thread sorts 1M seeded longs and hash-counts them. Its median
  * time is stamped on every run beside load1: on a shared host the
  * machine's speed drifts with other tenants' load, which the load
  * average inside the VM does not show. */
object Calibrate {

  private def kernel(seed: Long): Long = {
    val r = new SplittableRandom(seed)
    val a = Array.fill(1 << 20)(r.nextLong())
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < a.length) {
      m.merge(a(i) & 0x3ffffL, 1L, (x, y) => x + y)
      i += 4
    }
    a(a.length / 2) ^ m.size
  }

  /** Median seconds of `reps` runs of the kernel on `threads` threads. */
  def seconds(threads: Int, reps: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val times = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        val fs = (0 until threads).map(t =>
          pool.submit(() => kernel(rep * 131L + t)))
        fs.foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      }
      Run.median(times)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }
}

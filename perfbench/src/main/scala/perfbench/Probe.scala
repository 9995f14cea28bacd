package perfbench

/** Fixed CPU + allocation calibration probe, run before and after the
  * timed phase. One worker per core of the run's `local[4]` fills and
  * sorts fresh arrays; the probe reports the median wall time of its
  * repetitions. `run.py` runs it in a JVM of its own before and after each
  * workload run: a probe far above the committed quiet reference means
  * something else was using the machine, and the run flags itself. */
object Probe {
  val Workers = 4
  private val Reps = 5
  private val Arrays = 12
  private val Len = 100000

  private def work(seed: Long): Long = {
    val r = new java.util.SplittableRandom(seed)
    var acc = 0L
    var i = 0
    while (i < Arrays) {
      val a = Array.fill(Len)(r.nextLong())
      java.util.Arrays.sort(a)
      acc += a(Len / 2)
      i += 1
    }
    acc
  }

  /** Median wall milliseconds of one parallel repetition, after one
    * discarded warm-up repetition. */
  def run(): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Workers)
    try {
      val times = (0 until Reps).map { rep =>
        val t0 = System.nanoTime()
        val fs = (0 until Workers).map(w =>
          pool.submit[Long](() => work(rep * 31L + w)))
        fs.foreach(_.get())
        (System.nanoTime() - t0) / 1e6
      }
      Stats.median(times.drop(1))
    } finally pool.shutdown()
  }
}

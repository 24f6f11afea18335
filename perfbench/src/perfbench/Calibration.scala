package perfbench

import java.util.concurrent.{Callable, Executors}

/** A fixed CPU and memory kernel that calls none of the program's code,
  * run before and after every measured operation.
  *
  * On a shared cloud host every wall-clock time drifts by 30-50 % between
  * phases minutes long (CPU steal, and slow phases without steal, such as
  * a busy sibling hyperthread), more than a regression bound; runs of the
  * same code minutes apart then disagree. The kernel measures the phase a
  * run is in, so the end-to-end times are reported at a reference speed:
  * raw time × [[RefS]] / calibration time of the run.
  *
  * The kernel runs on one thread per core, like the operations, mixing
  * hashing, sequential writes and dependent reads within a core's own
  * cache. It allocates nothing after its first call, and every
  * calibration and operation starts after a full garbage collection, so
  * the program's heap does not move it: a change to the program leaves
  * it alone while a host phase moves both. Each calibration is the
  * fastest of a few back-to-back samples, which drops the samples a
  * background thread of the session happened to hit.
  */
object Calibration {

  /** Calibration time on a 4-vCPU, 16 GB cloud VM (Xeon, KVM) with four
    * threads: the speed the end-to-end times are reported at.
    */
  val RefS = 0.100

  private val Words = 1 << 15
  private val Rounds = 240
  private val Samples = 3
  private var pool: java.util.concurrent.ExecutorService = _
  private var arrays: Array[Array[Long]] = Array.empty
  @volatile private var sink = 0L

  /** One sample: every thread, [[Rounds]] times, fills its 256 KB array
    * with a hash chain, then chases dependent reads through it. The
    * sample is the mean of the threads' own wall times, so one thread
    * that started late does not set it.
    */
  private def sample(threads: Int): Double = {
    val fs = (0 until threads).map { t =>
      pool.submit(new Callable[Double] {
        def call(): Double = Clock.timed {
          val a = arrays(t)
          var x = t.toLong
          var s = 0L
          var r = 0
          while (r < Rounds) {
            var i = 0
            while (i < Words) { x = Gen.mix64(x); a(i) = x; i += 1 }
            var k = 0
            i = 0
            while (i < Words) { k = ((a(k) ^ s) & (Words - 1)).toInt; s += a(k); i += 1 }
            r += 1
          }
          sink += s
        }._2
      })
    }
    fs.map(_.get()).sum / threads
  }

  /** The fastest of [[Samples]] samples on `threads` threads, in seconds. */
  def run(threads: Int): Double = synchronized {
    if (arrays.length != threads) {
      if (pool != null) pool.shutdown()
      pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
        val t = new Thread(r, "perfbench-calibration")
        t.setDaemon(true)
        t
      })
      arrays = Array.fill(threads)(new Array[Long](Words))
    }
    (1 to Samples).map(_ => sample(threads)).min
  }
}

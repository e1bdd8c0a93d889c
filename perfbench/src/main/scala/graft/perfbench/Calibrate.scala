package graft.perfbench

import java.util.concurrent.{Executors, ThreadFactory}

/** The host's speed, measured by a fixed reference computation that runs
  * no engine or Spark code.
  *
  * On a shared host the speed of the cores drifts by a factor of two and
  * more within minutes, and every timing in a run moves with it. The run
  * times the reference just after every timed operation (outside its timed
  * region, so the samples spread over the timed window), and scales its
  * end-to-end times to
  * [[NominalMs]]: a time is multiplied by `NominalMs` over the median
  * reference time. `pass_ms` uses the timings after the timed operations,
  * `setup_s` three taken before and three after each set-up repetition. A
  * change to the engine moves a scaled time exactly as it moves the raw
  * one; a change in the host's speed moves both the operations and the
  * reference, and largely cancels. The unscaled times and the reference
  * timings are in the artifact.
  *
  * The reference mixes the three kinds of work an operation is made of,
  * each taking about a third of its time: single-threaded compute (the
  * driver's analysis and planning), single-threaded dependent memory reads
  * (scans and hash lookups), and compute on every core at once (tasks).
  * The all-core part runs only between operations, while Spark is idle, so
  * no more than `nproc` threads are ever busy. */
object Calibrate {

  /** The reference time that scaled times are expressed against: a fixed
    * constant, so scaled times compare across runs and commits. About the
    * reference's time on a lightly loaded 4-vCPU KVM host (Intel Xeon,
    * JDK 17), where each of its three parts took 4–6 ms; a busy host
    * measured 23–35 ms. */
  val NominalMs = 15.0

  private val cores = Runtime.getRuntime.availableProcessors

  private val sortInput = {
    val r = new java.util.Random(1)
    Array.fill(1 << 16)(r.nextLong())
  }

  /** A random permutation cycle over 16 MiB: each read depends on the one
    * before, so the walk runs at the memory system's latency. */
  private val cycle = {
    val n = 1 << 22
    val order = Array.range(0, n)
    val r = new java.util.Random(2)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val next = new Array[Int](n)
    for (i <- 0 until n) next(order(i)) = order((i + 1) % n)
    next
  }

  @volatile private var sink = 0L

  // sort 64k longs, then count them into 4k boxed buckets
  private def compute(): Unit = {
    val a = sortInput.clone()
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, Integer](1 << 13)
    var i = 0
    while (i < a.length) {
      m.merge(a(i) >>> 52, 1, (x: Integer, y: Integer) => x + y)
      i += 1
    }
    sink += m.size
  }

  private def walk(): Unit = {
    var i = 0
    var j = 0
    while (i < 50000) {
      j = cycle(j)
      i += 1
    }
    sink += j
  }

  private val pool = Executors.newFixedThreadPool(cores, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-calibrate")
      t.setDaemon(true)
      t
    }
  })

  private def allCores(): Unit = {
    val fs = (0 until cores).map(_ => pool.submit(new Runnable {
      def run(): Unit = compute()
    }))
    fs.foreach(_.get())
  }

  /** Run the reference until the JIT has compiled it. */
  def warm(): Unit = (0 until 15).foreach(_ => once())

  /** One timed run of the reference, in ms. */
  def once(): Double = {
    val t0 = System.nanoTime()
    compute()
    walk()
    allCores()
    (System.nanoTime() - t0) / 1e6
  }
}

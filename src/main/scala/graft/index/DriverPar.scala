package graft.index

/** Deterministic driver-side parallel loops for the local quantizer
  * trainer ([[Lloyd.local]], behind IVF, PQ and OPQ training, and
  * [[OpqIndex.train]]'s rotate/reconstruct steps), and the one per-call
  * thread loop ([[fanOut]]) that executor-side batch serving
  * ([[graft.query.TaskFanout]]) shares under its own width rule.
  *
  * Those trainers run on the driver over the capped training sample, and
  * before this helper their hot phase — the per-row nearest-centroid /
  * nearest-codeword argmin, O(n·k·dim) of the O(n·k·dim + n·dim) loop —
  * ran single-threaded while the rest of the box idled (guide §1.2 "per-
  * task work": the distributed shape is right, the inside of the step is
  * not). The argmin is pure per row, so it parallelizes without changing
  * ANY output bit: each row's result lands in its own pre-allocated slot,
  * and the floating-point accumulation that follows stays sequential in
  * ascending row order — identical adds in identical order. Oracle-checked
  * queries call these trainers directly (IndexQueries), so bit-identity
  * is a correctness requirement, not a nicety; TrainerParitySpec pins it.
  *
  * Width: bounded by the active session's default parallelism (local[N] →
  * N, so the driver's low-core scaling runs scale the trainers with the
  * advertised width instead of grabbing every physical core), capped by
  * the machine. Threads are created per call — a training pass is many ms
  * against μs of thread setup — and work is handed out in row chunks by
  * an atomic cursor; the first worker throwable is rethrown after join.
  */
private[graft] object DriverPar {

  /** Test hook: force a width (TrainerParitySpec pins parallel ≡
    * sequential bit-identity by training at width 1 and width N). */
  @volatile private[graft] var overrideWidth: Option[Int] = None

  def width(): Int = {
    overrideWidth match {
      case Some(w) => return math.max(1, w)
      case None =>
    }
    val avail = Runtime.getRuntime.availableProcessors()
    // getActiveSession is thread-local; fall back to the default session
    // before availableProcessors so trainers invoked off the session-
    // owning thread still scale with the advertised local[N] width
    // (ADVICE r12)
    val p = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.defaultParallelism).getOrElse(avail)
    math.max(1, math.min(p, avail))
  }

  /** Run `fn(i)` for every i in [0, n) at the trainer [[width]]. `fn`
    * must be pure per index (reads shared immutable state, writes only
    * slot i of pre-allocated outputs). Falls back to the plain sequential
    * loop when the work is too small to amortize thread start. */
  def foreach(n: Int, chunk: Int = 256)(fn: Int => Unit): Unit =
    fanOut(n, width(), chunk)(fn)

  /** Run `fn(i)` for every i in [0, n) on at most `width` daemon threads,
    * never more than n / `chunk` of them, each taking `chunk` indices at a
    * time from an atomic cursor; sequential when that leaves one thread.
    * `fn` must be safe to run concurrently for distinct i. The first
    * worker throwable is rethrown on the calling thread after join. */
  def fanOut(n: Int, width: Int, chunk: Int)(fn: Int => Unit): Unit = {
    val w = math.min(width, math.max(1, n / chunk))
    if (w <= 1) {
      var i = 0
      while (i < n) { fn(i); i += 1 }
      return
    }
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val workers = Array.tabulate(w) { wi =>
      val t = new Thread(() => {
        try {
          var lo = next.getAndAdd(chunk)
          while (lo < n && err.get() == null) {
            val hi = math.min(n, lo + chunk)
            var i = lo
            while (i < hi) { fn(i); i += 1 }
            lo = next.getAndAdd(chunk)
          }
        } catch { case e: Throwable => err.compareAndSet(null, e) }
      }, s"graft-fanout-$wi")
      t.setDaemon(true)
      t
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    val e = err.get()
    if (e != null) throw e
  }
}

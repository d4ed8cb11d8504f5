package graft.index

import org.apache.spark.rdd.RDD

import graft.core.Metric

/** Lloyd's k-means over `m` subspaces of `dsub` components each, run
  * jointly — the one trainer behind every quantizer: IVF's coarse k-means
  * ([[Centroids.kMeans]], the m = 1, dsub = dim case; ivf.go:255-317), PQ
  * codebooks ([[PqIndex.train]]; pq.go:273-343 kMeansSubspace, all M
  * subspaces in one pass) and OPQ's codebook fits ([[OpqIndex.train]]).
  *
  * The reference's semantics: strided init over the id-ordered sample,
  * ≤ maxIter iterations, assignment to the nearest codeword (ties toward
  * the lower one), update to the plain mean, an empty cell keeps its
  * codeword (ivf.go:296-314), early exit once no component moves by more
  * than 1e-12. Subspaces are assigned under L2; only a whole-vector book
  * (m = 1) may rank by another metric's `rankKeyScalar`, as the
  * reference's IVF does (ivf.go:133-135). No RNG anywhere.
  *
  * Two loops, picked by sample size ([[Centroids.LocalTrainBudget]]):
  * [[local]] assigns the collected sample's rows in parallel
  * ([[DriverPar]]; each row's codes land in its own slots) and then
  * accumulates them in ascending row order; [[distributed]] is one
  * treeAggregate per iteration — each partition folds its rows, then the
  * partitions combine — so only the m×k×dsub sums reach the driver. Each
  * loop runs a fixed sequence of IEEE operations; the two differ only by
  * the summation grouping (TrainerSpec pins both at 1e-9 of each other
  * and bit for bit against stored hashes).
  */
private[graft] object Lloyd {

  /** Codebooks indexed (subspace, codeword, component). */
  type Books = Array[Array[Array[Double]]]

  /** Per-cell component sums and row counts of one assignment pass. */
  final case class Acc(sums: Books, counts: Array[Array[Long]]) {
    /** Adds subspace `mi` of row `v` to cell `j`. */
    def add(v: Array[Double], mi: Int, j: Int): Unit = {
      val target = sums(mi)(j)
      val off = mi * target.length
      var i = 0
      while (i < target.length) { target(i) += v(off + i); i += 1 }
      counts(mi)(j) += 1
    }

    /** Adds `o` into this, cell by cell. */
    def merge(o: Acc): Acc = {
      var mi = 0
      while (mi < sums.length) {
        var j = 0
        while (j < sums(mi).length) {
          val a = sums(mi)(j); val b = o.sums(mi)(j)
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          counts(mi)(j) += o.counts(mi)(j)
          j += 1
        }
        mi += 1
      }
      this
    }
  }

  private def zero(m: Int, k: Int, dsub: Int): Acc =
    Acc(Array.ofDim[Double](m, k, dsub), Array.ofDim[Long](m, k))

  /** Index of the codeword of `book` nearest to the slice of `v` at `off`
    * (the book's width). L2 abandons a codeword once its partial sum
    * reaches the best so far; another metric ranks the whole vector by
    * `rankKeyScalar` (m = 1 only, `off` = 0). Ties go to the lower
    * codeword, so a slice at NaN or +∞ from every codeword lands on 0. */
  def nearest(v: Array[Double], off: Int, book: Array[Array[Double]], metric: Metric): Int = {
    val isL2 = metric == Metric.L2
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < book.length) {
      val row = book(j)
      var d = 0.0
      if (isL2) {
        var i = 0
        while (i < row.length && d < bestD) { val t = v(off + i) - row(i); d += t * t; i += 1 }
      } else d = metric.rankKeyScalar(v, row)
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Strided init (ivf.go:280-290 / pq.go:280-290): codeword j of every
    * subspace is the matching slice of row j·⌊n/k⌋ (stride ≥ 1). */
  def stridedInit(rows: Array[Array[Double]], k: Int, m: Int): Books = {
    val stride = math.max(1, rows.length / k)
    split(Array.tabulate(k)(j => rows(j * stride)), m)
  }

  /** Row j's m slices become codeword j of each subspace (copies). */
  def split(rows: Array[Array[Double]], m: Int): Books = {
    val dsub = rows(0).length / m
    Array.tabulate(m, rows.length)((mi, j) => rows(j).slice(mi * dsub, (mi + 1) * dsub))
  }

  /** `k` (clamped to [1, n]) codewords in each of `m` subspaces of
    * `dsub`, fitted to the sample by whichever loop its size calls for;
    * the sample is released afterwards. */
  def train(ts: Centroids.TrainSample, k: Int, m: Int, dsub: Int, metric: Metric,
      maxIter: Int): Books = {
    require(m == 1 || metric == Metric.L2, s"subspace k-means is L2 only, got ${metric.name}")
    val kk = math.max(1, math.min(k.toLong, ts.n).toInt)
    try {
      if (ts.n * m * dsub <= Centroids.LocalTrainBudget)
        local(ts.localData, stridedInit(ts.localData, kk, m), metric, maxIter)
      else distributed(ts.data, split(ts.stridedInit(kk), m), metric, maxIter)
    } finally ts.unpersist()
  }

  /** The driver-local loop over the collected sample (`metric` as
    * [[train]] allows it). */
  def local(data: Array[Array[Double]], init: Books, metric: Metric, maxIter: Int): Books = {
    val m = init.length
    val k = init(0).length
    val dsub = init(0)(0).length
    val codes = new Array[Int](data.length * m)
    iterate(init, maxIter) { books =>
      DriverPar.foreach(data.length) { r =>
        var mi = 0
        while (mi < m) { codes(r * m + mi) = nearest(data(r), mi * dsub, books(mi), metric); mi += 1 }
      }
      val acc = zero(m, k, dsub)
      var r = 0
      while (r < data.length) {
        var mi = 0
        while (mi < m) { acc.add(data(r), mi, codes(r * m + mi)); mi += 1 }
        r += 1
      }
      acc
    }
  }

  /** The treeAggregate loop over the cached sample (`metric` as
    * [[train]] allows it). */
  def distributed(data: RDD[Array[Double]], init: Books, metric: Metric, maxIter: Int): Books = {
    val m = init.length
    val k = init(0).length
    val dsub = init(0)(0).length
    iterate(init, maxIter) { books =>
      val bc = data.sparkContext.broadcast(books)
      val acc = data.treeAggregate(zero(m, k, dsub))(
        seqOp = (acc, v) => {
          val b = bc.value
          var mi = 0
          while (mi < m) { acc.add(v, mi, nearest(v, mi * dsub, b(mi), metric)); mi += 1 }
          acc
        },
        combOp = (a, b) => a.merge(b))
      bc.destroy()
      acc
    }
  }

  /** Up to `maxIter` passes of `assign` (the current books → their cells'
    * sums and counts), each followed by the mean update; stops early
    * once no component moves by more than 1e-12. */
  private def iterate(init: Books, maxIter: Int)(assign: Books => Acc): Books = {
    var books = init
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val acc = assign(books)
      var anyMoved = false
      val next = Array.tabulate(books.length, books(0).length) { (mi, j) =>
        val count = acc.counts(mi)(j)
        if (count > 0) {
          val nv = acc.sums(mi)(j).map(_ / count)
          val old = books(mi)(j)
          var i = 0
          while (i < nv.length && !anyMoved) {
            if (math.abs(nv(i) - old(i)) > 1e-12) anyMoved = true
            i += 1
          }
          nv
        } else books(mi)(j)
      }
      moved = anyMoved
      books = next
      iter += 1
    }
    books
  }
}

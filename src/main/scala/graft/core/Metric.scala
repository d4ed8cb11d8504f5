package graft.core

import org.apache.spark.sql.Column
import graft.functions.VectorFunctions._

/** The reference's metric enum `"l2" | "cosine" | "dot"`
  * (pkg/metric/metric.go:12-16) as a sealed ADT. Each metric provides
  *  - `distance`: the user-facing distance expression;
  *  - `rankKey`: a monotone-equivalent cheaper comparator used for top-k
  *    ranking (sqrt deferred, SURVEY.md §4), with its scalar forms: one
  *    row against a query ([[rankKeyScalar]]) and many rows of a column
  *    pack at once ([[rankKeys]]), all bit-identical to the column
  *    expression;
  *  - `walkKeyScalar`: the reassociated key of the HNSW walks.
  *
  * Adding a metric = adding one case here — the reference's `Metric`
  * interface extension point (metric.go:19-22, SURVEY.md §2.10).
  */
sealed trait Metric extends Serializable {
  def name: String
  def distance(a: Column, b: Column): Column
  /** Monotone in `distance`; safe to rank/threshold-compare by. */
  def rankKey(a: Column, b: Column): Column = distance(a, b)
  /** Recover the reported distance from the rank key. */
  def finishRank(rk: Column): Column = rk
  /** Scalar form of [[rankKey]] for blocked (mapPartitions) kernels —
    * must match the column expression bit-for-bit (same fold order). */
  def rankKeyScalar(a: Array[Double], b: Array[Double]): Double
  /** [[rankKeyScalar]] against a row of `dim` components at `off` in a
    * row-major array (the compiled-graph layout). Identical fold order to
    * the two-array form; the oracle of [[rankKeys]]. */
  def rankKeyScalar(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double

  /** The column fold: the rank keys of rows [from, until) of a column
    * pack — `cols(i)(r)` is row r's component i, `cols.length` the dim —
    * into `keys(at + r - from)`. Each row's key goes through the same IEEE
    * operations, in the same order, as [[rankKeyScalar]]`(q, data, off,
    * dim)` over that row laid out row-major, so every key is
    * bit-identical. The fold runs down one component of many rows at a
    * time: each row keeps its own summation order, the rows' chains are
    * independent, and the JIT vectorizes across them (a row fold is one
    * serial chain of adds). Rows go in tiles of [[Metric.FoldTile]], so a
    * tile's accumulators stay in L1 while the columns stream past. */
  final def rankKeys(q: Array[Double], cols: Array[Array[Double]], from: Int, until: Int,
      keys: Array[Double], at: Int): Unit = {
    var lo = from
    while (lo < until) {
      val hi = math.min(until, lo + Metric.FoldTile)
      foldTile(q, cols, lo, hi, keys, at + lo - from)
      lo = hi
    }
  }

  /** [[rankKeys]] of one tile, rows [lo, hi), into `keys(at …)`. */
  protected def foldTile(q: Array[Double], cols: Array[Array[Double]], lo: Int, hi: Int,
      keys: Array[Double], at: Int): Unit

  /** Scalar form of [[finishRank]] for driver-merged serving. */
  def finishRankScalar(rk: Double): Double = rk

  /** Walk-key variant of [[rankKeyScalar]]: the same value up to FP
    * reassociation — 4-way unrolled accumulators, because the canonical
    * sequential accumulation chain is add-LATENCY-bound (~1 element per
    * 4 cycles; a 128-dim eval can't go under ~130 ns no matter the
    * ALU width). Used ONLY inside HNSW graph walks, where keys are
    * compared against each other and every surviving candidate's
    * reported distance passes a rounding (round-4) or tolerance (1e-6 /
    * 1e-9) gate — never in a bit-hashed oracle arithmetic path. All
    * HNSW structures (build and search, local and distributed) use this
    * form consistently, so they remain mutually bit-identical. */
  def walkKeyScalar(a: Array[Double], b: Array[Double]): Double = rankKeyScalar(a, b)
  /** Offset form of [[walkKeyScalar]] (the compiled-graph layout). */
  def walkKeyScalar(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double =
    rankKeyScalar(q, data, off, dim)
}

object Metric {
  /** Rows per tile of the column fold ([[Metric.rankKeys]]): a tile's
    * accumulators (8 KB) stay in L1 beside the streamed columns. Tiles of
    * 128 to 1,024 rows folded 64 dims at 0.25–0.36 ns per element on
    * blocks of 5,000 to 125,000 rows, 1,024 the fastest; one untiled
    * pass read 0.32–0.47. */
  val FoldTile = 1024

  /** Cosine's second accumulator per tile row, one per thread. */
  private val cosineDots = ThreadLocal.withInitial[Array[Double]](() => new Array[Double](FoldTile))

  private def dotS(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def dotOff(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double = {
    val n = math.min(q.length, dim)
    var acc = 0.0; var i = 0
    while (i < n) { acc += q(i) * data(off + i); i += 1 }
    acc
  }

  // ---- 4-accumulator reassociated kernels (walkKeyScalar backing) ----

  private def dotSFast(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
    var i = 0
    val lim = n - 3
    while (i < lim) {
      a0 += a(i) * b(i); a1 += a(i + 1) * b(i + 1)
      a2 += a(i + 2) * b(i + 2); a3 += a(i + 3) * b(i + 3)
      i += 4
    }
    var acc = (a0 + a1) + (a2 + a3)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def dotOffFast(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double = {
    val n = math.min(q.length, dim)
    var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
    var i = 0
    val lim = n - 3
    while (i < lim) {
      a0 += q(i) * data(off + i); a1 += q(i + 1) * data(off + i + 1)
      a2 += q(i + 2) * data(off + i + 2); a3 += q(i + 3) * data(off + i + 3)
      i += 4
    }
    var acc = (a0 + a1) + (a2 + a3)
    while (i < n) { acc += q(i) * data(off + i); i += 1 }
    acc
  }

  case object L2 extends Metric {
    val name = "l2"
    def distance(a: Column, b: Column): Column = l2(a, b)
    override def rankKey(a: Column, b: Column): Column = l2Sq(a, b)
    override def finishRank(rk: Column): Column =
      org.apache.spark.sql.functions.sqrt(rk)
    def rankKeyScalar(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    def rankKeyScalar(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double = {
      val n = math.min(q.length, dim)
      var acc = 0.0; var i = 0
      while (i < n) { val t = q(i) - data(off + i); acc += t * t; i += 1 }
      acc
    }
    protected def foldTile(q: Array[Double], cols: Array[Array[Double]], lo: Int, hi: Int,
        keys: Array[Double], at: Int): Unit = {
      java.util.Arrays.fill(keys, at, at + hi - lo, 0.0)
      val shift = at - lo
      val n = math.min(q.length, cols.length)
      var i = 0
      while (i < n) {
        val qi = q(i)
        val c = cols(i)
        var r = lo
        while (r < hi) { val t = qi - c(r); keys(r + shift) += t * t; r += 1 }
        i += 1
      }
    }
    override def finishRankScalar(rk: Double): Double = math.sqrt(rk)
    override def walkKeyScalar(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var i = 0
      val lim = n - 3
      while (i < lim) {
        val t0 = a(i) - b(i); val t1 = a(i + 1) - b(i + 1)
        val t2 = a(i + 2) - b(i + 2); val t3 = a(i + 3) - b(i + 3)
        a0 += t0 * t0; a1 += t1 * t1; a2 += t2 * t2; a3 += t3 * t3
        i += 4
      }
      var acc = (a0 + a1) + (a2 + a3)
      while (i < n) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    override def walkKeyScalar(q: Array[Double], data: Array[Double], off: Int,
        dim: Int): Double = {
      val n = math.min(q.length, dim)
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var i = 0
      val lim = n - 3
      while (i < lim) {
        val t0 = q(i) - data(off + i); val t1 = q(i + 1) - data(off + i + 1)
        val t2 = q(i + 2) - data(off + i + 2); val t3 = q(i + 3) - data(off + i + 3)
        a0 += t0 * t0; a1 += t1 * t1; a2 += t2 * t2; a3 += t3 * t3
        i += 4
      }
      var acc = (a0 + a1) + (a2 + a3)
      while (i < n) { val t = q(i) - data(off + i); acc += t * t; i += 1 }
      acc
    }
  }
  case object Cosine extends Metric {
    val name = "cosine"
    def distance(a: Column, b: Column): Column = cosineDistance(a, b)
    def rankKeyScalar(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(dotS(a, a))
      val nb = math.sqrt(dotS(b, b))
      if (na == 0.0 || nb == 0.0) 1.0
      else 1.0 - math.min(1.0, math.max(-1.0, dotS(a, b) / (na * nb)))
    }
    def rankKeyScalar(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double = {
      var nb2 = 0.0
      var i = 0
      while (i < dim) { val x = data(off + i); nb2 += x * x; i += 1 }
      val na = math.sqrt(dotS(q, q))
      val nb = math.sqrt(nb2)
      if (na == 0.0 || nb == 0.0) 1.0
      else 1.0 - math.min(1.0, math.max(-1.0, dotOff(q, data, off, dim) / (na * nb)))
    }
    /** Two accumulators per row: ‖row‖² over every component into `keys`,
      * the dot product with `q` into per-thread scratch; then the row
      * form's closing steps. */
    protected def foldTile(q: Array[Double], cols: Array[Array[Double]], lo: Int, hi: Int,
        keys: Array[Double], at: Int): Unit = {
      val m = hi - lo
      java.util.Arrays.fill(keys, at, at + m, 0.0)
      val dots = cosineDots.get()
      java.util.Arrays.fill(dots, 0, m, 0.0)
      val shift = at - lo
      val n = math.min(q.length, cols.length)
      var i = 0
      while (i < cols.length) {
        val c = cols(i)
        var r = lo
        if (i < n) {
          val qi = q(i)
          while (r < hi) {
            val x = c(r)
            keys(r + shift) += x * x
            dots(r - lo) += qi * x
            r += 1
          }
        } else while (r < hi) { val x = c(r); keys(r + shift) += x * x; r += 1 }
        i += 1
      }
      val na = math.sqrt(dotS(q, q))
      var j = 0
      while (j < m) {
        val nb = math.sqrt(keys(at + j))
        keys(at + j) =
          if (na == 0.0 || nb == 0.0) 1.0
          else 1.0 - math.min(1.0, math.max(-1.0, dots(j) / (na * nb)))
        j += 1
      }
    }
    override def walkKeyScalar(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(dotSFast(a, a))
      val nb = math.sqrt(dotSFast(b, b))
      if (na == 0.0 || nb == 0.0) 1.0
      else 1.0 - math.min(1.0, math.max(-1.0, dotSFast(a, b) / (na * nb)))
    }
    override def walkKeyScalar(q: Array[Double], data: Array[Double], off: Int,
        dim: Int): Double = {
      var b0 = 0.0; var b1 = 0.0; var b2 = 0.0; var b3 = 0.0
      var i = 0
      val lim = dim - 3
      while (i < lim) {
        val x0 = data(off + i); val x1 = data(off + i + 1)
        val x2 = data(off + i + 2); val x3 = data(off + i + 3)
        b0 += x0 * x0; b1 += x1 * x1; b2 += x2 * x2; b3 += x3 * x3
        i += 4
      }
      var nb2 = (b0 + b1) + (b2 + b3)
      while (i < dim) { val x = data(off + i); nb2 += x * x; i += 1 }
      val na = math.sqrt(dotSFast(q, q))
      val nb = math.sqrt(nb2)
      if (na == 0.0 || nb == 0.0) 1.0
      else 1.0 - math.min(1.0, math.max(-1.0, dotOffFast(q, data, off, dim) / (na * nb)))
    }
  }
  case object Dot extends Metric {
    val name = "dot"
    def distance(a: Column, b: Column): Column = innerProductDistance(a, b)
    def rankKeyScalar(a: Array[Double], b: Array[Double]): Double = -dotS(a, b)
    def rankKeyScalar(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double =
      -dotOff(q, data, off, dim)
    protected def foldTile(q: Array[Double], cols: Array[Array[Double]], lo: Int, hi: Int,
        keys: Array[Double], at: Int): Unit = {
      java.util.Arrays.fill(keys, at, at + hi - lo, 0.0)
      val shift = at - lo
      val n = math.min(q.length, cols.length)
      var i = 0
      while (i < n) {
        val qi = q(i)
        val c = cols(i)
        var r = lo
        while (r < hi) { keys(r + shift) += qi * c(r); r += 1 }
        i += 1
      }
      var j = at
      while (j < at + hi - lo) { keys(j) = -keys(j); j += 1 }
    }
    override def walkKeyScalar(a: Array[Double], b: Array[Double]): Double =
      -dotSFast(a, b)
    override def walkKeyScalar(q: Array[Double], data: Array[Double], off: Int,
        dim: Int): Double = -dotOffFast(q, data, off, dim)
  }
  /** Manhattan/L1 — the first metric extension on the reference roadmap
    * (docs/roadmap.md:89, never shipped there); it drops into the ADT
    * exactly as metric.go:19-22's interface intends. The roadmap's other
    * two (Hamming, Jaccard) are set/bit-domain measures and already
    * exist where they belong — Hamming over SimHash fingerprints
    * (simhash_near_pairs) and token-set Jaccard in the near-dup verify
    * (TextFunctions.jaccard) — not over float vectors. */
  case object Manhattan extends Metric {
    val name = "manhattan"
    def distance(a: Column, b: Column): Column = l1(a, b)
    def rankKeyScalar(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += math.abs(a(i) - b(i)); i += 1 }
      acc
    }
    def rankKeyScalar(q: Array[Double], data: Array[Double], off: Int, dim: Int): Double = {
      val n = math.min(q.length, dim)
      var acc = 0.0; var i = 0
      while (i < n) { acc += math.abs(q(i) - data(off + i)); i += 1 }
      acc
    }
    protected def foldTile(q: Array[Double], cols: Array[Array[Double]], lo: Int, hi: Int,
        keys: Array[Double], at: Int): Unit = {
      java.util.Arrays.fill(keys, at, at + hi - lo, 0.0)
      val shift = at - lo
      val n = math.min(q.length, cols.length)
      var i = 0
      while (i < n) {
        val qi = q(i)
        val c = cols(i)
        var r = lo
        while (r < hi) { keys(r + shift) += math.abs(qi - c(r)); r += 1 }
        i += 1
      }
    }
    override def walkKeyScalar(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var i = 0
      val lim = n - 3
      while (i < lim) {
        a0 += math.abs(a(i) - b(i)); a1 += math.abs(a(i + 1) - b(i + 1))
        a2 += math.abs(a(i + 2) - b(i + 2)); a3 += math.abs(a(i + 3) - b(i + 3))
        i += 4
      }
      var acc = (a0 + a1) + (a2 + a3)
      while (i < n) { acc += math.abs(a(i) - b(i)); i += 1 }
      acc
    }
    override def walkKeyScalar(q: Array[Double], data: Array[Double], off: Int,
        dim: Int): Double = {
      val n = math.min(q.length, dim)
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var i = 0
      val lim = n - 3
      while (i < lim) {
        a0 += math.abs(q(i) - data(off + i)); a1 += math.abs(q(i + 1) - data(off + i + 1))
        a2 += math.abs(q(i + 2) - data(off + i + 2)); a3 += math.abs(q(i + 3) - data(off + i + 3))
        i += 4
      }
      var acc = (a0 + a1) + (a2 + a3)
      while (i < n) { acc += math.abs(q(i) - data(off + i)); i += 1 }
      acc
    }
  }

  val all: Seq[Metric] = Seq(L2, Cosine, Dot, Manhattan)

  /** Factory semantics of metric.go:25-36 — unknown names error. */
  def apply(name: String): Metric =
    all.find(_.name == name.toLowerCase).getOrElse {
      throw new IllegalArgumentException(
        s"unknown metric '$name' (expected one of ${all.map(_.name).mkString(", ")})")
    }
}

package graft.query

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index.BoundedTopK

/** The column fold ([[Metric.rankKeys]]) against its oracle, the row
  * fold [[Metric.rankKeyScalar]]`(q, data, off, dim)`: every key
  * bit-identical for every metric, dim and range shape, and the grouped
  * vector scan ([[PackedKind.scanVectors]]) giving the oracle's heap on
  * both sides of its whole-block break-even. */
class ColumnFoldSpec extends AnyFunSuite {

  private val rng = new Random(20261020L)

  /** `n` rows of `dim` Gaussian components, with rows the fold must not
    * treat differently: zeros, signed zeros, subnormals, a NaN, ±∞. */
  private def rows(n: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(n) { r =>
      r % 97 match {
        case 5 => Array.fill(dim)(0.0)
        case 11 => Array.fill(dim)(-0.0)
        case 17 => Array.fill(dim)(4.9e-324)
        case 23 => Array.tabulate(dim)(i => if (i == dim / 2) Double.NaN else 1.0)
        case 29 => Array.tabulate(dim)(i => if (i == 0) Double.PositiveInfinity else -1.0)
        case 31 => Array.tabulate(dim)(i => if (i == dim - 1) Double.NegativeInfinity else 0.5)
        case _ => Array.fill(dim)(rng.nextGaussian())
      }
    }

  private def columns(rs: Array[Array[Double]], dim: Int): Array[Array[Double]] =
    Array.tabulate(dim)(i => rs.map(_(i)))

  /** Equal bits, any NaN matching any NaN. */
  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  test("every metric's column fold equals the row fold bit for bit") {
    val n = 1300
    for (dim <- Seq(1, 3, 4, 64, 65)) {
      val rs = rows(n, dim)
      val data = rs.flatten
      val cols = columns(rs, dim)
      // queries of the dim, a zero query, and one component short and long
      val qs = Seq(Array.fill(dim)(rng.nextGaussian()), Array.fill(dim)(0.0),
        Array.fill(dim + 1)(rng.nextGaussian())) ++
        (if (dim > 1) Seq(Array.fill(dim - 1)(rng.nextGaussian())) else Nil)
      for (metric <- Metric.all; q <- qs; len <- Seq(0, 1, 7, 8, 9, 1250);
           from <- Seq(1, 3, 17).filter(_ + len <= n)) {
        val at = 5
        val keys = Array.fill(len + 2 * at)(-42.0)
        metric.rankKeys(q, cols, from, from + len, keys, at)
        var r = 0
        while (r < len) {
          val want = metric.rankKeyScalar(q, data, (from + r) * dim, dim)
          assert(same(keys(at + r), want),
            s"${metric.name} dim=$dim q=${q.length} from=$from len=$len row ${from + r}: " +
              s"${keys(at + r)} != $want")
          r += 1
        }
        assert((0 until at).forall(j => keys(j) == -42.0 && keys(at + len + j) == -42.0),
          s"${metric.name} dim=$dim from=$from len=$len wrote outside its range")
      }
    }
  }

  /** A grouped vector block of `sizes(t)` rows for tag t, with the row-
    * major data it was laid out from. Ids descend in row order, so an id
    * tie-break that followed the row order would show. */
  private def grouped(sizes: Seq[Int], dim: Int): (Block[Array[Array[Double]]], Array[Double]) = {
    val n = sizes.sum
    val rs = rows(n, dim)
    val tags = sizes.zipWithIndex.flatMap { case (s, t) => Seq.fill(s)(t.toLong) }.toArray
    (Block(Array.tabulate(n)(r => 1000L - r), tags, columns(rs, dim), dim), rs.flatten)
  }

  /** The oracle heap: the probed rows' row-fold keys. */
  private def oracle(metric: Metric, q: Array[Double], blk: Block[Array[Array[Double]]],
      data: Array[Double], probes: Array[Int], k: Int): BoundedTopK = {
    val heap = new BoundedTopK(k)
    blk.foreachRange(probes) { (_, from, until) =>
      (from until until).foreach(r =>
        heap.insert(blk.ids(r), metric.rankKeyScalar(q, data, r * blk.width, blk.width)))
    }
    heap
  }

  private def entries(h: BoundedTopK): Seq[(Long, Long)] =
    (0 until h.size).map(r => (h.ids(r), java.lang.Double.doubleToLongBits(h.dists(r))))

  test("whole-block and range-by-range folds give the oracle's heap at the break-even ±1 row") {
    val n = 200
    val at = math.ceil(n * PackedKind.WholeBlockShare).toInt
    // tags 0 and 1 hold at − 1 rows between them, tags 2 and 3 one row
    // each, and tag 4 the rest: probing {0, 1}, {0, 1, 2} and
    // {0, 1, 2, 3} reads at − 1, at and at + 1 rows
    val sizes = Seq((at - 1) / 2, at - 1 - (at - 1) / 2, 1, 1, n - at - 1)
    val probeSets = Seq(Array(1, 0), Array(2, 0, 1), Array(3, 1, 2, 0))
    assert(probeSets.map(_.map(sizes).sum) == Seq(at - 1, at, at + 1))
    assert(at - 1 < n * PackedKind.WholeBlockShare && at >= n * PackedKind.WholeBlockShare)
    for (dim <- Seq(1, 3, 64); metric <- Metric.all) {
      val (blk, data) = grouped(sizes, dim)
      val q = Array.fill(dim)(rng.nextGaussian())
      for (probes <- probeSets; k <- Seq(1, 10, at + 5)) {
        val heap = new BoundedTopK(k)
        PackedKind.scanVectors(metric, q, blk, blk.ranges(probes), heap)
        assert(entries(heap) == entries(oracle(metric, q, blk, data, probes, k)),
          s"${metric.name} dim=$dim probed=${probes.map(sizes).sum} k=$k")
      }
    }
  }

  test("a tie at the k-th key across two ranges keeps the lower id on both paths") {
    val dim = 8
    val n = 100
    val at = math.ceil(n * PackedKind.WholeBlockShare).toInt
    for (metric <- Metric.all; probed <- Seq(at - 1, at + 1)) {
      // tag 0: 10 rows, tag 1: probed − 10 rows, tag 2: the rest
      val (blk, data) = grouped(Seq(10, probed - 10, n - probed), dim)
      val probes = Array(0, 1)
      // the same vector as the last row of tag 0 and the first of tag 1
      // (ids 991 and 990): the tie breaks to 990 whichever range comes first
      val twin = Array.fill(dim)(rng.nextGaussian())
      Seq(9, 10).foreach { r =>
        (0 until dim).foreach { i => blk.payload(i)(r) = twin(i); data(r * dim + i) = twin(i) }
      }
      val q = Array.fill(dim)(rng.nextGaussian())
      val keys = (0 until probed).map(r => metric.rankKeyScalar(q, data, r * dim, dim))
      val tie = keys(9)
      val k = keys.count(d => BoundedTopK.before(d, Long.MaxValue, tie, Long.MaxValue) && d != tie) + 1
      val heap = new BoundedTopK(k)
      PackedKind.scanVectors(metric, q, blk, blk.ranges(probes), heap)
      assert(entries(heap) == entries(oracle(metric, q, blk, data, probes, k)),
        s"${metric.name} probed=$probed")
      assert(same(heap.dists(k - 1), tie) && heap.ids(k - 1) == 990L && !heap.ids.take(k).contains(991L),
        s"${metric.name} probed=$probed: k-th entry (${heap.ids(k - 1)}, ${heap.dists(k - 1)})")
    }
  }
}

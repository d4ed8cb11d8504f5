package graft

import org.apache.spark.sql.graftx.TopNKernel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index.IvfIndex

/** The driver-side IVF probe selection ([[IvfIndex.probeSet]]) ranks
  * clusters by ascending (rank key, cluster id), keys compared by
  * `java.lang.Double.compare`: −0.0 before 0.0, NaN after +∞. It selects
  * over primitive arrays through [[TopNKernel.bottomIdx]]; these pin its
  * order against the boxed sort of (key, id) tuples it replaced. */
class ProbeSetSpec extends AnyFunSuite {

  /** The boxed reference: sort every (key, id) pair, take np. */
  private def sorted(keys: Array[Double], np: Int): Seq[Int] =
    keys.toSeq.zipWithIndex
      .sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .take(np).map(_._2)

  test("ties keep cluster id order, -0.0 ranks before 0.0, NaN last") {
    val keys = Array(1.0, 0.0, -0.0, 1.0, Double.NaN, 0.0, -0.0, Double.PositiveInfinity, 1.0)
    assert(TopNKernel.bottomIdx(keys, keys.length).toSeq == Seq(2, 6, 1, 5, 0, 3, 8, 7, 4))
    assert(TopNKernel.bottomIdx(keys, 3).toSeq == Seq(2, 6, 1))
    // a key equal to the np-th is rejected: the earlier id keeps the slot
    assert(TopNKernel.bottomIdx(keys, 5).toSeq == Seq(2, 6, 1, 5, 0))
    for (np <- 0 to keys.length + 2)
      assert(TopNKernel.bottomIdx(keys, np).toSeq == sorted(keys, np), s"np = $np")
  }

  test("np = nlist, and random keys with many ties, agree with the boxed sort") {
    val rnd = new scala.util.Random(3)
    for (round <- 0 until 200) {
      val n = 1 + rnd.nextInt(40)
      val keys = Array.fill(n)(rnd.nextInt(6) match {
        case 0 => -0.0
        case 1 => 0.0
        case 2 => Double.NaN
        case _ => rnd.nextInt(5).toDouble - 2
      })
      for (np <- Seq(1, n / 2, n, n + 1))
        assert(TopNKernel.bottomIdx(keys, np).toSeq == sorted(keys, np), s"round $round np $np")
    }
  }

  test("probeSet ranks centroids by the metric's rank key") {
    val cents = Array(Array(2.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0), Array(0.0, -1.0))
    val q = Array(0.0, 0.0)
    // L2: 4, 1, 1, 1 → the three ties in id order, then the far one
    assert(IvfIndex.probeSet(q, cents, Metric.L2, 4).toSeq == Seq(1, 2, 3, 0))
    assert(IvfIndex.probeSet(q, cents, Metric.L2, 2).toSeq == Seq(1, 2))
    // dot: every key is -0.0, so id order
    assert(IvfIndex.probeSet(q, cents, Metric.Dot, 3).toSeq == Seq(0, 1, 2))
  }
}

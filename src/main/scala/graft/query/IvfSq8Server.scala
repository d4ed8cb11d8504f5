package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{BoundedTopK, IvfIndex, IvfModel, Sq8Model}

/** Online single-query serving for the IVF×SQ8 composite kind
  * (`knn_ivfsq8_det`'s layout: coarse cluster assignment on the ORIGINAL
  * vectors, SQ8 codes as the stored payload) — VERDICT r7 #7: plain
  * [[Sq8Server]] is a flat-class exhaustive scan, cost ∝ n (149.9 ms p50
  * at 1M); routing it through the IVF probe mask bounds the per-query
  * resident scan to the probed clusters' rows, the same nprobe/n
  * fraction [[IvfServer]] enjoys, while keeping the 1 B/element resident
  * state.
  *
  * Mechanics are the [[IvfServer]] + [[Sq8Server]] composition: codes
  * pack once into cluster-SORTED [[GroupedByteBlock]]s (per-tag offset
  * table); per query the probe ranking runs on the driver (nlist rank
  * keys), the probed cluster ids ship in the task closure, and the one
  * single-stage RDD job scans each probed cluster as a CONTIGUOUS range
  * through the same four-row-pipelined table kernel the exhaustive
  * [[Sq8Server]] uses ([[graft.index.Sq8Index.tableScanRange]]) — cost ∝
  * probed mass, not n (VERDICT r11 wrong #2: the previous masked per-row
  * branch iterated all rows, never pipelined, and benched 3× the
  * exhaustive scan). Result order/tie-break matches the composite batch
  * plan exactly: ascending (rank_key, id) over dequantized candidates in
  * probed clusters — a property of the merged output, not scan order.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class IvfSq8Server(codes: DataFrame, sq8: Sq8Model, ivf: IvfModel)
    extends ServingRdd {

  require(sq8.metric == Metric.L2 && ivf.metric == Metric.L2,
    s"IvfSq8Server serves the l2 kind; got ${sq8.metric.name}/${ivf.metric.name}")

  private val cents = ivf.centroids.map(_.toArray).toArray

  private val rdd: RDD[GroupedByteBlock] =
    ServeBlocks.packBytesGrouped(codes, "cluster_id")

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { rdd.count(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val np = math.min(math.max(nprobe, 1), ivf.nlist)
    val probes = IvfIndex.probeSet(q, cents, Metric.L2, np)
    java.util.Arrays.sort(probes) // ascending for the per-block binary search
    val mins = sq8.minsArray
    val scales = sq8.scalesArray
    // per-task squared-difference table + the family-wide 4-row-pipelined
    // serving fold (Sq8Index.tableScanRange) — see LocalIvfSq8Server,
    // result-identical
    val top = BoundedTopK.merge(rdd, 1, k) { it =>
      val tab = graft.index.Sq8Index.sqTable(q, mins, scales)
      val merge = new BoundedTopK(k)
      while (it.hasNext) {
        val blk = it.next()
        var p = 0
        while (p < probes.length) {
          val t = java.util.Arrays.binarySearch(blk.tags, probes(p))
          if (t >= 0)
            graft.index.Sq8Index.tableScanRange(tab, blk.ids, blk.codes,
              blk.dim, blk.starts(t), blk.starts(t + 1), merge)
          p += 1
        }
      }
      Array(merge)
    }.head
    top.ranked(math.sqrt)
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

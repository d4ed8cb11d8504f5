package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{BoundedTopK, Sq8Model}

/** Online single-query serving over an SQ8 codes table — the seventh
  * serving kind, same engineering as [[PqServer]]: codes packed once into
  * cached primitive [[ByteBlock]]s (1 B/element — 8× less resident state
  * than the double-packed blocks a flat server would hold), ONE
  * single-stage RDD job per query, driver merge. The scan folds a
  * per-query squared-difference table ([[graft.index.Sq8Index.sqTable]]
  * — one byte load + one table add per element, no per-row allocation)
  * with four-row software pipelining
  * ([[graft.index.Sq8Index.tableScanAll]]).
  *
  * Result order/tie-break matches [[graft.index.Sq8Index.knnBlocked]]
  * exactly: ascending (rank_key, id), identical per-row arithmetic
  * (each table entry is the inline scan's per-component term, folded in
  * the same i order).
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class Sq8Server(codes: DataFrame, model: Sq8Model) extends ServingRdd {

  require(model.metric == Metric.L2,
    s"Sq8Server serves the l2 kind; got ${model.metric.name}")

  private val rdd: RDD[ByteBlock] = ServeBlocks.packBytes(codes)

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { rdd.count(); this }

  /** One query → top-k (id, distance, rank), driver-merged. The scan
    * folds the per-query [[graft.index.Sq8Index.sqTable]] (built once
    * per task, ~32k entries — bit-identical terms to the inline
    * dequantize form, so result parity with [[graft.index.Sq8Index
    * .knnBlocked]] is unchanged) instead of paying the per-component
    * affine dequantize. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val mins = model.minsArray
    val scales = model.scalesArray
    val top = BoundedTopK.merge(rdd, 1, k) { it =>
      val tab = graft.index.Sq8Index.sqTable(q, mins, scales)
      val merge = new BoundedTopK(k)
      while (it.hasNext) {
        val blk = it.next()
        graft.index.Sq8Index.tableScanAll(tab, blk.ids, blk.codes, blk.dim, merge)
      }
      Array(merge)
    }.head
    top.ranked(math.sqrt)
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

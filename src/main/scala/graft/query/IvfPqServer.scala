package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.IvfPqModel

/** Online single-query serving over an IVFPQ index — the best
  * memory-footprint kind (codes + two small models), with the same
  * in-process serving path the reference facade gives every index type
  * (pkg/search/search.go:92-112; ivfpq.go:222-284 search semantics).
  *
  * Same engineering as [[IvfServer]]: codes packed ONCE into cached
  * primitive blocks grouped by cluster id. Per query the probe ranking
  * and the per-probe residuals ship in the task closure, and each probed
  * cluster's range builds its residual ADC table only when it is longer
  * than Ksub rows ([[PackedKind.ivfPq]], the same scan
  * [[graft.index.IvfPqIndex.searchBlocked]] runs). ONE single-stage RDD
  * job per query.
  *
  * Result order/tie-break matches [[graft.index.IvfPqIndex.searchBlocked]]
  * exactly: ascending (rank_key, id); distances bit-identical.
  */
final class IvfPqServer(codes: DataFrame, model: IvfPqModel) extends ServingRdd {

  private val served = new DistributedScan(codes, PackedKind.ivfPq(model))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    served.search(q, k, nprobe)

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

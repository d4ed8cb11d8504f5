package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.IvfPqModel

/** Online single-query serving over an IVFPQ index — the best
  * memory-footprint kind (codes + two small models), with the same
  * in-process serving path the reference facade gives every index type
  * (pkg/search/search.go:92-112; ivfpq.go:222-284 search semantics).
  *
  * Same engineering as [[IvfServer]]: codes packed ONCE into cached
  * primitive blocks tagged by cluster id. A single query probes only
  * `nprobe` clusters, so all of their residual ADC tables are hoisted on
  * the driver and ship in the task closure ([[PackedKind.ivfPq]];
  * [[graft.index.IvfPqIndex.searchBlocked]] hoists adaptively per
  * partition because it carries 1000 queries). ONE single-stage RDD job
  * per query.
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

package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.IvfModel

/** Online single-query serving over an IVF index — the closest Spark gets
  * to the reference's in-process `Search(query []float32, k int)`
  * (pkg/search/search.go:104-147).
  *
  * Spark's floor for one query is a scheduled job, so the hot path is
  * exactly ONE single-stage RDD job ([[DistributedScan]]): the assigned
  * table is packed ONCE into [[ServeBlocks.ServePartitions]] cached
  * primitive blocks, rows grouped by cluster — construction cost, not
  * query cost. Per query the probe ranking runs on the driver, the probe
  * list ships in the task closure, and each task scans only the probed
  * clusters' row ranges ([[PackedKind.ivf]]).
  *
  * Result order/tie-break matches [[graft.index.IvfIndex.searchBlocked]]
  * exactly: ascending (rank_key, id).
  */
final class IvfServer(assigned: DataFrame, model: IvfModel) extends ServingRdd {

  private val served = new DistributedScan(assigned, PackedKind.ivf(model))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    served.search(q, k, nprobe)

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

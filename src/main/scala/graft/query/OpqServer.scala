package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.OpqModel

/** OPQ single-query server — the PQ scan behind a driver-side query
  * rotation (one dim² matVec per query, microseconds): the rotated
  * query's ADC table addresses the same packed code blocks [[PqServer]]
  * scans, so serving cost and layout are identical to the PQ kind
  * ([[PackedKind.opq]]). */
final class OpqServer(codes: DataFrame, model: OpqModel) extends ServingRdd {

  private val served = new DistributedScan(codes, PackedKind.opq(model))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

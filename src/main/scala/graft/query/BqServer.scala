package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.BqModel

/** Online single-query serving over a BQ packed-word table — the
  * binary-quantized kind, whose whole appeal is the cheapest
  * serving-resident state of any kind: dim/8 BYTES per row (two longs at
  * dim = 64), 32× under a float32 flat server.
  *
  * Same engineering as [[PqServer]]: the sign words pack ONCE into cached
  * primitive blocks; per query the driver packs q against the model
  * thresholds and ships the few query words in the task closure; the
  * scan is XOR + popcount per word per row ([[PackedKind.bq]]).
  *
  * Result order/tie-break matches [[graft.index.BqIndex.knnBlocked]]
  * exactly: ascending (hamming, id).
  */
final class BqServer(codes: DataFrame, model: BqModel) extends ServingRdd {

  private val served = new DistributedScan(codes, PackedKind.bq(model))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, hamming, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Long, Int)] =
    served.search(q, k, ()).map { case (id, d, r) => (id, d.toLong, r) }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

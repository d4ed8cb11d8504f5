package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.PqModel

/** Online single-query serving over a PQ codes table — completes the
  * serving matrix to every persistable kind, like the reference facade
  * serves all of its index types in-process (pkg/search/search.go:92-112).
  *
  * Same engineering as [[IvfServer]]: the codes pack ONCE into cached
  * primitive blocks (~n·M ints — the PQ kinds' whole appeal is that
  * serving-resident state is codes, not vectors); per query the M×Ksub
  * ADC table is computed on the driver and ships in the task closure
  * ([[PackedKind.pq]]); ONE single-stage RDD job per query.
  *
  * Result order/tie-break matches [[graft.index.PqIndex.knnBlocked]]
  * exactly: ascending (rank_key, id); distances bit-identical (same table,
  * same row fold [[graft.index.PqIndex.adcRow]]).
  */
final class PqServer(codes: DataFrame, model: PqModel) extends ServingRdd {

  private val served = new DistributedScan(codes, PackedKind.pq(model))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

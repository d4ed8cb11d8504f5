package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.Sq8Model

/** Online single-query serving over an SQ8 codes table — same
  * engineering as [[PqServer]]: codes packed once into cached primitive
  * blocks (1 B/element — 8× less resident state than the double-packed
  * blocks a flat server would hold), ONE single-stage RDD job per query.
  * The scan folds a squared-difference table, built per (query, block),
  * with four-row software pipelining ([[PackedKind.sq8]]).
  *
  * Result order/tie-break matches [[graft.index.Sq8Index.knnBlocked]]
  * exactly: ascending (rank_key, id), identical per-row arithmetic (each
  * table entry is the inline scan's per-component term, folded in the
  * same i order).
  */
final class Sq8Server(codes: DataFrame, model: Sq8Model) extends ServingRdd {

  require(model.metric == Metric.L2,
    s"Sq8Server serves the l2 kind; got ${model.metric.name}")

  private val served = new DistributedScan(codes, PackedKind.sq8(model))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

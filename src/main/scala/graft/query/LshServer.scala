package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric

/** Online single-query serving over a sign-LSH index — the engine's
  * hash-bucketed serving role (the reference's default in-process index
  * is HNSW, pkg/search/search.go:220-228; SURVEY.md §7 M5 maps that
  * capability to hash-bucketed search).
  *
  * Same engineering as [[IvfServer]]: packed primitive blocks grouped by
  * bucket, ONE single-stage RDD job per query, the probe buckets in the
  * task closure ([[PackedKind.lsh]]) — the query's bucket plus its
  * Hamming-1 flips, ≤ planes+1 longs, each one contiguous row range.
  * `planes` must be in [1, 31] (int bucket tags).
  *
  * Result order/tie-break matches [[graft.index.LshIndex.knnBlocked]]
  * exactly: ascending (rank_key, id).
  */
final class LshServer(indexed: DataFrame, planes: Int, metric: Metric)
    extends ServingRdd {

  private val served = new DistributedScan(indexed, PackedKind.lsh(planes, metric))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. `hamming`
    * = 0 probes only the query's own bucket; 1 adds each single-bit
    * flip (the multi-probe recall recovery, LshIndex.knnMultiProbe). */
  def search(q: Array[Double], k: Int, hamming: Int = 1): Array[(Long, Double, Int)] =
    served.search(q, k, hamming)

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{BoundedTopK, LshIndex}

/** Online single-query serving over a sign-LSH index — the engine's
  * hash-bucketed serving role (the reference's default in-process
  * index is HNSW, pkg/search/search.go:220-228; SURVEY.md §7 M5 maps
  * that capability to hash-bucketed search).
  *
  * Same engineering as [[IvfServer]]: packed primitive blocks, ONE
  * single-stage RDD job per query, sorted probe-bucket array in the task
  * closure (binary search per row — the probe set is the query's bucket
  * plus its Hamming-1 flips, ≤ planes+1 longs, scanning an expected
  * (planes+1)/2^planes of the corpus at hamming=1).
  *
  * Result order/tie-break matches [[LshIndex.knnBlocked]] exactly:
  * ascending (rank_key, id).
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class LshServer(indexed: DataFrame, planes: Int, metric: Metric)
    extends ServingRdd {

  private val m = metric
  private val rdd: RDD[ServeBlock] = ServeBlocks.pack(indexed, "bucket")

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { rdd.count(); this }

  /** One query → top-k (id, distance, rank), driver-merged. `hamming`
    * = 0 probes only the query's own bucket; 1 adds each single-bit
    * flip (the multi-probe recall recovery, LshIndex.knnMultiProbe). */
  def search(q: Array[Double], k: Int, hamming: Int = 1): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    require(hamming >= 0 && hamming <= 1, s"hamming radius must be 0 or 1, got $hamming")
    val qb = LshIndex.bucketScalar(q, planes)
    val probes: Array[Long] =
      if (hamming == 0) Array(qb)
      else (qb +: Array.tabulate(planes)(p => qb ^ (1L << p))).sorted
    val mm = m
    val top = BoundedTopK.merge(rdd, 1, k) { it =>
      val merge = new BoundedTopK(k)
      while (it.hasNext) {
        val blk = it.next()
        val dim = blk.dim
        val n = blk.ids.length
        var r = 0
        while (r < n) {
          if (java.util.Arrays.binarySearch(probes, blk.tags(r)) >= 0)
            merge.insert(blk.ids(r), mm.rankKeyScalar(q, blk.data, r * dim, dim))
          r += 1
        }
      }
      Array(merge)
    }.head
    top.ranked(m.finishRankScalar)
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

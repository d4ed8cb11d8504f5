package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.HnswIndex

/** Online single-query serving over the sharded HNSW graph — the
  * reference's actual in-process serving role (its default index is
  * HNSW, pkg/search/search.go:220-228; Search at hnsw.go:141-186).
  *
  * The graph kind ([[GraphKind.hnsw]]) over [[DistributedScan]], the
  * same engineering as [[IvfServer]]/[[LshServer]]: ONE single-stage RDD
  * job per query, driver-side merge. The cache here is the per-shard
  * [[graft.index.CompiledHnsw]] graphs themselves, compiled once on the
  * executors (CSR-packed: flat vectors, int adjacency, per-thread walk
  * scratch) and coalesced to [[ServeBlocks.ServePartitions]] tasks so
  * scheduling overhead stays out of the tail. Per query each task runs
  * the greedy-descent + ef-search on its resident graphs — O(ef ·
  * degree) work per shard, not a corpus scan.
  *
  * Result order/tie-break matches [[HnswIndex.knnBlocked]] exactly:
  * ascending (rank_key, id). `numShards` > 0 skips the `max(shard)`
  * discovery job — pass it when the build config is known (builder,
  * persisted num_shards metadata).
  */
final class HnswServer(graph: DataFrame, metric: Metric, numShards: Int = -1)
    extends ServingRdd {

  private val served = new DistributedScan(graph, GraphKind.hnsw(metric, numShards))

  /** Materialize the shard graphs (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** Batch kNN over the RESIDENT graphs ([[DistributedScan.searchBatch]])
    * — result-identical to [[HnswIndex.knnBlocked]] without its per-call
    * re-parse of every node row into a graph: the moral equivalent of
    * the reference searching its in-memory graph (hnsw.go:189-200
    * BatchSearch). The walk job runs when this is called. */
  def searchBatch(queries: DataFrame, k: Int,
      efSearch: Int = HnswIndex.EfSearch): DataFrame =
    served.searchBatch(queries, k, efSearch)

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[(Long, Double, Int)] =
    served.search(q, k, efSearch)

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

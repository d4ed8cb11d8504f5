package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Metric
import graft.index.{BoundedTopK, CompiledHnsw, HnswIndex}

/** Online single-query serving over the sharded HNSW graph — the
  * reference's actual in-process serving role (its default index is
  * HNSW, pkg/search/search.go:220-228; Search at hnsw.go:141-186).
  *
  * Same engineering as [[IvfServer]]/[[LshServer]]: ONE single-stage RDD
  * job per query, driver-side merge. The cache here is the per-shard
  * [[graft.index.CompiledHnsw]] graphs themselves, materialized once on
  * the executors (CSR-packed: flat vectors, int adjacency, per-thread
  * walk scratch) and coalesced to [[ServeBlocks.ServePartitions]]
  * tasks so scheduling overhead stays out of the tail. Per query each
  * task runs the greedy-descent + ef-search on its resident graphs —
  * O(ef · degree) work per shard, not a corpus scan.
  *
  * Result order/tie-break matches [[HnswIndex.knnBlocked]] exactly:
  * ascending (rank_key, id).
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class HnswServer(graph: DataFrame, metric: Metric, numShards: Int = -1)
    extends ServingRdd {

  private val m = metric

  private val rdd: RDD[CompiledHnsw] = {
    val met = metric
    // `numShards` > 0 skips the max(shard) discovery job — pass it when
    // the build config is known (builder, persisted num_shards metadata)
    val nShards =
      if (numShards > 0) numShards
      else graph.agg(org.apache.spark.sql.functions.max(col("shard")))
        .head.getInt(0) + 1
    HnswIndex.shardGrouped(graph, nShards) // whole shards via Tungsten range shuffle
      .rdd
      .coalesce(ServeBlocks.ServePartitions, shuffle = false)
      .mapPartitions { it =>
        val byShard = new scala.collection.mutable.HashMap[
          Int, scala.collection.mutable.ArrayBuffer[(Long, Seq[Double], Int, Seq[Seq[Long]])]]
        it.foreach { case (s, id, v, l, e) =>
          byShard.getOrElseUpdate(s, new scala.collection.mutable.ArrayBuffer) += ((id, v, l, e))
        }
        byShard.valuesIterator.map(rows => CompiledHnsw.fromTuples(rows, met))
      }
      .cache()
      // lineage truncation (the ServeBlocks discipline): the graph
      // frame's plan would otherwise re-serialize into every per-query
      // task binary
      .localCheckpoint()
  }

  /** The graphs' vector dim (-1 when every shard is empty) — the query
    * length [[PackedKind.requireQueries]] enforces. Its job materializes
    * the cached graphs. */
  private lazy val dim: Int =
    rdd.map(g => if (g.n > 0) g.dim else -1).fold(-1)(math.max)

  /** Materialize the shard graphs (call once before timing queries). */
  def warm(): this.type = { dim; this }

  /** Batch kNN over the RESIDENT graphs — result-identical to
    * [[HnswIndex.knnBlocked]] (same walks, same [[BoundedTopK.merge]])
    * but without its per-job cost of re-parsing every node row back
    * into a graph: one job, graphs already in executor memory. This is
    * the warm-index batch path, the moral equivalent of the reference
    * searching its in-memory graph (hnsw.go:189-200 BatchSearch). The
    * partitions' heaps merge on the driver and the result is a local
    * relation, so the walk job runs when this is called; an operator
    * applied to the result (projection, filter, join) runs a job of its
    * own. */
  def searchBatch(queries: DataFrame, k: Int,
      efSearch: Int = HnswIndex.EfSearch): DataFrame = {
    val spark = graph.sparkSession
    val (qids, qvecs) = BoundedTopK.collectQueries(queries)
    PackedKind.requireQueries(qvecs, k, dim)
    val bc = spark.sparkContext.broadcast(qvecs)
    val ef = math.max(efSearch, k)
    val heaps = BoundedTopK.merge(rdd, qids.length, k) { it =>
      val qs = bc.value
      // queries fan out WITHIN the task: serving partitions are sized
      // for the single-query dispatch tail (ServeBlocks.ServePartitions
      // = 8), which would cap a batch job at 8 cores. Each query owns
      // heaps(qi); graphs are read-only and walk scratch is per-thread,
      // so the inner fan-out is race-free, and the bounded (rank_key,
      // id) merge is insert-order-invariant — result-identical to the
      // sequential loop. The fan-out width is bounded per task by
      // TaskFanout (spark.graft.serve.batchThreadsPerTask / task cores),
      // NOT the JVM common pool — safe on multi-slot executors.
      val graphs = it.toArray
      val heaps = Array.fill(qs.length)(new BoundedTopK(k))
      TaskFanout.foreach(qs.length) { qi =>
        var g = 0
        while (g < graphs.length) {
          graphs(g).knnInto(qs(qi), k, ef, heaps(qi))
          g += 1
        }
      }
      heaps
    }
    BoundedTopK.toFrame(graph, qids, heaps, m.finishRankScalar)
  }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[(Long, Double, Int)] = {
    PackedKind.requireQueries(Array(q), k, dim)
    val ef = math.max(efSearch, k)
    val top = BoundedTopK.merge(rdd, 1, k) { it =>
      val merge = new BoundedTopK(k)
      it.foreach(g => g.knnInto(q, k, ef, merge))
      Array(merge)
    }.head
    top.ranked(m.finishRankScalar)
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{BoundedTopK, CompiledHnsw, HnswIndex, RoutedHnswIndex, RoutedHnswModel}

/** Distributed single-query serving over the ROUTED sharded HNSW graph —
  * the piece a cluster user actually deploys at 100 TB (VERDICT r8 #4):
  * the corpus-resident routed index answering online queries without
  * collecting anything to one heap ([[LocalRoutedHnswServer]] is the
  * one-heap sibling and is capped by driver memory).
  *
  * Composition of the two proven serving disciplines:
  *  - [[HnswServer]]'s resident cache — per-shard [[graft.index.CompiledHnsw]] graphs
  *    materialized once on the executors, coalesced to
  *    [[ServeBlocks.ServePartitions]] tasks — except here each partition
  *    keeps its graphs KEYED by physical shard id;
  *  - [[IvfServer]]'s probe mask — per query the region ranking runs on
  *    the driver (nlist rank keys against the model's centroid literals,
  *    same [[RoutedHnswIndex.probeShards]] order as the batch path), and
  *    a boolean shard mask ships in the task closure. A task walks ONLY
  *    its resident graphs whose shard the query probed: per-query work is
  *    O(R · log shard_size) graph walks regardless of corpus size, the
  *    property that makes the routed kind the 100 TB serving shape
  *    (reference serving shape: pkg/search/search.go:92-112, over the
  *    single-node graph at pkg/index/hnsw/hnsw.go:141-186).
  *
  * Works unchanged over replicated builds
  * ([[RoutedHnswIndex.buildReplicated]]): one id can then surface from
  * two probed shards, so both merge levels insert distinct-by-id.
  * Result order/tie-break matches [[RoutedHnswIndex.knn]] exactly:
  * ascending (rank_key, id).
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class RoutedHnswServer(graph: DataFrame, model: RoutedHnswModel)
    extends ServingRdd {

  private val metric: Metric = model.metric

  // (shard id, resident graph) pairs: the mask lookup needs the id, so —
  // unlike HnswServer — shard identity survives into the cached RDD
  private val rdd: RDD[(Int, CompiledHnsw)] = {
    val met = metric
    HnswIndex.shardGrouped(graph, model.numShards)
      .rdd
      .coalesce(ServeBlocks.ServePartitions, shuffle = false)
      .mapPartitions { it =>
        val byShard = new scala.collection.mutable.HashMap[
          Int, scala.collection.mutable.ArrayBuffer[(Long, Seq[Double], Int, Seq[Seq[Long]])]]
        it.foreach { case (s, id, v, l, e) =>
          byShard.getOrElseUpdate(s, new scala.collection.mutable.ArrayBuffer) += ((id, v, l, e))
        }
        byShard.iterator.map { case (s, rows) =>
          (s, CompiledHnsw.fromTuples(rows, met))
        }
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
    rdd.map { case (_, g) => if (g.n > 0) g.dim else -1 }.fold(-1)(math.max)

  /** Materialize the shard graphs (call once before timing queries). */
  def warm(): this.type = { dim; this }

  /** One query → top-k (id, distance, rank): region probe on the driver,
    * one single-stage job walking only the probed shards' resident
    * graphs, then the distinct [[BoundedTopK.merge]] of the partitions'
    * heaps on the driver. */
  def search(q: Array[Double], k: Int, probeRegions: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[(Long, Double, Int)] = {
    PackedKind.requireQueries(Array(q), k, dim)
    val mask = new Array[Boolean](model.numShards)
    RoutedHnswIndex.probeShards(q, model, probeRegions).foreach(mask(_) = true)
    val ef = math.max(efSearch, k)
    val top = BoundedTopK.merge(rdd, 1, k, distinct = true) { it =>
      val merge = new BoundedTopK(k)
      it.foreach { case (s, g) =>
        if (mask(s)) g.knnInto(q, k, ef, merge, distinct = true)
      }
      Array(merge)
    }.head
    top.ranked(metric.finishRankScalar)
  }

  /** Batch kNN over the resident routed graphs — [[RoutedHnswIndex.knn]]
    * without its per-job graph re-parse: the query batch broadcasts with
    * the same shard→queries inverted index, each partition walks its
    * resident graphs for exactly the queries that probed them. Result-
    * identical to the cold batch path (same probes, walks and distinct
    * [[BoundedTopK.merge]]): one single-stage job of graph walks, run
    * when this is called, and a local relation as the result; an
    * operator applied to the result (projection, filter, join) runs a
    * job of its own. */
  def searchBatch(queries: DataFrame, k: Int, probeRegions: Int,
      efSearch: Int = HnswIndex.EfSearch): DataFrame = {
    val spark = graph.sparkSession
    val (qids, qvecs) = BoundedTopK.collectQueries(queries)
    PackedKind.requireQueries(qvecs, k, dim)
    val probes = qvecs.map(RoutedHnswIndex.probeShards(_, model, probeRegions))
    val inv = graft.index.IvfIndex.invertedProbes(probes, model.numShards)
    val bc = spark.sparkContext.broadcast((qvecs, inv))
    val ef = math.max(efSearch, k)
    val heaps = BoundedTopK.merge(rdd, qids.length, k, distinct = true) { it =>
      val (qs, inverted) = bc.value
      // invert the shard→queries index to query→local-graphs, then fan
      // queries across the common pool within the task (serving
      // partitions are sized for the single-query tail and would cap a
      // batch at 8 cores — see HnswServer.searchBatch). Each query owns
      // heaps(qi); the distinct bounded merge is insert-order-invariant.
      // (As in HnswServer: the intra-task fan-out is bounded per task by
      // TaskFanout, not the JVM common pool — safe on multi-slot
      // executors.)
      val local = it.toArray
      val perQ = Array.fill(qs.length)(
        new scala.collection.mutable.ArrayBuffer[CompiledHnsw](4))
      local.foreach { case (s, g) =>
        val qlist = inverted(s)
        var t = 0
        while (t < qlist.length) { perQ(qlist(t)) += g; t += 1 }
      }
      val heaps = Array.fill(qs.length)(new BoundedTopK(k))
      TaskFanout.foreach(qs.length) { qi =>
        perQ(qi).foreach(g => g.knnInto(qs(qi), k, ef, heaps(qi), distinct = true))
      }
      heaps
    }
    BoundedTopK.toFrame(graph, qids, heaps, metric.finishRankScalar)
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

package graft.query

import java.util.stream.IntStream

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{BoundedTopK, BqModel, CompiledHnsw, HnswIndex, IvfModel, IvfPqModel, OpqModel, PqModel, RoutedHnswModel, Sq8Model}

/** Kind-erased in-process serving handle — what [[Searcher.localServer]]
  * returns: one query in, (id, distance, rank) out, with the facade's
  * options (nprobe/efSearch) already applied. */
trait LocalServer {
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)]
  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]]
}

/** Pairs a kind's single-query and batch entry points behind the
  * kind-erased facade handle. */
private[graft] final case class LocalServerAdapter(
    single: (Array[Double], Int) => Array[(Long, Double, Int)],
    batched: (Array[Array[Double]], Int) => Array[Array[(Long, Double, Int)]])
    extends LocalServer {
  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = single(q, k)
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    batched(qs, k)
}

/** In-process single-query serving: each `Local*Server` runs the SAME
  * packs and the SAME per-kind scan ([[ScanKind]]: a [[PackedKind]], a
  * [[GraphKind]] whose packs are compiled shard graphs, or the
  * [[PlaidKind]] whose packs are per-doc centroid sets and postings) as
  * its distributed server, over packs collected to the driver ONCE
  * ([[LocalScan]]) — zero Spark jobs per query.
  *
  * This is the reference's deployment shape: its facade serves queries
  * against heap-resident structures in-process (pkg/search/search.go —
  * no scheduler in the hot path), which is why its single-query
  * latencies are micro-to-milliseconds while every Spark job pays a
  * ~10-20 ms scheduling floor (the floorProbe rows prove the floor is
  * dispatch, not scan). The split is deliberate:
  *
  *  - `ServingRdd` servers (IvfServer, PqServer, …) are the CLUSTER
  *    path — resident state sharded across executors; the only shape
  *    that exists at 100 TB.
  *  - `Local*Server`s are the SINGLE-HEAP path for state that fits the
  *    driver (the reference's only mode): flat doubles are n·dim·8 B,
  *    SQ8 n·dim B, PQ n·M ints, BQ n·dim/8 B — at the reference's own
  *    protocol (100k × 128d) that is 102 MB worst case and the scan
  *    costs micro/milliseconds.
  *
  * Packs scan on the JVM common pool (one task per pack — a block per
  * serving partition, or a shard graph); the per-pack bounded heaps merge
  * under the same (rank_key, id) total order as the distributed merge,
  * so every Local server is result-IDENTICAL to its ServingRdd sibling
  * (spec-asserted in LocalServeSpec).
  */
private[graft] object LocalServe {

  /** Batch-throughput twin of [[scan]]: QUERIES fan across the common
    * pool and each query's walk fills one bounded heap on its worker —
    * no per-query fork fan-out, no per-pack partial arrays (at
    * in-process kernel speeds the fork overhead of a per-query 32-task
    * fan-out rivals the scans themselves). Merging every pack into one
    * heap is order-invariant, so per query the result is identical to
    * [[scan]]'s two-level merge. `walk` runs once per query for its
    * per-query precomputation (probe masks, ADC tables, packed query
    * codes) and returns the walk of that query's packs into a heap. */
  def batch[Q](qs: Array[Q], k: Int)(walk: Q => BoundedTopK => Unit): Array[BoundedTopK] = {
    val out = new Array[BoundedTopK](qs.length)
    IntStream.range(0, qs.length).parallel().forEach { qi =>
      val merge = new BoundedTopK(k)
      walk(qs(qi))(merge)
      out(qi) = merge
    }
    out
  }

  /** Parallel per-pack scan → one merged heap: each pack fills its own
    * heap, and the heaps fold with [[BoundedTopK.mergeFrom]] — the fold
    * step of the distributed [[BoundedTopK.merge]]. `distinct` dedups
    * the cross-pack merge — required when one id can live in several
    * packs (the replicated routed graph,
    * [[graft.index.RoutedHnswIndex.buildReplicated]]); within a pack an
    * id appears once, so the per-pack heaps never need it. */
  def scan[B](blocks: Array[B], k: Int, distinct: Boolean = false)(
      perBlock: (B, BoundedTopK) => Unit): BoundedTopK = {
    val heaps = new Array[BoundedTopK](blocks.length)
    IntStream.range(0, blocks.length).parallel().forEach { bi =>
      heaps(bi) = new BoundedTopK(k)
      perBlock(blocks(bi), heaps(bi))
    }
    val top = new BoundedTopK(k)
    heaps.foreach(top.mergeFrom(_, distinct))
    top
  }
}

/** In-process exhaustive scan — the reference's flat kind served the
  * reference's way ([[PackedKind.flat]]). Result-identical to
  * FlatIndex.knnBlocked's order. */
final class LocalFlatServer(vectors: DataFrame, metric: Metric) {
  private val served = new LocalScan(vectors, PackedKind.flat(metric))

  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    served.searchBatch(qs, k, ())
}

/** In-process IVF: driver probe ranking, then each probed cluster's rows
  * as one contiguous range of the cluster-grouped blocks
  * ([[PackedKind.ivf]]). Result-identical to [[IvfServer.search]]. */
final class LocalIvfServer(assigned: DataFrame, model: IvfModel) {
  private val served = new LocalScan(assigned, PackedKind.ivf(model))

  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    served.search(q, k, nprobe)

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      nprobe: Int): Array[Array[(Long, Double, Int)]] = served.searchBatch(qs, k, nprobe)
}

/** In-process sign-LSH: the query's bucket and its Hamming-1 flips, each
  * probed bucket one contiguous range of the bucket-grouped blocks
  * ([[PackedKind.lsh]]). Result-identical to [[LshServer.search]]. */
final class LocalLshServer(indexed: DataFrame, planes: Int, metric: Metric) {
  private val served = new LocalScan(indexed, PackedKind.lsh(planes, metric))

  def search(q: Array[Double], k: Int, hamming: Int = 1): Array[(Long, Double, Int)] =
    served.search(q, k, hamming)

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      hamming: Int = 1): Array[Array[(Long, Double, Int)]] = served.searchBatch(qs, k, hamming)
}

/** In-process PQ ADC: driver distance table, M int lookups per row
  * ([[PackedKind.pq]]). Result-identical to [[PqServer.search]]. */
final class LocalPqServer(codes: DataFrame, model: PqModel) {
  private val served = new LocalScan(codes, PackedKind.pq(model))

  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    served.searchBatch(qs, k, ())
}

/** In-process SQ8: a squared-difference table per (query, block), one
  * byte load + one table add per component, four rows pipelined
  * ([[PackedKind.sq8]]).
  * Result-identical to [[Sq8Server.search]]. */
final class LocalSq8Server(codes: DataFrame, model: Sq8Model) {
  require(model.metric == Metric.L2,
    s"LocalSq8Server serves the l2 kind; got ${model.metric.name}")
  private val kind = PackedKind.sq8(model)
  private val served = new LocalScan(codes, kind)

  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  /** Batch throughput: QUERY-GROUP-BLOCKED row-outer kernel — groups of
    * four queries fan across the common pool (250-way parallel at the
    * bench batch, vs the r10 row-outer form's 8 blocks); within a group
    * each row dequantizes ONCE into a register-resident value and feeds
    * four independent canonical fold chains (all loads L1: the query
    * rows + the dequant model; the code stream is sequential). Each
    * (query, row) value is EXACTLY [[search]]'s arithmetic — dequant
    * then subtract-square in i order — and bounded-top-k merges are
    * insert-order-invariant, so per query the result ≡ [[search]]
    * row-for-row. The r11 query-outer table scan benched gather-
    * throughput-bound (the 256 KB table thrashes L2 across 32 threads);
    * this shape keeps the serial-chain bound broken across QUERIES
    * instead, with no table at all. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] = {
    served.requireQueries(qs, k)
    val blocks = served.blocks
    val mins = model.minsArray
    val scales = model.scalesArray
    val nq = qs.length
    val out = new Array[Array[(Long, Double, Int)]](nq)
    val G = 8 // query-block width: dequant amortizes over G chains
    val nGroups = (nq + G - 1) / G
    java.util.stream.IntStream.range(0, nGroups).parallel().forEach { gi =>
      val q0 = gi * G
      if (nq - q0 >= G) {
        val heaps = Array.fill(G)(new BoundedTopK(k))
        var bi = 0
        while (bi < blocks.length) {
          val blk = blocks(bi)
          val dim = blk.width
          val codes = blk.payload
          val recon = new Array[Double](dim)
          val n = blk.ids.length
          var r = 0
          while (r < n) {
            val off = r * dim
            var i = 0
            while (i < dim) {
              recon(i) = mins(i) + (codes(off + i).toInt + 128).toDouble * scales(i)
              i += 1
            }
            val id = blk.ids(r)
            var j = 0
            while (j < G) {
              val q = qs(q0 + j)
              val h = heaps(j)
              // EXACT early termination: L2 terms are non-negative, so a
              // partial sum already strictly above the heap's k-th key
              // can only grow — the row would be rejected; skipping the
              // insert changes nothing. Checked every 32 elements so the
              // canonical fold (and every surviving value) is untouched.
              val bound =
                if (h.size < k) Double.PositiveInfinity else h.dists(k - 1)
              var d = 0.0
              var skip = false
              i = 0
              while (!skip && i < dim) {
                val stop = math.min(i + 32, dim)
                while (i < stop) { val t = q(i) - recon(i); d += t * t; i += 1 }
                skip = d > bound
              }
              if (!skip) h.insert(id, d)
              j += 1
            }
            r += 1
          }
          bi += 1
        }
        var j = 0
        while (j < G) {
          out(q0 + j) = heaps(j).ranked(math.sqrt)
          j += 1
        }
      } else {
        // tail group (< G queries): the single-query table scan, whose
        // per-row values are identical to the interleaved form's
        var t = q0
        while (t < nq) {
          val merge = new BoundedTopK(k)
          val scan = kind.scan(())(qs(t))
          var bi = 0
          while (bi < blocks.length) { scan(blocks(bi), merge); bi += 1 }
          out(t) = merge.ranked(math.sqrt)
          t += 1
        }
      }
    }
    out
  }
}

/** In-process OPQ: driver-side query rotation (one dim² matVec,
  * microseconds) in front of the PQ scan ([[PackedKind.opq]]) — same
  * layering as [[OpqServer]], result-identical to it. */
final class LocalOpqServer(codes: DataFrame, model: OpqModel) {
  private val served = new LocalScan(codes, PackedKind.opq(model))

  def search(q: Array[Double], k: Int): Array[(Long, Double, Int)] = served.search(q, k, ())

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Double, Int)]] =
    served.searchBatch(qs, k, ())
}

/** In-process IVFPQ: driver probe ranking and per-probe query residuals,
  * then each probed cluster's codes as one contiguous range of the
  * cluster-grouped blocks, ADC-scored with a residual table only where
  * the range outweighs building one ([[PackedKind.ivfPq]]).
  * Result-identical to [[IvfPqServer.search]]. */
final class LocalIvfPqServer(codes: DataFrame, model: IvfPqModel) {
  private val served = new LocalScan(codes, PackedKind.ivfPq(model))

  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    served.search(q, k, nprobe)

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      nprobe: Int): Array[Array[(Long, Double, Int)]] = served.searchBatch(qs, k, nprobe)
}

/** In-process IVF×SQ8 composite: codes grouped by cluster, each probed
  * cluster scanned as one contiguous range ([[PackedKind.ivfSq8]]).
  * Result-identical to [[IvfSq8Server.search]]. */
final class LocalIvfSq8Server(codes: DataFrame, sq8: Sq8Model, ivf: IvfModel) {
  require(sq8.metric == Metric.L2 && ivf.metric == Metric.L2,
    s"LocalIvfSq8Server serves the l2 kind; got ${sq8.metric.name}/${ivf.metric.name}")
  private val served = new LocalScan(codes, PackedKind.ivfSq8(sq8, ivf))

  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    served.search(q, k, nprobe)

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      nprobe: Int): Array[Array[(Long, Double, Int)]] = served.searchBatch(qs, k, nprobe)
}

/** In-process routed sharded HNSW — the engine's 100 TB ANN shape served
  * the reference's way: region probe on the driver, then ONLY the probed
  * regions' graphs walk ([[GraphKind.routed]] over [[LocalScan]]).
  * Result-identical to [[graft.index.RoutedHnswIndex.knn]] and
  * [[RoutedHnswServer]] (same probes, same walks, same distinct merge). */
final class LocalRoutedHnswServer(graph: DataFrame, model: RoutedHnswModel) {
  private val served = new LocalScan(graph, GraphKind.routed(model))

  def search(q: Array[Double], k: Int, probeRegions: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[(Long, Double, Int)] =
    served.search(q, k, (probeRegions, efSearch))

  /** Batch throughput: queries fan across the common pool, each query
    * routes and walks ONLY its probed regions' graphs into one
    * distinct-merging heap — per query O(R · log shard_size) work,
    * constant in corpus size. Per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int, probeRegions: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[Array[(Long, Double, Int)]] =
    served.searchBatch(qs, k, (probeRegions, efSearch))
}

/** In-process sharded HNSW — the reference's flagship serving shape:
  * its search IS an in-memory graph walk (pkg/index/hnsw/hnsw.go), which
  * is where its sub-ms serving rows come from. The shard graphs compile
  * ONCE and collect to the driver ([[GraphKind.hnsw]] over
  * [[LocalScan]]); per query every shard's logarithmic walk runs on the
  * common pool and merges under the same (rank_key, id) order as
  * [[HnswServer]] — result-identical. */
final class LocalHnswServer private (
    served: LocalScan[(Int, CompiledHnsw), Int, Array[Double]]) {

  def this(graph: DataFrame, metric: Metric, numShards: Int = -1) =
    this(new LocalScan(graph, GraphKind.hnsw(metric, numShards)))

  def search(q: Array[Double], k: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[(Long, Double, Int)] =
    served.search(q, k, efSearch)

  /** Batch throughput: queries fan across the common pool, each walking
    * every shard on its worker into one heap. Per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int,
      efSearch: Int = HnswIndex.EfSearch): Array[Array[(Long, Double, Int)]] =
    served.searchBatch(qs, k, efSearch)
}

object LocalHnswServer {
  /** Serve graphs already compiled in this process — the direct handoff
    * from [[graft.index.HnswIndex.buildParallelCompiled]] (build arrays
    * ARE the serving arrays; no DataFrame interchange, no re-collect). */
  private[graft] def fromCompiled(gs: Array[CompiledHnsw], metric: Metric): LocalHnswServer =
    new LocalHnswServer(new LocalScan(GraphKind.hnsw(metric, gs.length),
      gs.zipWithIndex.map(_.swap)))
}

/** In-process BQ: XOR + popcount over packed sign words — at dim/8 bytes
  * per row the whole index is megabytes; the scan is the cheapest of any
  * kind ([[PackedKind.bq]]). Result-identical to [[BqServer.search]]. */
final class LocalBqServer(codes: DataFrame, model: BqModel) {
  private val served = new LocalScan(codes, PackedKind.bq(model))

  def search(q: Array[Double], k: Int): Array[(Long, Long, Int)] =
    served.search(q, k, ()).map { case (id, d, r) => (id, d.toLong, r) }

  /** Query-parallel batch throughput; per query ≡ [[search]]. */
  def searchBatch(qs: Array[Array[Double]], k: Int): Array[Array[(Long, Long, Int)]] =
    served.searchBatch(qs, k, ()).map(_.map { case (id, d, r) => (id, d.toLong, r) })
}

package graft.index

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.query.{BlockedScan, GraphKind}

/** Sharded HNSW — the reference's default ANN index
  * (pkg/index/hnsw/hnsw.go, pkg/search/search.go:220-228) re-expressed
  * for Spark's execution model.
  *
  * A single navigable-small-world graph is a sequential, pointer-chasing
  * structure — anti-Spark as one object. The scale-correct shape is the
  * one production ANN systems use to go distributed: SHARD the corpus
  * (deterministically, by a hash of the id), build an independent HNSW
  * graph per shard inside one `mapPartitions` pass (embarrassingly
  * parallel, zero cross-shard traffic), and serve a query by fanning out
  * to every shard's graph and merging the per-shard top-k with the
  * engine-wide [[BoundedTopK]] tie-break. Each shard is sized to fit an
  * executor core's memory, so the design scales horizontally: 100 TB is
  * just more shards, not a bigger graph.
  *
  * Shard sizing (measured, not asserted — `hnsw_s{4,8,16}_*` sweep at
  * 100k×128, BENCH_LOCAL_r5 and _r5b runs agree on shape): more,
  * smaller shards build faster AND merge closer to exact (recall@10
  * 0.63 → 0.76 → 0.87 → 0.95 across 4/8/16/32 shards — each shard
  * contributes its true local top-k, so the union tightens as shards
  * grow), batch QPS peaks mid-sweep at 8 shards in both runs (1063 /
  * 943) where per-graph walk depth and fan-out cost balance, and
  * single-query serving holds 13–16 ms p50 at every point. Default to
  * ≥ 1 shard per executor core and shrink shards further when recall
  * matters more than per-query fan-out.
  *
  * Determinism (an intentional refinement over the reference, which
  * draws levels from `math/rand` — hnsw.go:283-289): the level of node
  * `id` is the reference's exact formula fed by a splitmix64 hash of the
  * id instead of the RNG stream, and every ordering (candidate heaps,
  * neighbor selection, pruning, final ranks) tie-breaks on ascending id.
  * Same input → bit-identical graph and results, across runs and
  * cluster layouts. Insertion order within a shard is ascending id.
  *
  * Graph semantics per shard mirror hnsw.go: greedy descent through
  * layers > 0 (hnsw.go:156-173), ef-bounded best-first at each build
  * layer (searchLayer, hnsw.go:343-394), distance-sorted neighbor
  * selection of M (2M at layer 0; hnsw.go:314-341), bidirectional edges
  * with pruning back to M (hnsw.go:414-431 — minus its short-list bug
  * that pads pruned edge lists with node-id 0). Level cap 16.
  */
object HnswIndex {

  /** Reference defaults (hnsw.go:45-51). */
  val M = 16
  val EfConstruction = 200
  val EfSearch = 200

  /** Version of the BUILD ARITHMETIC that shaped a persisted graph's edge
    * selections (VERDICT r11 next #5). [[add]]'s "bit-identical to
    * build(old ∪ new)" invariant holds only when the persisted graph was
    * built with the same walk-key arithmetic as the current engine:
    *   1 — canonical sequential rank-key fold (pre-r10 builds);
    *   2 — 4-accumulator reassociated [[graft.core.Metric.walkKeyScalar]]
    *       (r10+; graph-identical across the r11 kernel rewrites, which
    *       are fuzz-pinned bit-identical).
    * Persisted in the sidecar as `graph_arithmetic`; absent ⇒ 1.
    * [[graft.io.IndexIO.addToHnsw]] full-rebuilds on a mismatch instead
    * of silently producing a mixed-arithmetic graph. */
  val ArithmeticVersion = 2
  private val MaxLevel = 16

  /** Deterministic level for `id`: the reference's draw
    * `level = floor(-ln(1 - u) / ln(M))` with `u = rand.Intn(1e6)/1e6`
    * (hnsw.go:283-289) fed by splitmix64(id) instead of the RNG. */
  def levelOf(id: Long, m: Int): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    val u = (((z >>> 11) % 1000000L + 1000000L) % 1000000L).toDouble / 1000000.0
    val r = -math.log(1.0 - u) / math.log(m.toDouble)
    math.min(r.toInt, MaxLevel)
  }

  /** Shard routing: `pmod(xxhash64(id), n)` rather than `id % n` — real
    * id spaces are rarely dense (all-even ids, range-allocated blocks),
    * and a modulo route would leave shards empty while doubling others.
    * The hash is deterministic and only ever computed Column-side, so
    * build, add, and streaming maintenance can't disagree. */
  private[graft] def shardCol(numShards: Int) =
    pmod(xxhash64(col("id").cast("long")), lit(numShards.toLong)).cast("int").as("shard")

  /** Build the sharded graph from an (id, vec) frame. One row per node:
    * (shard, id, vec, level, edges) with `edges(l)` the layer-l adjacency
    * list. The one shuffle puts shard s in partition s
    * (`repartitionById`, [[onePerPartition]]) — a Tungsten (UnsafeRow)
    * exchange. (An earlier version used an RDD identity `Partitioner`,
    * which silently downgraded the shuffle to JavaSerializer object
    * streams — at 1M vectors that deserialization dwarfed the graph
    * construction itself. Range partitioning kept the columnar path, but
    * its sampled bounds put two shards in one partition and left another
    * empty, so one task built two graphs while a core idled.) Each shard
    * then builds independently inside its partition. */
  def build(vectors: DataFrame, numShards: Int, metric: Metric,
      m: Int = M, efConstruction: Int = EfConstruction): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    buildFromShardCol(
      vectors.select(shardCol(numShards), col("id").cast("long"), col("vec")),
      numShards, metric, m, efConstruction)
  }

  /** Build ONE graph with concurrent inserts on the driver — the
    * single-graph serving shape ([[graft.query.LocalHnswServer]] with
    * numShards=1), where [[build]]'s per-partition parallelism cannot
    * apply and a sequential insert pass is the whole wall-clock.
    * Emits the same (shard, id, vec, level, edges) frame as
    * `build(vectors, 1, metric)` — IO, merge, serving, and maintenance
    * layers are shared — but the build is NOT deterministic: concurrent
    * inserts see thread-interleaving-dependent graph states, so edge
    * selections (and recall in the third decimal) vary run to run; see
    * [[HnswParallelBuilder]]. The deterministic sharded [[build]] stays
    * the production path for distributed corpora; this one is for the
    * bounded single-graph shape (the whole corpus collects to the
    * driver, so the caller owns the fits-in-heap judgment — at 128-d
    * doubles, 1M rows ≈ 1 GiB packed + edges). */
  def buildParallelSingle(vectors: DataFrame, metric: Metric,
      m: Int = M, efConstruction: Int = EfConstruction,
      threads: Int = 0): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val (b, th) = runParallelBuilder(vectors, metric, m, efConstruction, threads)
    val out = b.nodeRows.map { case (id, vec, level, edges) =>
      (0, id, vec.toSeq, level, edges.map(_.toSeq).toSeq)
    }.toSeq
    // parallelize, not createDataset: a LocalRelation row-encodes all n
    // rows ON THE DRIVER in one thread — measured 5× the insert kernel
    // itself at 100k — while an RDD round-trip encodes in tasks
    spark.sparkContext.parallelize(out, math.max(2, th / 4))
      .toDF("shard", "id", "vec", "level", "edges")
  }

  /** [[buildParallelSingle]] frozen straight to the query-time CSR form
    * — no interchange frame at all. Serve with
    * [[graft.query.LocalHnswServer.fromCompiled]]. This is the
    * in-memory-to-in-memory shape the reference's build row measures
    * (its Build returns a struct its own Search walks); at 100k the
    * DataFrame round-trip of [[buildParallelSingle]] costs ~5× the
    * insert kernel itself, all of it interchange the in-process serving
    * path never reads. */
  private[graft] def buildParallelCompiled(vectors: DataFrame, metric: Metric,
      m: Int = M, efConstruction: Int = EfConstruction,
      threads: Int = 0): CompiledHnsw = {
    val (b, _) = runParallelBuilder(vectors, metric, m, efConstruction, threads)
    b.toCompiled
  }

  /** Index permutation sorted ascending by `keys(perm(i))` — a primitive
    * two-array quicksort (median-of-three, insertion sort under 16,
    * recurse-smaller-side) so the 1M-row id ordering allocates one Int
    * array instead of n boxed tuples. Keys are distinct index ids. */
  private[graft] def sortIndicesByKey(keys: Array[Long]): Array[Int] = {
    val n = keys.length
    val perm = new Array[Int](n)
    var i = 0
    while (i < n) { perm(i) = i; i += 1 }
    @inline def k(p: Int): Long = keys(perm(p))
    @inline def swap(a: Int, b: Int): Unit = {
      val t = perm(a); perm(a) = perm(b); perm(b) = t
    }
    var lo = 0
    var hi = n - 1
    // manual stack of pending ranges (recurse into the smaller side)
    val stack = new java.util.ArrayDeque[Int]()
    while (true) {
      if (hi - lo < 16) {
        var a = lo + 1
        while (a <= hi) {
          val pv = perm(a); val kv = keys(pv)
          var b = a - 1
          while (b >= lo && keys(perm(b)) > kv) { perm(b + 1) = perm(b); b -= 1 }
          perm(b + 1) = pv
          a += 1
        }
        if (stack.isEmpty) return perm
        hi = stack.pop(); lo = stack.pop()
      } else {
        val mid = lo + ((hi - lo) >>> 1)
        if (k(mid) < k(lo)) swap(mid, lo)
        if (k(hi) < k(lo)) swap(hi, lo)
        if (k(hi) < k(mid)) swap(hi, mid)
        val pivot = k(mid)
        var a = lo
        var b = hi
        while (a <= b) {
          while (k(a) < pivot) a += 1
          while (k(b) > pivot) b -= 1
          if (a <= b) { swap(a, b); a += 1; b -= 1 }
        }
        // push the larger range, iterate on the smaller
        if (b - lo >= hi - a) {
          stack.push(lo); stack.push(b); lo = a
        } else {
          stack.push(a); stack.push(hi); hi = b
        }
      }
    }
    perm // unreachable
  }

  private def runParallelBuilder(vectors: DataFrame, metric: Metric,
      m: Int, efConstruction: Int, threads: Int): (HnswParallelBuilder, Int) = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // packed parallel collect: each task decodes ITS partition's rows to
    // flat primitive arrays (the ServeBlocks discipline), so the driver
    // receives a few big arrays instead of row-decoding n Seqs on one
    // thread — at 100k the single-threaded Dataset.collect() cost more
    // than the whole concurrent insert pass
    val blocks = vectors.select(col("id").cast("long"), col("vec"))
      .as[(Long, Seq[Double])].rdd
      .mapPartitions { it =>
        val ids = scala.collection.mutable.ArrayBuilder.make[Long]
        val data = scala.collection.mutable.ArrayBuilder.make[Double]
        var dim = -1
        while (it.hasNext) {
          val (id, v) = it.next()
          ids += id
          if (dim < 0) dim = v.length
          require(v.length == dim, s"ragged vector for id=$id: ${v.length} != $dim")
          var i = 0
          while (i < dim) { data += v(i); i += 1 }
        }
        if (dim < 0) Iterator.empty
        else Iterator.single((ids.result(), data.result(), dim))
      }.collect()
    require(blocks.nonEmpty, "buildParallelSingle: empty vectors frame")
    val dim = blocks(0)._3
    require(blocks.forall(_._3 == dim), "inconsistent dims across partitions")
    val n = blocks.map(_._1.length.toLong).sum
    require(n * dim <= Int.MaxValue, s"n=$n × dim=$dim overflows the packed array")
    // id-sort across blocks (positions must be id order for the
    // engine-wide (dist, pos) ≡ (dist, id) tie-break). Primitive
    // indirect sort (ADVICE r11: the boxed Array[(Long,Int,Int)] form
    // was tens of MB of tuple garbage + a boxing comparator at 1M,
    // right before the memory-hungry build): flat id/block/row arrays
    // indexed by a sorted Int permutation.
    val nn = n.toInt
    val allIds = new Array[Long](nn)
    val srcBlock = new Array[Int](nn)
    val srcRow = new Array[Int](nn)
    var w = 0
    blocks.indices.foreach { bi =>
      val bids = blocks(bi)._1
      var r = 0
      while (r < bids.length) {
        allIds(w) = bids(r); srcBlock(w) = bi; srcRow(w) = r
        w += 1; r += 1
      }
    }
    val perm = sortIndicesByKey(allIds)
    val ids = new Array[Long](nn)
    val packed = new Array[Double](nn * dim)
    var p = 0
    while (p < nn) {
      val s = perm(p)
      ids(p) = allIds(s)
      System.arraycopy(blocks(srcBlock(s))._2, srcRow(s) * dim, packed, p * dim, dim)
      p += 1
    }
    val th = if (threads > 0) threads
      else math.min(Runtime.getRuntime.availableProcessors(), 32)
    val b = new HnswParallelBuilder(m, efConstruction, metric, ids, packed, dim, th)
    b.run()
    (b, th)
  }

  /** Shared per-shard graph builder over a (shard, id, vec) frame — the
    * shard column is the caller's routing policy (id-hash here, k-means
    * region + balance split in [[RoutedHnswIndex]]); everything after the
    * shard assignment is identical. */
  private[graft] def buildFromShardCol(assigned: DataFrame, numShards: Int,
      metric: Metric, m: Int, efConstruction: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    onePerPartition(assigned, numShards)
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        val byShard = new mutable.HashMap[Int, mutable.ArrayBuffer[(Long, Array[Double])]]
        it.foreach { case (s, id, v) =>
          byShard.getOrElseUpdate(s, new mutable.ArrayBuffer) += ((id, v.toArray))
        }
        // Detach each shard's raw-row buffer from the map BEFORE building
        // its graph (VERDICT r8 #3 — build GC): a task holding several
        // sub-shards would otherwise keep every shard's input rows live
        // while later shards' graphs and output rows pile on top; with
        // remove(), peak residency is one shard's rows + one graph.
        byShard.keys.toArray.sorted.iterator.flatMap { shard =>
          val rows = byShard.remove(shard).get
          // flat-packed build kernel (HnswBuilder) — bit-identical graphs
          // to the r10 LocalHnsw insert path (HnswBuilderSpec pins the
          // parity), ~3× less per-eval overhead. Each input row's vector
          // nulls out once copied so peak residency stays one shard's
          // rows + one packed graph.
          rows.sortInPlace()(Ordering.by(_._1))
          val g = new HnswBuilder(m, efConstruction, metric, rows.length)
          var i = 0
          while (i < rows.length) {
            val (id, v) = rows(i)
            g.insert(id, v)
            rows(i) = null
            i += 1
          }
          rows.clear()
          g.nodeRows.map { case (id, vec, level, edges) =>
            (shard, id, vec.toSeq, level, edges.map(_.toSeq).toSeq)
          }
        }
      }
      .toDF("shard", "id", "vec", "level", "edges")
  }

  /** Incremental add (hnsw.go:97-139 Add-after-build): new vectors
    * route to their shard ([[shardCol]]), and ONLY the affected
    * shards are rebuilt — untouched shards pass through, so the cost is
    * proportional to the touched fraction (and the rebuild read is
    * partition-pruned on a disk-backed graph). Because builds are
    * deterministic with ascending-id insertion, the result is
    * bit-identical to `build(old ∪ new)` — stronger than the reference's
    * order-dependent in-place insertion.
    *
    * Version caveat (ADVICE r10): the bit-identity guarantee holds for
    * graphs BUILT BY THE SAME ENGINE VERSION. Build arithmetic can be
    * refined between versions (r10 moved walk keys to the reassociated
    * [[graft.core.Metric.walkKeyScalar]]; r11 moved the insert kernel to
    * [[HnswBuilder]] — graph-identical, spec-pinned); adding to a graph
    * persisted by an OLDER version rebuilds only the touched shards with
    * current arithmetic, so untouched shards may keep edge selections the
    * current builder would not reproduce. Searches remain correct either
    * way (any valid HNSW adjacency serves); only cross-version
    * bit-reproducibility is out of scope. */
  def add(graph: DataFrame, vectors: DataFrame, numShards: Int, metric: Metric,
      m: Int = M, efConstruction: Int = EfConstruction): DataFrame = {
    val newRows = vectors
      .select(shardCol(numShards), col("id").cast("long"), col("vec"))
    val affected = newRows.select("shard").distinct()
    val untouched = graph.join(broadcast(affected), Seq("shard"), "left_anti")
    val toRebuild = graph.join(broadcast(affected), Seq("shard"), "left_semi")
      .select(col("id"), col("vec"))
      .unionByName(vectors.select(col("id"), col("vec")))
    untouched.unionByName(build(toRebuild, numShards, metric, m, efConstruction))
  }

  /** Remove nodes by id (hnsw.go:203-242 — the reference supports Remove
    * on HNSW only): drop the nodes' rows AND every edge pointing at them
    * (a per-row projection, no shuffle). The entry point needs no stored
    * update — [[LocalHnsw.fromTuples]] recomputes it from the surviving
    * max-level nodes, which is exactly the reference's fallback
    * (hnsw.go:226-238). */
  def remove(graph: DataFrame, removed: Seq[Long]): DataFrame =
    graph
      .where(not(col("id").isin(removed: _*)))
      .withColumn("edges",
        transform(col("edges"), lvl => filter(lvl, e => !e.isin(removed: _*))))

  /** Batch kNN over the sharded graph — the HNSW graph kind
    * ([[graft.query.GraphKind.hnsw]]) run by
    * [[graft.query.BlockedScan]]: the query batch broadcast, every shard
    * compiled from its stored rows (O(n) load, no re-insertion) and
    * walked by every query (the reference's descent + layer-0 ef-search)
    * into one heap per query per partition, and the partitions' heaps
    * combined on the driver by [[BoundedTopK.merge]]; the result is a
    * local relation, so the walk job runs when this is called. The
    * defensive shard repartition keeps each graph whole even if the
    * input frame was re-read or filtered; k ≤ 0 clamps to the
    * engine-wide "all rows ranked" brute-force path (flat.go:82-84
    * semantics).
    *
    * `numShards` > 0 skips the `max(shard)` discovery job — pass it when
    * the caller already knows the build config (the builder, the facade's
    * persisted `num_shards` metadata, a server holding the model). */
  def knnBlocked(graph: DataFrame, queries: DataFrame, k: Int, metric: Metric,
      efSearch: Int = EfSearch, numShards: Int = -1): DataFrame =
    if (k <= 0) FlatIndex.knn(graph.select(col("id"), col("vec")), queries, k, metric)
    else new BlockedScan(graph, GraphKind.hnsw(metric, numShards)).search(queries, k, efSearch)

  /** The shard count of a graph table, max(shard) + 1: one aggregation
    * job, so pass a known count instead where there is one. */
  private[graft] def shardCount(graph: DataFrame): Int =
    graph.agg(max(col("shard"))).head.getInt(0) + 1

  /** Graph rows (shard, id, vec, level, edges), shard s in partition s
    * ([[onePerPartition]]), cast to the types [[compileShards]] reads. */
  private[graft] def shardGrouped(graph: DataFrame, numShards: Int): DataFrame =
    onePerPartition(graphColumns(graph), numShards)

  /** [[shardGrouped]] over only the shards `shards` (sorted, distinct),
    * shards(j) in partition j: the rank in the probed set is the dense
    * partition id a pruned read needs. */
  private[graft] def shardGrouped(graph: DataFrame, shards: Array[Int]): DataFrame =
    graphColumns(graph.where(col("shard").isin(shards.map(Int.box): _*)))
      .repartitionById(shards.length,
        (array_position(typedLit(shards), col("shard")) - 1).cast("int"))

  private def graphColumns(graph: DataFrame): DataFrame =
    graph.select(col("shard").cast("int"), col("id").cast("long"),
      col("vec").cast("array<double>"), col("level").cast("int"),
      col("edges").cast("array<array<bigint>>"))

  /** Rows with an int `shard` column, shard s in partition s mod
    * `numShards`: with shards 0 until numShards, one shard per partition
    * and no partition empty. */
  private def onePerPartition(rows: DataFrame, numShards: Int): DataFrame =
    rows.repartitionById(numShards, pmod(col("shard"), lit(numShards)))

  /** One partition of [[shardGrouped]]'s rows → one compiled graph per
    * shard, keyed by shard id ([[CompiledHnsw.fromTuples]]). Graphs
    * compile as the iterator is consumed, and each shard's rows are
    * dropped once its graph is built. */
  private[graft] def compileShards(rows: Iterator[InternalRow],
      metric: Metric): Iterator[(Int, CompiledHnsw)] = {
    val byShard = new mutable.HashMap[
      Int, mutable.ArrayBuffer[(Long, Seq[Double], Int, Seq[Seq[Long]])]]
    rows.foreach { r =>
      val edges = r.getArray(4)
      byShard.getOrElseUpdate(r.getInt(0), new mutable.ArrayBuffer) += ((r.getLong(1),
        ArraySeq.unsafeWrapArray(r.getArray(2).toDoubleArray()), r.getInt(3),
        Seq.tabulate(edges.numElements())(l =>
          ArraySeq.unsafeWrapArray(edges.getArray(l).toLongArray()))))
    }
    byShard.keys.toArray.iterator.map { s =>
      (s, CompiledHnsw.fromTuples(byShard.remove(s).get, metric))
    }
  }
}

/** One shard's in-memory HNSW graph. Build-side mirrors
  * hnsw.go insertNode/searchLayer/selectNeighbors/pruneConnections with
  * heaps instead of re-sorted slices (same comparisons — orderings are
  * (rankKey, id), a monotone refinement of the reference's
  * distance-only sort) and deterministic levels from [[HnswIndex.levelOf]].
  *
  * All hot-loop state is primitive: adjacency lists are [[LongArrayList]]s,
  * the visited set is open-addressing ([[LongOpenSet]]), and the
  * frontier/result heaps are parallel-array binary heaps ([[DistHeap]]) —
  * no per-candidate boxing anywhere in insert or search.
  */
private[graft] final class LocalHnsw(m: Int, efConstruction: Int, metric: Metric) {

  private final class Node(val id: Long, val vec: Array[Double], val level: Int) {
    val edges: Array[LongArrayList] =
      Array.fill(level + 1)(new LongArrayList())
  }

  private val nodes = new mutable.LongMap[Node]
  private var entryPoint = -1L
  private var maxLevel = 0

  private def key(q: Array[Double], id: Long): Double =
    metric.walkKeyScalar(q, nodes(id).vec)

  /** Greedy hill-descent at one layer: follow strictly-improving edges
    * until a local minimum (hnsw.go:156-173 / 295-312). Returns the id. */
  private def descend(q: Array[Double], from: Long, fromTo: Int, downTo: Int): Long = {
    var curr = from
    var currDist = key(q, curr)
    var lc = fromTo
    while (lc > downTo) {
      var changed = true
      while (changed) {
        changed = false
        val cn = nodes(curr)
        if (lc < cn.edges.length) {
          val es = cn.edges(lc)
          var e = 0
          while (e < es.size) {
            val nb = es(e)
            val d = key(q, nb)
            if (d < currDist) { currDist = d; curr = nb; changed = true }
            e += 1
          }
        }
      }
      lc -= 1
    }
    curr
  }

  def insert(id: Long, vec: Array[Double]): Unit = {
    val level = HnswIndex.levelOf(id, m)
    val node = new Node(id, vec, level)
    if (entryPoint == -1L) {
      entryPoint = id; maxLevel = level; nodes(id) = node; return
    }
    // Greedy descent from the entry point down to level+1 (hnsw.go:295-312)
    var curr = descend(vec, entryPoint, maxLevel, level)
    // Register before connecting so back-edge pruning can score the new
    // node (the reference instead nil-skips it in pruneConnections,
    // hnsw.go:418-420, silently dropping the fresh back-edge — refined).
    nodes(id) = node
    // Connect at each layer from min(level, maxLevel) down to 0 (hnsw.go:314-341)
    var lc = math.min(level, maxLevel)
    while (lc >= 0) {
      val (candIds, _) = searchLayer(vec, curr, efConstruction, lc)
      val mMax = if (lc == 0) m * 2 else m
      val take = math.min(mMax, candIds.length)
      var t = 0
      while (t < take) {
        val nbId = candIds(t) // ascending (dist, id): the mMax nearest
        node.edges(lc).add(nbId)
        val nb = nodes(nbId)
        if (lc <= nb.level) {
          nb.edges(lc).add(id)
          if (nb.edges(lc).size > mMax) prune(nb, lc, mMax)
        }
        t += 1
      }
      if (candIds.nonEmpty) curr = candIds(0)
      lc -= 1
    }
    if (level > maxLevel) { maxLevel = level; entryPoint = id }
  }

  /** Keep the M nearest of a node's layer edges (hnsw.go:414-431, with
    * the short-list truncated rather than zero-padded). Selection runs
    * through [[BoundedTopK]] — the engine-wide (dist, id) tie-break. */
  private def prune(node: Node, layer: Int, mMax: Int): Unit = {
    val es = node.edges(layer)
    val keep = new BoundedTopK(mMax)
    var e = 0
    while (e < es.size) {
      val nb = es(e)
      keep.insert(nb, metric.walkKeyScalar(node.vec, nodes(nb).vec))
      e += 1
    }
    es.clear()
    var r = 0
    while (r < keep.size) { es.add(keep.ids(r)); r += 1 }
  }

  /** ef-bounded best-first expansion at one layer (hnsw.go:343-394):
    * min-heap of frontier candidates, bounded max-heap of the ef best
    * results; stop when the nearest frontier entry is farther than the
    * current worst kept result. Returns (ids, dists) ascending (dist, id). */
  private def searchLayer(q: Array[Double], entry: Long, ef: Int,
      layer: Int): (Array[Long], Array[Double]) = {
    // presize for the real visited footprint: expansion touches
    // pops × degree nodes, far beyond ef — at 31k-node shards an ef·4
    // table rehashed 3-4 times per insert and grow() dominated build
    // profiles (jstack: 17/31 workers mid-rehash at the 1M validation)
    val visited = new LongOpenSet(math.max(ef * 4, 4096))
    val frontier = new DistHeap(ef, maxHeap = false)
    val results = new DistHeap(ef + 1, maxHeap = true)
    val d0 = key(q, entry)
    frontier.add(d0, entry); results.add(d0, entry); visited.add(entry)
    var done = false
    while (!done && frontier.size > 0) {
      val cd = frontier.peekDist
      val ci = frontier.peekId
      // nearest frontier entry is beyond the worst keeper: done
      if (cd > results.peekDist || (cd == results.peekDist && ci > results.peekId)) {
        done = true
      } else {
        frontier.poll()
        val cn = nodes(ci)
        if (layer < cn.edges.length) {
          val es = cn.edges(layer)
          var e = 0
          while (e < es.size) {
            val nb = es(e)
            if (visited.add(nb)) {
              val d = key(q, nb)
              if (results.size < ef || d < results.peekDist ||
                  (d == results.peekDist && nb < results.peekId)) {
                frontier.add(d, nb); results.add(d, nb)
                if (results.size > ef) results.poll()
              }
            }
            e += 1
          }
        }
      }
    }
    // drain the worst-first heap into ascending arrays, back to front
    val n = results.size
    val ids = new Array[Long](n)
    val ds = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      ids(i) = results.peekId; ds(i) = results.peekDist
      results.poll(); i -= 1
    }
    (ids, ds)
  }

  /** Search this shard's graph (hnsw.go:141-186): greedy descent through
    * layers > 0, then layer-0 ef-search; top-k ascending (rankKey, id). */
  def knn(q: Array[Double], k: Int, efSearch: Int): Array[(Long, Double)] = {
    if (entryPoint == -1L) return Array.empty
    val curr = descend(q, entryPoint, maxLevel, 0)
    val (ids, ds) = searchLayer(q, curr, efSearch, 0)
    Array.tabulate(math.min(k, ids.length))(i => (ids(i), ds(i)))
  }

  /** (id, vec, level, edges-per-level) rows for the graph table. */
  def nodeRows: Iterator[(Long, Array[Double], Int, Array[Array[Long]])] =
    nodes.valuesIterator.map(n => (n.id, n.vec, n.level, n.edges.map(_.toArray)))

  /** Freeze this graph for query-time use: nodes sorted ascending by id
    * (position order ≡ id order — the engine tie-break carries over),
    * vectors packed flat, adjacency in per-layer CSR with int positions,
    * edge order preserved. See [[CompiledHnsw]] for why. */
  def compile(): CompiledHnsw = {
    val arr = nodes.values.toArray.sortBy(_.id)
    val nN = arr.length
    if (nN == 0)
      return new CompiledHnsw(Array.emptyLongArray, Array.emptyDoubleArray, 0,
        metric, Array(Array(0)), Array(Array.emptyIntArray), 0, 0)
    val dim = arr(0).vec.length
    val posOf = new mutable.LongMap[Int](nN * 2)
    var i = 0
    while (i < nN) { posOf(arr(i).id) = i; i += 1 }
    val ids = new Array[Long](nN)
    val vecs = new Array[Double](nN * dim)
    i = 0
    while (i < nN) {
      ids(i) = arr(i).id
      System.arraycopy(arr(i).vec, 0, vecs, i * dim, dim)
      i += 1
    }
    val nLayers = maxLevel + 1
    val layerOff = new Array[Array[Int]](nLayers)
    val layerAdj = new Array[Array[Int]](nLayers)
    var l = 0
    while (l < nLayers) {
      val off = new Array[Int](nN + 1)
      i = 0
      while (i < nN) {
        off(i + 1) = off(i) +
          (if (l < arr(i).edges.length) arr(i).edges(l).size else 0)
        i += 1
      }
      val adj = new Array[Int](off(nN))
      i = 0
      while (i < nN) {
        if (l < arr(i).edges.length) {
          val es = arr(i).edges(l)
          var w = off(i)
          var e = 0
          while (e < es.size) {
            val p = posOf.getOrElse(es(e), -1)
            require(p >= 0, s"dangling edge ${es(e)} at layer $l")
            adj(w) = p
            w += 1; e += 1
          }
        }
        i += 1
      }
      layerOff(l) = off
      layerAdj(l) = adj
      l += 1
    }
    new CompiledHnsw(ids, vecs, dim, metric, layerOff, layerAdj,
      posOf(entryPoint), maxLevel)
  }
}

private[graft] object LocalHnsw {

  /** Rebuild a shard graph from stored (id, vec, level, edges) rows —
    * O(n) load, no re-insertion. The entry point is recomputed as the
    * min-id node of the max level, which is exactly the build-time
    * entry point: insertion is ascending by id and the entry only moves
    * when a node's level strictly exceeds the running max. */
  def fromTuples(rows: Iterable[(Long, Seq[Double], Int, Seq[Seq[Long]])],
      metric: Metric): LocalHnsw = {
    val g = new LocalHnsw(HnswIndex.M, HnswIndex.EfConstruction, metric)
    var entry = -1L
    var top = -1
    rows.foreach { case (id, vec, level, stored) =>
      val node = new g.Node(id, vec.toArray, level)
      var l = 0
      while (l <= level) {
        stored(l).foreach(node.edges(l).add)
        l += 1
      }
      g.nodes(id) = node
      if (level > top || (level == top && id < entry)) { top = level; entry = id }
    }
    g.entryPoint = entry
    g.maxLevel = math.max(top, 0)
    g
  }
}

/** Growable primitive long list (adjacency storage — `ArrayBuffer[Long]`
  * would box every neighbor id on every traversal). */
private[graft] final class LongArrayList(initCap: Int = 8) {
  private var a = new Array[Long](initCap)
  var size = 0
  def add(x: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(size) = x; size += 1
  }
  def apply(i: Int): Long = a(i)
  def clear(): Unit = size = 0
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, size)
}

/** Open-addressing long hash set (linear probing, power-of-two table) —
  * the searchLayer visited set without per-element boxing. */
private[graft] final class LongOpenSet(expected: Int) {
  private var cap = Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
  private var mask = cap - 1
  private var table = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var size = 0

  /** true iff newly added. */
  def add(x: Long): Boolean = {
    if (size * 2 >= cap) grow()
    var i = (java.lang.Long.hashCode(x * 0x9e3779b97f4a7c15L) & mask)
    while (used(i)) {
      if (table(i) == x) return false
      i = (i + 1) & mask
    }
    used(i) = true; table(i) = x; size += 1
    true
  }

  private def grow(): Unit = {
    val ot = table; val ou = used
    cap <<= 1; mask = cap - 1
    table = new Array[Long](cap); used = new Array[Boolean](cap); size = 0
    var i = 0
    while (i < ot.length) { if (ou(i)) add(ot(i)); i += 1 }
  }
}

/** Binary heap over (dist, id) on parallel primitive arrays, ordered by
  * the engine-wide lexicographic (dist, id): `maxHeap = false` keeps the
  * smallest pair at the root (frontier), `true` the largest (bounded
  * result list — the root is the eviction candidate). */
private[graft] final class DistHeap(initCap: Int, maxHeap: Boolean) {
  private var ds = new Array[Double](math.max(4, initCap))
  private var is = new Array[Long](ds.length)
  var size = 0

  private def before(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    if (maxHeap) d1 > d2 || (d1 == d2 && i1 > i2)
    else d1 < d2 || (d1 == d2 && i1 < i2)

  def peekDist: Double = ds(0)
  def peekId: Long = is(0)

  def add(d: Double, id: Long): Unit = {
    if (size == ds.length) {
      ds = java.util.Arrays.copyOf(ds, size * 2)
      is = java.util.Arrays.copyOf(is, size * 2)
    }
    var i = size
    size += 1
    while (i > 0 && before(d, id, ds((i - 1) / 2), is((i - 1) / 2))) {
      val p = (i - 1) / 2
      ds(i) = ds(p); is(i) = is(p); i = p
    }
    ds(i) = d; is(i) = id
  }

  /** Remove the root. */
  def poll(): Unit = {
    size -= 1
    val d = ds(size); val id = is(size)
    var i = 0
    var done = false
    while (!done) {
      var c = 2 * i + 1
      if (c >= size) done = true
      else {
        if (c + 1 < size && before(ds(c + 1), is(c + 1), ds(c), is(c))) c += 1
        if (before(ds(c), is(c), d, id)) { ds(i) = ds(c); is(i) = is(c); i = c }
        else done = true
      }
    }
    ds(i) = d; is(i) = id
  }
}

package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.query.{BlockedScan, GraphKind}

/** Routed sharded HNSW — the IVF probe discipline composed with
  * per-shard graphs (the faiss IVF×HNSW / SPANN shape).
  *
  * [[HnswIndex]]'s id-hash shards admit no pruning: every query walks
  * EVERY shard's graph, so per-query cost grows linearly with the corpus
  * (O(shards) — fine at 32 shards, a scale-killer at the ~10⁴ shards a
  * 100 TB corpus needs; VERDICT r7 #1, vs the reference's single-graph
  * walk at pkg/index/hnsw/hnsw.go:142-187). Here shards are PLACED by
  * k-means region ([[Centroids.kMeans]] — the same trainer and
  * [[Centroids.nearest]] assignment the IVF family uses), so a query
  * needs only the R regions nearest its own position: cost drops from
  * O(corpus/shard_size) graph walks to O(R · log shard_size), constant
  * in corpus size at fixed R, and recall is governed by the same
  * R-vs-recall dial as IVF's nprobe.
  *
  * Balance: k-means regions are naturally uneven, and one giant region
  * would rebuild the build-skew AND serve-skew problems inside a single
  * task. Each region is therefore SPLIT into `ceil(size /
  * targetShardRows)` id-hash sub-shards at train time; routing probes
  * every sub-shard of a probed region (they partition the region's rows,
  * so region recall is unchanged). Max task size is bounded by
  * `targetShardRows` regardless of the cluster-size distribution, and
  * the probe set stays O(R · region_size / targetShardRows).
  *
  * Everything below the routing layer — deterministic levels, graph
  * build/load, heaps, tie-breaks — is [[HnswIndex]]/[[LocalHnsw]]
  * verbatim: routed results are bit-deterministic for a fixed model.
  */
final case class RoutedHnswModel(
    centroids: Seq[Seq[Double]],
    subShards: Seq[Int],
    metric: Metric) {
  require(centroids.nonEmpty && centroids.size == subShards.size,
    s"centroids (${centroids.size}) and subShards (${subShards.size}) must align")
  require(subShards.forall(_ >= 1), "every region needs >= 1 sub-shard")

  def nlist: Int = centroids.size

  /** First shard id of each region (exclusive prefix sums). */
  lazy val offsets: Array[Int] = subShards.scanLeft(0)(_ + _).init.toArray

  /** Total physical shards across all regions. */
  def numShards: Int = offsets.last + subShards.last

  /** All physical shard ids of one region. */
  def shardsOfRegion(c: Int): Range = offsets(c) until (offsets(c) + subShards(c))

  /** Primitive copy of [[centroids]] for the per-query probe ranking
    * ([[RoutedHnswIndex.probeShards]]), converted once. @transient:
    * recomputed once per deserialized instance. */
  @transient private[graft] lazy val centroidArrays: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
}

object RoutedHnswIndex {

  /** Default rows per physical shard. Sized so one shard's graph (vec +
    * adjacency) stays comfortably inside one executor core's memory at
    * production dims; the bench overrides it down to get a multi-shard
    * layout at test scale. */
  val DefaultTargetShardRows = 250000L

  /** Heap-derived rows-per-shard cap (VERDICT r8 #3: the 1M routed builds
    * spent 103–198 s in GC with 16–26 GB heap sections — per-task graph
    * residency must be DERIVED from memory, not guessed). During a build,
    * one core holds a shard's raw rows plus its finished [[LocalHnsw]]
    * (vector copies, adjacency, boxed row tuples); measured at 128d/M16
    * that is ~3 KB/row, modeled here as `24·dim + 56·M + 400` bytes (vec
    * appears ~3× across raw rows / graph / emitted rows; adjacency ≈ 2·M
    * longs with wrapper overhead; constant tuple/boxing tax). Every core
    * builds concurrently, and only ~half the heap should go to build
    * state (the other half: shuffle buffers, the emitted row batches,
    * headroom that keeps full GCs rare). The result is clamped to
    * [1000, [[DefaultTargetShardRows]]]. */
  def deriveTargetShardRows(dim: Int, m: Int = HnswIndex.M,
      cores: Int = -1, heapBytes: Long = -1L): Long = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val c = if (cores > 0) cores else Runtime.getRuntime.availableProcessors
    val heap = if (heapBytes > 0) heapBytes else Runtime.getRuntime.maxMemory
    val bytesPerRow = 24L * dim + 56L * m + 400L
    val budget = heap / 2 / math.max(1, c)
    math.max(1000L, math.min(DefaultTargetShardRows, budget / bytesPerRow))
  }

  /** Train the routing model: k-means regions over the corpus (the
    * production [[Centroids.kMeans]] — capped sample, strided init,
    * deterministic), then one count aggregation over the assignment to
    * size each region's balance split. Two corpus passes total (sample
    * scan + count scan), both map-side-partial aggregations. */
  def train(vectors: DataFrame, nlist: Int, metric: Metric,
      targetShardRows: Long = DefaultTargetShardRows): RoutedHnswModel = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(targetShardRows >= 1, s"targetShardRows must be >= 1")
    val cents = Centroids.kMeans(vectors, nlist, metric = metric)
    val sizes = vectors
      .select(Centroids.nearest(col("vec"), cents, metric).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sub = Array.tabulate(cents.size) { c =>
      val n = sizes.getOrElse(c, 0L)
      math.max(1L, (n + targetShardRows - 1) / targetShardRows).toInt
    }
    RoutedHnswModel(cents, sub.toVector, metric)
  }

  /** Region id → physical shard id: sub-shard = id-hash within the
    * region's balance split. Pure Column arithmetic. */
  private def physicalShard(c: Column, model: RoutedHnswModel): Column = {
    val offLit = array(model.offsets.map(lit).toIndexedSeq: _*)
    val subLit = array(model.subShards.map(lit).toIndexedSeq: _*)
    element_at(offLit, c + 1) +
      pmod(xxhash64(col("id").cast("long")), element_at(subLit, c + 1).cast("long"))
        .cast("int")
  }

  /** Physical shard of a row: region = nearest centroid, sub-shard =
    * id-hash within the region's split — all codegen'd Column arithmetic
    * (no UDF), so a 100 TB assign is a pure projection. */
  private[graft] def shardExpr(model: RoutedHnswModel): Column =
    physicalShard(Centroids.nearest(col("vec"), model.centroids, model.metric), model)
      .as("shard")

  /** Closure-assignment regions of a row (the SPANN boundary-replication
    * discipline): always the nearest region, plus every region whose rank
    * key is within (1+eps)·the nearest key, capped at the `maxReplicas`
    * closest. A boundary vector — one whose true neighbors' queries land
    * in an adjacent region — then exists in BOTH graphs, so probing R
    * regions recovers the cross-boundary neighbors single-assignment
    * routing loses. ARRAY<INT> of region ids, ascending (rank key, id)
    * order; pure codegen'd Column algebra over the centroid literal.
    * Multiplicative closure needs a nonnegative rank key (L2² / cosine /
    * Manhattan — not −dot). */
  private[graft] def regionsExpr(model: RoutedHnswModel, eps: Double,
      maxReplicas: Int): Column = {
    val cb = Centroids.centroidLit(model.centroids)
    val ranked = array_sort(transform(cb, (cv, i) =>
      struct(model.metric.rankKey(col("vec"), cv).as("rk"), i.as("c"))))
    val d1 = element_at(ranked, 1).getField("rk")
    transform(
      filter(slice(ranked, 1, maxReplicas), p =>
        p.getField("rk") <= lit(1.0 + eps) * d1),
      p => p.getField("c"))
  }

  /** Build the routed graph with boundary replication: rows explode to
    * their closure regions (expected blow-up 1+δ for boundary mass δ —
    * SPANN reports ~1.1–1.3× at useful eps), then the same id-hash
    * balance split and per-shard graph build as [[build]]. The result
    * serves through the SAME [[knn]]/[[graft.query.LocalRoutedHnswServer]]
    * paths — the merge layers dedup replicated ids — and persists through
    * the same (shard, id, vec, level, edges) schema.
    *
    * Serving-regime contract (measured, 1M × 128d grids r9/r10): the
    * replicated graph's RESIDENT footprint is blowup × the base graph,
    * and the serving heap must be provisioned for it — at 2.12× (the
    * eps=1.0/maxReplicas=3 "wide" closure) the walk phases run 50-67%
    * GC on a heap sized for the base graph, irrespective of shard
    * splits. Treat wide closure as a BUILD-TIME recall dial for
    * deployments that can pay blowup × memory at serve time; the
    * 1.48× eps=0.6/maxReplicas=2 config is the recommended serving
    * point. Prefer [[buildReplicatedBalanced]] so per-task residency
    * stays inside the heap-derived cap under any (eps, maxReplicas) —
    * the re-split also measurably HELPS recall at equal storage (r10
    * 1M grid: rep r4/ef200 0.834 → 0.8665, repw r4/ef50 0.7612 →
    * 0.8046 — more sub-shards per probed region union more local
    * top-k candidates into the merge). */
  def buildReplicated(vectors: DataFrame, model: RoutedHnswModel, eps: Double,
      maxReplicas: Int = 2, m: Int = HnswIndex.M,
      efConstruction: Int = HnswIndex.EfConstruction): DataFrame = {
    require(eps >= 0.0, s"eps must be >= 0, got $eps")
    require(maxReplicas >= 1 && maxReplicas <= model.nlist,
      s"maxReplicas must be in [1, nlist=${model.nlist}], got $maxReplicas")
    require(model.metric != Metric.Dot,
      "closure replication needs a nonnegative rank key (use L2/Cosine/Manhattan)")
    val exploded = vectors
      .select(col("id").cast("long").as("id"), col("vec"),
        explode(regionsExpr(model, eps, maxReplicas)).as("c"))
      .select(physicalShard(col("c"), model).as("shard"), col("id"), col("vec"))
    HnswIndex.buildFromShardCol(exploded, model.numShards, model.metric, m, efConstruction)
  }

  /** [[buildReplicated]] with REPLICATION-AWARE balance splits (VERDICT
    * r9 #5): the model's `subShards` are sized from unreplicated region
    * counts, so a closure build multiplies each region's mass by up to
    * `maxReplicas` ON TOP of the split — per-shard graphs outgrow the
    * heap-derived `targetShardRows` cap and the serving walk tasks spend
    * their time in GC (the 1M grid measured `search_repw_r2_ef50` at 58%
    * GC with the 2.12×-storage wide closure). Here one closure-count
    * pass re-derives every region's split from its REPLICATED row count
    * before any graph is built, so the cap holds under any (eps,
    * maxReplicas). Returns the re-split model — serving must route with
    * it, since shard offsets moved. */
  def buildReplicatedBalanced(vectors: DataFrame, model: RoutedHnswModel,
      eps: Double, maxReplicas: Int, targetShardRows: Long,
      m: Int = HnswIndex.M, efConstruction: Int = HnswIndex.EfConstruction)
      : (RoutedHnswModel, DataFrame) = {
    require(targetShardRows >= 1, "targetShardRows must be >= 1")
    val sizes = vectors
      .select(explode(regionsExpr(model, eps, maxReplicas)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sub = Array.tabulate(model.nlist)(c =>
      requiredSub(sizes.getOrElse(c, 0L), targetShardRows))
    val rebal = model.copy(subShards = sub.toVector)
    (rebal, buildReplicated(vectors, rebal, eps, maxReplicas, m, efConstruction))
  }

  /** Build the routed graph table — same (shard, id, vec, level, edges)
    * schema as [[HnswIndex.build]] (save/load and maintenance reuse), with
    * the shard column carrying the k-means route instead of an id hash. */
  def build(vectors: DataFrame, model: RoutedHnswModel,
      m: Int = HnswIndex.M, efConstruction: Int = HnswIndex.EfConstruction): DataFrame =
    HnswIndex.buildFromShardCol(
      vectors.select(shardExpr(model), col("id").cast("long"), col("vec")),
      model.numShards, model.metric, m, efConstruction)

  /** Region of a graph row, recovered from its physical shard id (a
    * shard→region literal lookup — model-sized, codegen'd). Works for
    * replicated builds too: a replica row's stored shard encodes the
    * closure region it was assigned to, which nearest-centroid
    * recomputation could NOT recover. */
  private[graft] def regionOfShard(model: RoutedHnswModel): Column = {
    val s2r = Array.tabulate(model.numShards)(s =>
      model.offsets.lastIndexWhere(_ <= s))
    element_at(array(s2r.map(lit).toIndexedSeq: _*), col("shard") + 1)
  }

  /** Integer split requirement: ceil(n / targetShardRows), floor 1. */
  private def requiredSub(n: Long, targetShardRows: Long): Int =
    math.max(1L, (n + targetShardRows - 1) / targetShardRows).toInt

  /** Region-drift report (VERDICT r8 #6) — the model-staleness readout
    * for the routed kind (the ivf.go:93-112 analogue: appends assign
    * under the FROZEN model, so regions grow past their balance split
    * and per-task graphs outgrow `targetShardRows`). One grouped count
    * over the graph (shuffle ∝ numShards), dense over the model's
    * regions: (region, n_rows, sub_frozen, sub_required, action) with
    * action = 'resplit' where the frozen split no longer matches the
    * integer requirement. All-integer arithmetic — oracle-reproducible. */
  def driftReport(graph: DataFrame, model: RoutedHnswModel,
      targetShardRows: Long): DataFrame = {
    require(targetShardRows >= 1, "targetShardRows must be >= 1")
    val spark = graph.sparkSession
    import spark.implicits._
    val frozen = model.subShards.zipWithIndex
      .map { case (sub, c) => (c, sub) }.toDF("region", "sub_frozen")
    val counts = graph.select(regionOfShard(model).as("region"))
      .groupBy("region").agg(count(lit(1)).as("n_rows"))
    frozen.join(counts, Seq("region"), "left")
      .select(col("region"), coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("sub_frozen"))
      // exact integral ceil-division via SQL `div` (LONG op) — Column `/`
      // promotes to DOUBLE, whose rounding can cross an integer boundary
      // near 2^53 (same hazard ADVICE r9 flagged on PlaidIndex.driftReport)
      .select(col("region"), col("n_rows"), col("sub_frozen"),
        greatest(lit(1L),
          expr(s"(n_rows + ${targetShardRows - 1}L) div ${targetShardRows}L"))
          .cast("int").as("sub_required"))
      .withColumn("action",
        when(col("sub_required") =!= col("sub_frozen"), "resplit")
          .otherwise("keep"))
  }

  /** Re-balance a drifted routed graph: re-derive every region's balance
    * split from its CURRENT row count, rebuild ONLY the regions whose
    * split changed, and arithmetically re-number the untouched regions'
    * shards into the new offset space (their graphs move, byte-for-byte,
    * without a rebuild). Returns the refreshed model and graph.
    *
    * Determinism makes the incremental path exact: a region's per-shard
    * graphs depend only on (row set, id-hash split), so unchanged splits
    * keep identical graphs and changed regions rebuild to exactly what a
    * from-scratch [[build]]/[[buildReplicated]] under the new model would
    * produce — MaintenanceSpec asserts full set-equality. Routing
    * centroids are NOT retrained (same contract as IVF appends:
    * re-centering is an explicit re-train, not a balance operation).
    *
    * Cost: one grouped count (shuffle ∝ numShards) + a graph rebuild
    * over only the drifted regions' rows — at 100 TB that is the handful
    * of regions an append wave actually grew, not the corpus. */
  def rebalance(graph: DataFrame, model: RoutedHnswModel,
      targetShardRows: Long, m: Int = HnswIndex.M,
      efConstruction: Int = HnswIndex.EfConstruction): (RoutedHnswModel, DataFrame) = {
    require(targetShardRows >= 1, "targetShardRows must be >= 1")
    val sizes = graph.select(regionOfShard(model).as("region"))
      .groupBy("region").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val newSub = Array.tabulate(model.nlist)(c =>
      requiredSub(sizes.getOrElse(c, 0L), targetShardRows))
    if (newSub.sameElements(model.subShards)) return (model, graph)
    val nm = RoutedHnswModel(model.centroids, newSub.toVector, model.metric)
    val changed = (0 until model.nlist)
      .filter(c => newSub(c) != model.subShards(c)).map(Int.box)
    val oldOff = array(model.offsets.map(lit).toIndexedSeq: _*)
    val newOff = array(nm.offsets.map(lit).toIndexedSeq: _*)
    val newSubLit = array(nm.subShards.map(lit).toIndexedSeq: _*)
    val withRegion = graph.withColumn("region", regionOfShard(model))
    val keep = withRegion.where(!col("region").isin(changed: _*))
      .select(
        (col("shard") - element_at(oldOff, col("region") + 1)
          + element_at(newOff, col("region") + 1)).cast("int").as("shard"),
        col("id"), col("vec"), col("level"), col("edges"))
    val rebuilt = HnswIndex.buildFromShardCol(
      withRegion.where(col("region").isin(changed: _*))
        .select(
          (element_at(newOff, col("region") + 1) +
            pmod(xxhash64(col("id").cast("long")),
              element_at(newSubLit, col("region") + 1).cast("long")).cast("int"))
            .as("shard"),
          col("id"), col("vec")),
      nm.numShards, model.metric, m, efConstruction)
    (nm, keep.unionByName(rebuilt))
  }

  /** Per-query physical probe set: top-`probeRegions` regions by centroid
    * rank key (IVF's probe ordering), expanded to each region's
    * sub-shards. */
  private[graft] def probeShards(q: Array[Double], model: RoutedHnswModel,
      probeRegions: Int): Array[Int] = {
    val r = math.min(math.max(probeRegions, 1), model.nlist)
    IvfIndex.probeSet(q, model.centroidArrays, model.metric, r).flatMap(model.shardsOfRegion)
  }

  /** Routed batch kNN — the routed graph kind
    * ([[graft.query.GraphKind.routed]]) run by
    * [[graft.query.BlockedScan]]: each query is searched ONLY in the
    * graphs of its top-R regions. Shards no query probed are pruned from
    * the scan before the shuffle (`isin` on the shard column — a
    * partition filter on a disk-backed graph), and a batch that probes
    * none runs no job. A partition compiles each remaining shard's graph
    * once and walks it for exactly the queries that probed it, filling
    * one heap per query; [[BoundedTopK.merge]] combines them on the
    * driver, distinct-by-id: a replicated build can surface one id from
    * several shards, with the same deterministic rank key. The result is
    * a leaf relation, so the walk job runs when this is called. k ≤ 0
    * clamps to the engine-wide brute-force path (flat.go:82-84
    * semantics). */
  def knn(graph: DataFrame, model: RoutedHnswModel, queries: DataFrame, k: Int,
      probeRegions: Int, efSearch: Int = HnswIndex.EfSearch): DataFrame =
    if (k <= 0) FlatIndex.knn(graph.select(col("id"), col("vec")), queries, k, model.metric)
    else new BlockedScan(graph, GraphKind.routed(model))
      .search(queries, k, (probeRegions, efSearch))
}

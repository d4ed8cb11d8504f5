package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Metric
import graft.index._
import graft.io.IndexIO

/** The unified search facade (reference: pkg/search/search.go — Searcher
  * type-dispatch + fluent Builder). A sealed `IndexKind` ADT replaces the
  * reflective type-switch (search.go:193-208); the builder compiles each
  * search to the right DataFrame plan per kind — including IVFPQ, which
  * the reference facade silently returns empty results for (search.go:80
  * ⚠ bug, intentionally not reproduced).
  */
sealed trait IndexKind
final case class FlatKind(vectors: DataFrame, metric: Metric) extends IndexKind
final case class IvfKind(model: IvfModel, assigned: DataFrame) extends IndexKind
final case class PqKind(model: PqModel, codes: DataFrame) extends IndexKind
/** SQ8 — per-dimension affine byte quantizer ([[graft.index.Sq8Index]]);
  * the kind between flat and PQ the reference roadmap never reached. */
final case class Sq8Kind(model: Sq8Model, codes: DataFrame) extends IndexKind
final case class IvfPqKind(model: IvfPqModel, codes: DataFrame) extends IndexKind
/** OPQ — orthogonal rotation + PQ ([[graft.index.OpqIndex]]; beyond the
  * reference, which has no rotation stage). Search rotates the query
  * batch and runs the PQ ADC kernel unchanged. */
final case class OpqKind(model: OpqModel, codes: DataFrame) extends IndexKind
/** BQ — 1-bit binary quantization ([[graft.index.BqIndex]]): Hamming
  * scan over packed sign bits. The facade reports the Hamming count as
  * the `distance` column (it IS the metric of this kind). */
final case class BqKind(model: BqModel, codes: DataFrame) extends IndexKind
/** Sign-LSH — the engine's high-throughput ANN kind (SURVEY.md §7 M5;
  * the reference's *default* index is HNSW (search.go:220-228); a gofaiss
  * user's `build`/`open` lands here. `indexed` is the (id, vec, bucket)
  * table of [[LshIndex.index]]. */
final case class LshKind(planes: Int, indexed: DataFrame, metric: Metric) extends IndexKind
/** Sharded HNSW — the reference's default index (search.go:220-228),
  * re-expressed as per-shard graphs with a fan-out merge
  * ([[graft.index.HnswIndex]]). `graph` is the build() table; `numShards`
  * > 0 (known from the build config or the persisted `num_shards`
  * metadata) spares every search the `max(shard)` discovery job. */
final case class HnswKind(graph: DataFrame, metric: Metric,
    numShards: Int = -1) extends IndexKind
/** Routed sharded HNSW — shards placed by k-means region, queries probe
  * only their top-R regions ([[graft.index.RoutedHnswIndex]]; the
  * engine's 100 TB ANN shape). `nprobe` maps onto R (probed regions),
  * the same recall dial as the IVF kinds. */
final case class RoutedHnswKind(model: RoutedHnswModel,
    graph: DataFrame) extends IndexKind

/** Defaults of search.go:32-39 (K=10, Nprobe=10, EfSearch=50 — the
  * reference bench config). EfSearch drives the HNSW kind's layer-0
  * candidate-list width; on the LSH kind it maps onto probe breadth —
  * ≥ 1 probes Hamming-1 neighbor buckets too (multi-probe, the
  * measured-recall default), 0 probes only the query's own bucket;
  * the exact kinds ignore it. */
final case class SearchOptions(k: Int = 10, nprobe: Int = 10, efSearch: Int = 50)

final class Searcher private[query] (kind: IndexKind, opts: SearchOptions) {

  def withK(k: Int): Searcher = new Searcher(kind, opts.copy(k = k))
  def withNprobe(n: Int): Searcher = new Searcher(kind, opts.copy(nprobe = n))
  def withEfSearch(n: Int): Searcher = new Searcher(kind, opts.copy(efSearch = n))
  def options: SearchOptions = opts

  /** Batch kNN: queries (query_id, qvec) → (query_id, neighbor_id,
    * distance, rank).
    *
    * Serves through the blocked kernels (the facade is the interactive
    * surface; query batches are bounded by construction, mirroring the
    * reference's in-memory Search([]float32) contract) — each is
    * result-identical to its plan-based sibling. Each partition fills
    * one bounded heap per query and [[graft.index.BoundedTopK.merge]]
    * combines them on the driver, so this call runs the scan job itself
    * and returns a local relation; no top-k shuffle follows. Collecting
    * that relation runs no job, but an operator applied to it
    * (projection, filter, join) runs one of its own. A duplicate
    * `query_id` in the batch is rejected. For query *tables* too large
    * to collect, call the `search`/`knn` plan forms on the index objects
    * directly. */
  def search(queries: DataFrame): DataFrame = kind match {
    case FlatKind(vectors, metric) =>
      FlatIndex.knnBlocked(vectors, queries, opts.k, metric)
    case IvfKind(model, assigned) =>
      IvfIndex.searchBlocked(assigned, model, queries, opts.k, opts.nprobe)
    case PqKind(model, codes) =>
      PqIndex.knnBlocked(codes, model, queries, opts.k)
    case Sq8Kind(model, codes) =>
      Sq8Index.knnBlocked(codes, model, queries, opts.k)
    case IvfPqKind(model, codes) =>
      IvfPqIndex.searchBlocked(codes, model, queries, opts.k, opts.nprobe)
    case OpqKind(model, codes) =>
      OpqIndex.knnBlocked(codes, model, queries, opts.k)
    case BqKind(model, codes) =>
      BqIndex.searchBlocked(codes, model, queries, opts.k)
    case LshKind(planes, indexed, metric) =>
      LshIndex.knnBlocked(indexed, queries, opts.k, planes, metric,
        hamming = if (opts.efSearch >= 1) 1 else 0)
    case HnswKind(graph, metric, numShards) =>
      HnswIndex.knnBlocked(graph, queries, opts.k, metric, opts.efSearch,
        numShards)
    case RoutedHnswKind(model, graph) =>
      RoutedHnswIndex.knn(graph, model, queries, opts.k,
        probeRegions = opts.nprobe, efSearch = opts.efSearch)
  }

  /** GetVectors counterpart (pkg/index flat GetVectors returns stored
    * vectors verbatim): an (id, vec) frame for every indexed row — exact
    * for the vector-holding kinds, DEQUANTIZED for the compressed kinds
    * (the encode→decode round trip whose fidelity the
    * `sq8_recon_error`/`pq_recon_error` oracle rows gate). BQ stores one
    * sign bit per dimension — a bit has no magnitude to reconstruct, so
    * the kind throws rather than invent values. */
  def reconstruct(): DataFrame = {
    import org.apache.spark.sql.functions.col
    kind match {
      case FlatKind(vectors, _) => vectors.select(col("id"), col("vec"))
      case IvfKind(_, assigned) => assigned.select(col("id"), col("vec"))
      case LshKind(_, indexed, _) => indexed.select(col("id"), col("vec"))
      case HnswKind(graph, _, _) => graph.select(col("id"), col("vec"))
      case RoutedHnswKind(_, graph) => graph.select(col("id"), col("vec"))
      case Sq8Kind(model, codes) =>
        codes.select(col("id"), Sq8Index.decode(col("code"), model).as("vec"))
      case PqKind(model, codes) =>
        codes.select(col("id"), PqIndex.decode(col("code"), model).as("vec"))
      case OpqKind(model, codes) =>
        codes.select(col("id"), OpqIndex.decode(col("code"), model).as("vec"))
      case IvfPqKind(model, codes) =>
        codes.select(col("id"),
          IvfPqIndex.decode(col("cluster_id"), col("code"), model).as("vec"))
      case BqKind(_, _) =>
        throw new UnsupportedOperationException(
          "bq stores sign bits only — no magnitudes to reconstruct")
    }
  }

  /** In-process serving handle over this index — the reference's
    * deployment shape (heap-resident structures, zero scheduler in the
    * hot path; pkg/search/search.go serves exactly this way). Collects
    * the packed state to the driver ONCE at construction; use when the
    * packed index fits one heap (see [[LocalServe]]'s scaladoc for
    * per-kind footprints) — the DataFrame [[search]] stays the cluster
    * path. Honors this Searcher's nprobe/efSearch; k is per call. Every
    * kind's local handle is result-identical to its distributed sibling
    * (LocalServeSpec), with BQ's integer Hamming count reported through
    * the `distance` slot exactly like the batch facade does. */
  def localServer(): LocalServer = kind match {
    case FlatKind(vectors, metric) =>
      val s = new LocalFlatServer(vectors, metric)
      LocalServerAdapter((q, k) => s.search(q, k), (qs, k) => s.searchBatch(qs, k))
    case IvfKind(model, assigned) =>
      val s = new LocalIvfServer(assigned, model)
      LocalServerAdapter((q, k) => s.search(q, k, opts.nprobe),
        (qs, k) => s.searchBatch(qs, k, opts.nprobe))
    case PqKind(model, codes) =>
      val s = new LocalPqServer(codes, model)
      LocalServerAdapter((q, k) => s.search(q, k), (qs, k) => s.searchBatch(qs, k))
    case Sq8Kind(model, codes) =>
      val s = new LocalSq8Server(codes, model)
      LocalServerAdapter((q, k) => s.search(q, k), (qs, k) => s.searchBatch(qs, k))
    case IvfPqKind(model, codes) =>
      val s = new LocalIvfPqServer(codes, model)
      LocalServerAdapter((q, k) => s.search(q, k, opts.nprobe),
        (qs, k) => s.searchBatch(qs, k, opts.nprobe))
    case OpqKind(model, codes) =>
      val s = new LocalOpqServer(codes, model)
      LocalServerAdapter((q, k) => s.search(q, k), (qs, k) => s.searchBatch(qs, k))
    case BqKind(model, codes) =>
      val s = new LocalBqServer(codes, model)
      LocalServerAdapter(
        (q, k) => s.search(q, k).map { case (id, h, r) => (id, h.toDouble, r) },
        (qs, k) => s.searchBatch(qs, k)
          .map(_.map { case (id, h, r) => (id, h.toDouble, r) }))
    case LshKind(planes, indexed, metric) =>
      val s = new LocalLshServer(indexed, planes, metric)
      val h = if (opts.efSearch >= 1) 1 else 0
      LocalServerAdapter((q, k) => s.search(q, k, h),
        (qs, k) => s.searchBatch(qs, k, h))
    case HnswKind(graph, metric, numShards) =>
      val s = new LocalHnswServer(graph, metric, numShards)
      LocalServerAdapter((q, k) => s.search(q, k, opts.efSearch),
        (qs, k) => s.searchBatch(qs, k, opts.efSearch))
    case RoutedHnswKind(model, graph) =>
      val s = new LocalRoutedHnswServer(graph, model)
      LocalServerAdapter((q, k) => s.search(q, k, opts.nprobe, opts.efSearch),
        (qs, k) => s.searchBatch(qs, k, opts.nprobe, opts.efSearch))
  }

  /** Release the cached table a [[Searcher.open]] call pinned. Idempotent;
    * a Searcher built over caller-owned frames (the [[IndexBuilder]] path)
    * leaves caching to the caller and this is a no-op on uncached input. */
  def close(): Unit = {
    val df = kind match {
      case FlatKind(vectors, _) => vectors
      case IvfKind(_, assigned) => assigned
      case PqKind(_, codes) => codes
      case Sq8Kind(_, codes) => codes
      case IvfPqKind(_, codes) => codes
      case OpqKind(_, codes) => codes
      case BqKind(_, codes) => codes
      case LshKind(_, indexed, _) => indexed
      case HnswKind(graph, _, _) => graph
      case RoutedHnswKind(_, graph) => graph
    }
    df.unpersist()
  }

  /** Range search (search.go:165-189) — exact on flat; on quantized kinds
    * the filter applies to their approximate distances. */
  def rangeSearch(queries: DataFrame, threshold: Double,
      maxResults: Int = Int.MaxValue): DataFrame = kind match {
    case FlatKind(vectors, metric) =>
      FlatIndex.rangeSearch(vectors, queries, threshold, metric, maxResults)
    case _ =>
      import org.apache.spark.sql.functions.col
      new Searcher(kind, opts.copy(k = maxResults))
        .search(queries).where(col("distance") <= threshold)
  }

  /** SearchWithMetadata timing wrapper (search.go:150-162): forces the
    * plan and reports wall-clock millis alongside the materialized count. */
  def searchTimed(queries: DataFrame): (DataFrame, Long, Long) = {
    val t0 = System.nanoTime()
    val df = search(queries)
    val n = df.count()
    (df, n, (System.nanoTime() - t0) / 1000000L)
  }
}

/** Fluent index builder (search.go:220-319): pick a type, set options,
  * `build(vectors)` → a ready [[Searcher]]. Defaults mirror the
  * reference's (`hnsw`, l2; per-kind option defaults of Build()'s
  * switch). The reference also declares a dimension up front — here the
  * schema carries it, so there is nothing to declare; and where the
  * reference builds an *empty* index to `Add` into, Spark indexes a
  * DataFrame, so build() takes the corpus directly. */
final class IndexBuilder private (
    indexType: String, metric: Metric, opts: Map[String, Int], searchOpts: SearchOptions) {

  def withIndexType(t: String): IndexBuilder =
    new IndexBuilder(t, metric, opts, searchOpts)
  def withMetric(name: String): IndexBuilder =
    new IndexBuilder(indexType, Metric(name), opts, searchOpts)
  def withIndexOption(key: String, value: Int): IndexBuilder =
    new IndexBuilder(indexType, metric, opts + (key -> value), searchOpts)
  def withSearchOptions(o: SearchOptions): IndexBuilder =
    new IndexBuilder(indexType, metric, opts, o)

  private def opt(key: String, default: Int) = opts.getOrElse(key, default)

  /** Train/index the corpus (an (id, vec) frame) and return the facade. */
  def build(vectors: DataFrame): Searcher = {
    val kind = indexType match {
      case "flat" => FlatKind(vectors, metric)
      case "hnsw" =>
        val shards = opt("shards", 32)
        HnswKind(HnswIndex.build(vectors, shards, metric,
          opt("M", 16), opt("efConstruction", 200)), metric, shards)
      case "hnsw_routed" =>
        val model = RoutedHnswIndex.train(vectors, opt("nlist", 16), metric,
          opt("targetShardRows", RoutedHnswIndex.DefaultTargetShardRows.toInt).toLong)
        RoutedHnswKind(model, RoutedHnswIndex.build(vectors, model,
          opt("M", 16), opt("efConstruction", 200)))
      case "lsh" =>
        val planes = opt("planes", 8)
        LshKind(planes, LshIndex.index(vectors, planes), metric)
      case "pq" =>
        val model = PqIndex.train(vectors, opt("M", 8), opt("nbits", 8), metric)
        PqKind(model, PqIndex.encode(vectors, model))
      case "opq" =>
        val model = OpqIndex.train(vectors, opt("M", 8), opt("nbits", 8), metric,
          opqIters = opt("opqIters", 6))
        OpqKind(model, OpqIndex.encode(vectors, model))
      case "bq" =>
        val model = BqIndex.train(vectors, metric)
        BqKind(model, BqIndex.encode(vectors, model))
      case "sq8" =>
        val model = Sq8Index.train(vectors, metric)
        Sq8Kind(model, Sq8Index.encode(vectors, model))
      case "ivf" =>
        val model = IvfIndex.train(vectors, opt("nlist", 100), metric)
        IvfKind(model, IvfIndex.assign(vectors, model))
      case "ivfpq" =>
        val model = IvfPqIndex.train(vectors, opt("nlist", 100), opt("M", 8),
          opt("nbits", 8), metric)
        IvfPqKind(model, IvfPqIndex.encode(vectors, model))
      case t => throw new IllegalArgumentException(s"unknown index type: $t")
    }
    new Searcher(kind, searchOpts)
  }
}

object IndexBuilder {
  /** Reference defaults: hnsw / l2 / efSearch 50 (search.go:220-228). */
  def apply(): IndexBuilder =
    new IndexBuilder("hnsw", Metric.L2, Map.empty, SearchOptions())
}

object Searcher {
  def apply(kind: IndexKind): Searcher = new Searcher(kind, SearchOptions())

  /** Open a persisted index, detecting its type from metadata
    * (detectIndexType, search.go:193-208).
    *
    * The loaded table is `.cache()`d: an opened index is a serving
    * object, and without the pin every `search` call re-ran the parquet
    * scan — 3.3× the cached kernel cost per call in BENCH_r04
    * (`searcher_open_search_sec`). The cache materializes lazily on the
    * first search; call [[Searcher.close]] to release it. */
  def open(spark: SparkSession, path: String): Searcher = {
    val meta = IndexIO.readChecked(path)
    val kind = meta("index_type") match {
      case "flat" => val (v, m) = IndexIO.loadFlat(spark, path); FlatKind(v.cache(), m)
      case "ivf" => val (m, a) = IndexIO.loadIvf(spark, path); IvfKind(m, a.cache())
      case "pq" => val (m, c) = IndexIO.loadPq(spark, path); PqKind(m, c.cache())
      case "sq8" => val (m, c) = IndexIO.loadSq8(spark, path); Sq8Kind(m, c.cache())
      case "ivfpq" => val (m, c) = IndexIO.loadIvfPq(spark, path); IvfPqKind(m, c.cache())
      case "opq" => val (m, c) = IndexIO.loadOpq(spark, path); OpqKind(m, c.cache())
      case "bq" => val (m, c) = IndexIO.loadBq(spark, path); BqKind(m, c.cache())
      case "lsh" => val (p, m, i) = IndexIO.loadLsh(spark, path); LshKind(p, i.cache(), m)
      case "hnsw" =>
        val (m, g) = IndexIO.loadHnsw(spark, path)
        HnswKind(g.cache(), m, meta.get("num_shards").map(_.toInt).getOrElse(-1))
      case "hnsw_routed" =>
        val (m, g) = IndexIO.loadRoutedHnsw(spark, path)
        RoutedHnswKind(m, g.cache())
      case t => throw new IllegalArgumentException(s"unknown index type '$t'")
    }
    apply(kind)
  }
}

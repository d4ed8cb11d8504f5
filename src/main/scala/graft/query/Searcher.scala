package graft.query

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Metric
import graft.index._
import graft.io.IndexIO

/** The unified search facade (reference: pkg/search/search.go — Searcher
  * type-dispatch + fluent Builder). A sealed `IndexKind` ADT replaces the
  * reflective type-switch (search.go:193-208), and one mapping
  * ([[ServedKind]]) gives each kind its scan over resident packs —
  * including IVFPQ, which the reference facade silently returns empty
  * results for (search.go:80 ⚠ bug, intentionally not reproduced).
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
  * metadata) spares the packing search the `max(shard)` discovery job. */
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

final class Searcher private[query] (kind: IndexKind, opts: SearchOptions,
    served: ServedKind[_, _]) {

  private[query] def this(kind: IndexKind, opts: SearchOptions) =
    this(kind, opts, ServedKind(kind))

  /** Option copies share this Searcher's resident packs: the options only
    * change each call's parameter. */
  def withK(k: Int): Searcher = new Searcher(kind, opts.copy(k = k), served)
  def withNprobe(n: Int): Searcher = new Searcher(kind, opts.copy(nprobe = n), served)
  def withEfSearch(n: Int): Searcher = new Searcher(kind, opts.copy(efSearch = n), served)
  def options: SearchOptions = opts

  /** Batch kNN: queries (query_id, qvec) → (query_id, neighbor_id,
    * distance, rank).
    *
    * Serves from the index held in memory, as the reference's Search does
    * (pkg/search/search.go): the first call packs the kind's table once
    * into resident packs on the executors (decoded blocks, or compiled
    * shard graphs for HNSW), which this Searcher and its
    * `withK`/`withNprobe`/`withEfSearch` copies share until [[close]].
    * Each call then broadcasts its query vectors and runs ONE job with
    * no shuffle over those packs ([[DistributedScan.searchBatch]]); each
    * partition prepares the queries' scans, fills one bounded heap per
    * query and [[graft.index.BoundedTopK.merge]] combines them on the
    * driver. The
    * result is row-identical to the index object's blocked kernel (the
    * same scan and merge over a fresh pack). Packs live in executor
    * memory only: when an executor holding some is lost, the call that
    * finds them missing drops them all, packs again and runs once more,
    * so that one call pays a re-pack. The result is returned as a leaf
    * relation: collecting it runs no job, but an operator applied to it
    * (projection, filter, join) runs one of its own. A duplicate
    * `query_id`, a query of the wrong length and a non-finite component
    * are rejected. k ≤ 0 ("all rows", flat.go:82-84) takes the kind's
    * plan form, which packs nothing. For query *tables* too large to
    * collect, call the `search`/`knn` plan forms on the index objects
    * directly. */
  def search(queries: DataFrame): DataFrame =
    if (opts.k <= 0) served.kernel(queries, opts) else served.searchBatch(queries, opts)

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
    * the kind's packs to the driver ONCE at construction ([[LocalScan]]
    * over the same packs and scan as [[search]]); use when the packed
    * index fits one heap (see [[LocalServe]]'s scaladoc for per-kind
    * footprints) — the DataFrame [[search]] stays the cluster path.
    * Honors this Searcher's nprobe/efSearch; k is per call. Every kind's
    * local handle is result-identical to [[search]] (LocalServeSpec),
    * with BQ's integer Hamming count reported through the `distance`
    * slot. */
  def localServer(): LocalServer = served.local(opts)

  /** Release the resident packs the first [[search]] built, for this
    * Searcher and every option copy of it; a later search packs again.
    * Safe from any copy and any thread: a search already running keeps
    * its packs until it ends, and they are released then. Idempotent.
    * The tables the Searcher was built over stay as their owner left
    * them. */
  def close(): Unit = served.close()

  /** Range search (search.go:165-189) — exact on flat; on the other
    * kinds the radius filters the kind's own distances over its
    * candidates, capped at `maxResults` per query. An unbounded
    * `maxResults` takes the kind's all-rows plan (k ≤ 0): a bounded heap
    * of that size cannot be allocated. */
  def rangeSearch(queries: DataFrame, threshold: Double,
      maxResults: Int = Int.MaxValue): DataFrame = kind match {
    case FlatKind(vectors, metric) =>
      FlatIndex.rangeSearch(vectors, queries, threshold, metric, maxResults)
    case _ =>
      import org.apache.spark.sql.functions.col
      withK(if (maxResults == Int.MaxValue) 0 else maxResults)
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
    * The loaded table is not pinned: the first [[Searcher.search]] reads
    * it once into the resident packs, which are the serving cache, and
    * [[Searcher.close]] releases them. (A table cache on top would hold
    * the index twice.) */
  def open(spark: SparkSession, path: String): Searcher = {
    val meta = IndexIO.readChecked(path)
    val kind = meta("index_type") match {
      case "flat" => val (v, m) = IndexIO.loadFlat(spark, path); FlatKind(v, m)
      case "ivf" => val (m, a) = IndexIO.loadIvf(spark, path); IvfKind(m, a)
      case "pq" => val (m, c) = IndexIO.loadPq(spark, path); PqKind(m, c)
      case "sq8" => val (m, c) = IndexIO.loadSq8(spark, path); Sq8Kind(m, c)
      case "ivfpq" => val (m, c) = IndexIO.loadIvfPq(spark, path); IvfPqKind(m, c)
      case "opq" => val (m, c) = IndexIO.loadOpq(spark, path); OpqKind(m, c)
      case "bq" => val (m, c) = IndexIO.loadBq(spark, path); BqKind(m, c)
      case "lsh" => val (p, m, i) = IndexIO.loadLsh(spark, path); LshKind(p, i, m)
      case "hnsw" =>
        val (m, g) = IndexIO.loadHnsw(spark, path)
        HnswKind(g, m, meta.get("num_shards").map(_.toInt).getOrElse(-1))
      case "hnsw_routed" =>
        val (m, g) = IndexIO.loadRoutedHnsw(spark, path)
        RoutedHnswKind(m, g)
      case t => throw new IllegalArgumentException(s"unknown index type '$t'")
    }
    apply(kind)
  }
}

/** The facade's one mapping from an index kind to how it serves: the
  * table its packs are built from, its scan ([[ScanKind]], built on first
  * use, so a Searcher that never packs never checks the kind's packing
  * limits), the per-call parameter the search options select, and the
  * index object's own kernel (for k ≤ 0, its all-rows plan form). It
  * also holds the [[DistributedScan]] the first k > 0 search builds,
  * shared by every Searcher copy over it until [[close]]. */
private[query] final class ServedKind[B, P](frame: DataFrame,
    scanKind: => ScanKind[B, P, Array[Double]], param: SearchOptions => P,
    val kernel: (DataFrame, SearchOptions) => DataFrame) {

  private lazy val kind = scanKind

  /** Resident packs and the searches reading them. Closed packs are
    * dropped when their last reader finishes, so a close() never pulls
    * packs from under a running search. */
  private final class Lease(val scan: DistributedScan[B, P, Array[Double]]) {
    var readers = 0
    var closed = false
  }

  private var current: Lease = null

  /** k > 0 kNN over the resident packs, built on first use. Packs found
    * lost (their executor died, or they were unpersisted behind this
    * object) are dropped and the search runs once more over fresh ones. */
  def searchBatch(queries: DataFrame, opts: SearchOptions): DataFrame = {
    val p = param(opts)
    try reading(_.searchBatch(queries, opts.k, p))
    catch { case e: SparkException if ServedKind.packsLost(e) =>
      reading(_.searchBatch(queries, opts.k, p))
    }
  }

  private def reading[T](f: DistributedScan[B, P, Array[Double]] => T): T = {
    val lease = synchronized {
      if (current == null) current = new Lease(new DistributedScan(frame, kind))
      current.readers += 1
      current
    }
    try f(lease.scan)
    catch { case e: SparkException if ServedKind.packsLost(e) => retire(lease); throw e }
    finally synchronized {
      lease.readers -= 1
      if (lease.closed && lease.readers == 0) lease.scan.unpersist()
    }
  }

  /** Stop serving from `lease`; its packs go when its last reader ends. */
  private def retire(lease: Lease): Unit = synchronized {
    if (current eq lease) current = null
    lease.closed = true
  }

  /** Drop the resident packs, if built (once no search reads them). */
  def close(): Unit = synchronized {
    if (current != null) {
      val lease = current
      retire(lease)
      if (lease.readers == 0) lease.scan.unpersist()
    }
  }

  /** The same packs and scan collected in process. */
  def local(opts: SearchOptions): LocalServer = {
    val scan = new LocalScan(frame, kind)
    val p = param(opts)
    LocalServerAdapter((q, k) => scan.search(q, k, p), (qs, k) => scan.searchBatch(qs, k, p))
  }
}

private[query] object ServedKind {

  /** A job failed because a resident pack's block is gone: Spark's
    * local-checkpoint miss, named in the failure's message chain. */
  private def packsLost(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))

  /** LSH's probe breadth from efSearch: ≥ 1 also probes the Hamming-1
    * buckets. */
  private def hamming(o: SearchOptions): Int = if (o.efSearch >= 1) 1 else 0

  def apply(kind: IndexKind): ServedKind[_, _] = kind match {
    case FlatKind(vectors, metric) =>
      new ServedKind(vectors, PackedKind.flat(metric), _ => (),
        (q, o) => FlatIndex.knnBlocked(vectors, q, o.k, metric))
    case IvfKind(model, assigned) =>
      new ServedKind(assigned, PackedKind.ivf(model), _.nprobe,
        (q, o) => IvfIndex.searchBlocked(assigned, model, q, o.k, o.nprobe))
    case PqKind(model, codes) =>
      new ServedKind(codes, PackedKind.pq(model), _ => (),
        (q, o) => PqIndex.knnBlocked(codes, model, q, o.k))
    case Sq8Kind(model, codes) =>
      new ServedKind(codes, PackedKind.sq8(model), _ => (),
        (q, o) => Sq8Index.knnBlocked(codes, model, q, o.k))
    case IvfPqKind(model, codes) =>
      new ServedKind(codes, PackedKind.ivfPq(model), _.nprobe,
        (q, o) => IvfPqIndex.searchBlocked(codes, model, q, o.k, o.nprobe))
    case OpqKind(model, codes) =>
      new ServedKind(codes, PackedKind.opq(model), _ => (),
        (q, o) => OpqIndex.knnBlocked(codes, model, q, o.k))
    case BqKind(model, codes) =>
      new ServedKind(codes, PackedKind.bq(model), _ => (),
        (q, o) => BqIndex.searchBlocked(codes, model, q, o.k))
    case LshKind(planes, indexed, metric) =>
      new ServedKind(indexed, PackedKind.lsh(planes, metric), hamming,
        (q, o) => LshIndex.knnBlocked(indexed, q, o.k, planes, metric, hamming(o)))
    case HnswKind(graph, metric, numShards) =>
      new ServedKind(graph, GraphKind.hnsw(metric, numShards), _.efSearch,
        (q, o) => HnswIndex.knnBlocked(graph, q, o.k, metric, o.efSearch, numShards))
    case RoutedHnswKind(model, graph) =>
      new ServedKind(graph, GraphKind.routed(model), o => (o.nprobe, o.efSearch),
        (q, o) => RoutedHnswIndex.knn(graph, model, q, o.k, o.nprobe, o.efSearch))
  }
}

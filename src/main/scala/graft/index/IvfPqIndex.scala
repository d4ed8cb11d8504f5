package graft.index

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions._
import graft.query.{BlockedScan, PackedKind}

/** IVF + PQ: coarse-quantize to nlist clusters, PQ-encode the *residual*
  * (vector − assigned centroid), search = probe pruning + ADC over
  * residual codes (reference: pkg/index/ivfpq/ivfpq.go:117-284).
  *
  * Index table: (id, cluster_id, code) — partitioned by cluster_id; both
  * models are small driver-side artifacts shipped as literals.
  */
final case class IvfPqModel(coarse: IvfModel, pq: PqModel)

object IvfPqIndex {

  /** Residual column: vec − centroid[cluster_id] (ivfpq.go:139-147) —
    * native fused loop. */
  private def residual(vec: org.apache.spark.sql.Column,
      clusterId: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftx.IndexExpressions.residual(vec, clusterId, centroids)

  /** Train: coarse quantizer, then PQ on residuals. Requires ≥ nlist×10
    * training vectors (ivfpq.go:121-123). */
  def train(vectors: DataFrame, nlist: Int, m: Int, nbits: Int, metric: Metric,
      seed: Long = 42L): IvfPqModel = {
    require(vectors.count() >= nlist * 10L, s"need at least ${nlist * 10} training vectors")
    val coarse = IvfIndex.train(vectors, nlist, metric, seed)
    val pq = PqIndex.train(residuals(vectors, coarse), m, nbits, metric, seed)
    IvfPqModel(coarse, pq)
  }

  /** Deterministic variant (bucket-mean coarse + bucket-mean PQ). */
  def trainDeterministic(vectors: DataFrame, nlist: Int, m: Int, ksub: Int,
      metric: Metric): IvfPqModel = {
    val coarse = IvfIndex.trainDeterministic(vectors, nlist, metric)
    val pq = PqIndex.trainDeterministic(residuals(vectors, coarse), m, ksub, metric)
    IvfPqModel(coarse, pq)
  }

  /** (id, vec=residual) frame for PQ training. */
  private def residuals(vectors: DataFrame, coarse: IvfModel): DataFrame = {
    val assigned = IvfIndex.assign(vectors, coarse)
    assigned.select(col("id"),
      residual(col("vec"), col("cluster_id"), coarse.centroids).as("vec"))
  }

  /** Encode: (id, cluster_id, code) — assign, take residual, PQ-encode
    * (ivfpq.go:184-219). Pure projection; streaming-safe. */
  def encode(vectors: DataFrame, model: IvfPqModel): DataFrame = {
    val assigned = IvfIndex.assign(vectors, model.coarse)
    assigned.select(
      col("id"), col("cluster_id"),
      PqIndex.encodeCol(
        residual(col("vec"), col("cluster_id"), model.coarse.centroids),
        model.pq).as("code"))
  }

  /** Dequantize: coarse centroid + PQ-decoded residual (the inverse of
    * [[encode]]'s residual quantization). */
  def decode(clusterId: org.apache.spark.sql.Column,
      code: org.apache.spark.sql.Column, model: IvfPqModel): org.apache.spark.sql.Column = {
    val cents = org.apache.spark.sql.functions.typedlit(model.coarse.centroids)
    org.apache.spark.sql.functions.zip_with(
      org.apache.spark.sql.functions.element_at(cents, clusterId.cast("int") + 1),
      PqIndex.decode(code, model.pq), (c, r) => c + r)
  }

  /** Search: probe top-nprobe clusters, ADC against the *query residual*
    * w.r.t. each probed centroid (ivfpq.go:222-284). */
  def search(codes: DataFrame, model: IvfPqModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val p = IvfIndex.probes(queries, model.coarse, nprobe)
      .withColumn("qres", residual(col("qvec"), col("cluster_id"), model.coarse.centroids))
      .select(col("query_id"), col("cluster_id"), col("qres"))
    val candidates = codes.join(broadcast(p), Seq("cluster_id"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        PqIndex.adcDist2(col("qres"), col("code"), model.pq).as("rank_key"))
    FlatIndex.topK(candidates, k, Metric.L2)
  }

  def knn(vectors: DataFrame, model: IvfPqModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    search(encode(vectors, model), model, queries, k, nprobe)

  /** Blocked kernel, result-identical to [[search]]: the
    * [[graft.query.PackedKind.ivfPq]] scan run by
    * [[graft.query.BlockedScan]]. Probe ranking and the per-probe query
    * residuals are computed once per query on the driver (nq·nprobe·dim
    * doubles — ~10 MB at nq=1000, dim=128). Each codes partition packs
    * once, grouped by cluster, and each query walks only its probed
    * clusters' codes, each cluster one contiguous range, with the same
    * per-subspace fold order as the PqAdc expression (bit-identical
    * distances). Candidates are never materialized or shuffled: each
    * partition fills one heap per query and [[BoundedTopK.merge]]
    * combines them on the driver into a leaf relation, so the scan job
    * runs when this is called.
    *
    * ADC tables hoist *adaptively, per cluster range*: a driver-side
    * hoist of all nq·nprobe M×Ksub tables would broadcast ≈ 160 MB at
    * nq=1000, so instead a range's residual table is built (into a
    * per-thread scratch buffer) only when the range is longer than
    * `adcHoistThreshold` (default ksub — the flop break-even: one table
    * costs dim·Ksub, each row then saves ~dim). Sparse clusters (the
    * nq=1000 bench shape, ~10 rows per cluster-partition) never pay the
    * table cost; dense clusters (the 100 TB layout, ≫ ksub rows per
    * partition) converge to M lookups per row. The table entry and the
    * direct form share the same per-subspace fold, so distances are
    * bit-identical either way. `query_id` is cast to LONG, like every
    * blocked kernel. */
  def searchBlocked(codes: DataFrame, model: IvfPqModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    searchBlocked(codes, model, queries, k, nprobe, adcHoistThreshold = -1)

  /** `adcHoistThreshold` < 0 means ksub (the flop break-even); 0 hoists
    * on the first row (test hook for the table path). */
  private[graft] def searchBlocked(codes: DataFrame, model: IvfPqModel,
      queries: DataFrame, k: Int, nprobe: Int, adcHoistThreshold: Int): DataFrame =
    if (k <= 0) search(codes, model, queries, k, nprobe)
    else new BlockedScan(codes, PackedKind.ivfPq(model, adcHoistThreshold))
      .search(queries, k, nprobe)
}

package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.TopNKernel

import graft.core.Metric
import graft.query.{BlockedScan, PackedKind}

/** IVF (inverted-file) index: vectors clustered to nlist centroids; a
  * query scans only its nprobe nearest clusters (reference:
  * pkg/index/ivf/ivf.go).
  *
  * Spark layout: the index table is the vector table + a `cluster_id`
  * column, written partitioned by `cluster_id`; the centroid matrix is a
  * small driver-side artifact. Search is:
  *   1. probe ranking — per query, top-nprobe centroids by the model's
  *      metric (ivf.go:133-135 probes with the configured metric);
  *   2. probe join — `codes ⋈ broadcast(probes)` on cluster_id: with the
  *      table partitioned by cluster_id this is a partition-pruned scan
  *      (SURVEY.md J3); nothing about the big side ever shuffles;
  *   3. exact distances within the probed lists + per-query top-k
  *      ([[FlatIndex.topK]]'s window, which Spark 4 plans with a partial
  *      `WindowGroupLimit` ahead of the exchange; [[searchBlocked]]
  *      replaces the exchange with the driver merge of
  *      [[BoundedTopK.merge]]).
  */
final case class IvfModel(centroids: Seq[Seq[Double]], metric: Metric) {
  def nlist: Int = centroids.size
}

object IvfIndex {

  /** Train on the vector table (production: distributed Lloyd's under the
    * model's metric, capped training sample — see [[Centroids.kMeans]]). */
  def train(vectors: DataFrame, nlist: Int, metric: Metric, seed: Long = 42L): IvfModel =
    IvfModel(Centroids.kMeans(vectors, nlist, seed, metric = metric), metric)

  /** Deterministic trainer (id-bucket means) — same machinery,
    * oracle-reproducible. */
  def trainDeterministic(vectors: DataFrame, nlist: Int, metric: Metric): IvfModel =
    IvfModel(Centroids.bucketMeans(vectors, nlist), metric)

  /** Add-side: tag each vector with its nearest centroid under the
    * model's metric (J2, ivf.go:240-252). Pure projection —
    * streaming-safe, appendable (ivf.go:93-112 semantics: new vectors use
    * the trained centroids until an explicit re-train). */
  def assign(vectors: DataFrame, model: IvfModel): DataFrame =
    vectors.withColumn("cluster_id",
      Centroids.nearest(col("vec"), model.centroids, model.metric))

  /** Per-query probe set: top-nprobe clusters by centroid distance under
    * the model's metric. Output (query_id, qvec, cluster_id). nprobe is
    * clamped to nlist (ivf.go:127-129). */
  def probes(queries: DataFrame, model: IvfModel, nprobe: Int): DataFrame = {
    val np = math.min(math.max(nprobe, 1), model.nlist)
    val spark = queries.sparkSession
    import spark.implicits._
    // centroids as a small broadcast DataFrame — a typedlit matrix would
    // put nlist×dim literal nodes in the plan (40k+ at nlist=316/dim=128),
    // bloating analysis/codegen
    val cdf = model.centroids.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cluster_id", "cvec")
    val w = Window.partitionBy("query_id").orderBy(col("ckey"), col("cluster_id"))
    queries
      .crossJoin(broadcast(cdf))
      .withColumn("ckey", model.metric.rankKey(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= np)
      .select(col("query_id"), col("qvec"), col("cluster_id"))
  }

  /** Search the assigned table (`cluster_id` column present) — the fully
    * distributed plan (queries can themselves be a huge table). The
    * per-query top-k is [[FlatIndex.topK]]'s window; Spark 4 limits each
    * query's rows to k per partition (`WindowGroupLimit`) before the
    * exchange. k ≤ 0 clamps to "all probed rows" (flat.go:82-84 clamp
    * semantics). */
  def search(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val p = probes(queries, model, nprobe)
    val candidates = assigned.join(broadcast(p), Seq("cluster_id"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        model.metric.rankKey(col("qvec"), col("vec")).as("rank_key"))
    FlatIndex.topK(candidates, k, model.metric)
  }

  /** Blocked kernel, result-identical to [[search]]: the
    * [[graft.query.PackedKind.ivf]] scan run by
    * [[graft.query.BlockedScan]]. Probe ranking runs once per query on
    * the driver over the small centroid matrix (nq·nlist rank keys); each
    * index partition packs once, grouped by cluster, and each query walks
    * only its probed clusters' rows, each cluster one contiguous range.
    * The candidate rows are never materialized, joined, or shuffled: each
    * partition fills one heap per query and [[BoundedTopK.merge]]
    * combines them on the driver into a leaf relation, so the scan job
    * runs when this is called. Queries must fit on the driver (they are
    * the bounded side by construction; use [[search]] for query
    * *tables*). `query_id` is cast to LONG, like every blocked kernel;
    * callers with non-long query ids should use [[search]]. */
  def searchBlocked(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    if (k <= 0) search(assigned, model, queries, k, nprobe)
    else new BlockedScan(assigned, PackedKind.ivf(model)).search(queries, k, nprobe)

  /** Driver-side top-nprobe cluster ids for one query: ascending
    * (rank_key, cluster_id), keys compared by `java.lang.Double.compare`
    * (−0.0 before 0.0, NaN last). It runs once per query in every shape
    * of IVF, IVFPQ and IVF×SQ8, so it selects over primitive arrays. */
  private[graft] def probeSet(q: Array[Double], cents: Array[Array[Double]],
      metric: Metric, np: Int): Array[Int] =
    TopNKernel.bottomIdx(Array.tabulate(cents.length)(c => metric.rankKeyScalar(q, cents(c))), np)

  /** One-shot convenience: assign + search. */
  def knn(vectors: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    search(assign(vectors, model), model, queries, k, nprobe)
}

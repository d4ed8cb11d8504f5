package graftbench

import java.util.stream.IntStream

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generator parameters. The corpus is a Gaussian mixture whose clusters
  * overlap (noise is comparable to the spread of the centres), so the
  * neighbours of a query straddle several IVF cells and nprobe 10 misses
  * some that nprobe 50 finds. Disjoint clusters would give recall 1.0 at
  * any probe count and hide every probe-count effect. */
final case class GenParams(n: Int, dim: Int, clusters: Int, centreScale: Double,
    noise: Double, nq: Int, delta: Int) {
  def toJson: String =
    s"""{"n":$n,"dim":$dim,"clusters":$clusters,"centre_scale":$centreScale,""" +
      s""""noise":$noise,"nq":$nq,"delta":$delta}"""
}

/** Exact top-k answers of one query set, computed by the benchmark itself
  * in plain Scala: ids and L2 distances in rank order, ties toward the
  * lower id. */
final class Oracle(val ids: Array[Array[Long]], val dists: Array[Array[Double]])

/** Seeded inputs: corpus ids are 0 until n, delta ids n until n + delta;
  * queries are fresh draws from the same mixture, so none is a corpus
  * row. The program only ever sees the frames and arrays built here. */
final class Inputs(val params: GenParams, val seed: Long,
    val corpus: Array[Array[Double]], val delta: Array[Array[Double]],
    val queries: Array[Array[Double]]) {

  /** FNV-1a over the bit patterns of every generated number. */
  lazy val fingerprint: String = {
    var h = 0xcbf29ce484222325L
    for (rows <- Seq(corpus, delta, queries); v <- rows; x <- v) {
      h ^= java.lang.Double.doubleToLongBits(x)
      h *= 0x100000001b3L
    }
    f"$h%016x"
  }

  /** Row `id` of corpus ∪ delta. */
  def vector(id: Long): Array[Double] =
    if (id < corpus.length) corpus(id.toInt) else delta((id - corpus.length).toInt)

  def vectorFrame(spark: SparkSession, rows: Array[Array[Double]], firstId: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(rows.indices.map(i => (firstId + i, rows(i))), partitions)
      .toDF("id", "vec")
  }

  def queryFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    queries.indices.map(i => (i.toLong, queries(i))).toDF("query_id", "qvec")
  }
}

object Inputs {

  def generate(p: GenParams, seed: Long): Inputs = {
    val rng = new java.util.Random(seed)
    val centres = Array.fill(p.clusters, p.dim)(rng.nextGaussian() * p.centreScale)
    def draw(): Array[Double] = {
      val c = centres(rng.nextInt(p.clusters))
      Array.tabulate(p.dim)(i => c(i) + rng.nextGaussian() * p.noise)
    }
    val corpus = Array.fill(p.n)(draw())
    val delta = Array.fill(p.delta)(draw())
    val queries = Array.fill(p.nq)(draw())
    new Inputs(p, seed, corpus, delta, queries)
  }

  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Exact top-k over ids 0 until `rows` of `in`, one query per task on
    * the common pool. */
  def oracle(in: Inputs, rows: Int, k: Int): Oracle = {
    val ids = new Array[Array[Long]](in.queries.length)
    val dists = new Array[Array[Double]](in.queries.length)
    IntStream.range(0, in.queries.length).parallel().forEach { qi =>
      val q = in.queries(qi)
      val topD = Array.fill(k)(Double.PositiveInfinity)
      val topI = Array.fill(k)(Long.MaxValue)
      var id = 0L
      while (id < rows) {
        val d = l2(q, in.vector(id))
        if (d < topD(k - 1)) {
          // ids arrive ascending, so a strict < keeps ties toward the lower id
          var j = k - 1
          while (j > 0 && d < topD(j - 1)) { topD(j) = topD(j - 1); topI(j) = topI(j - 1); j -= 1 }
          topD(j) = d; topI(j) = id
        }
        id += 1
      }
      ids(qi) = topI
      dists(qi) = topD
    }
    new Oracle(ids, dists)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.queries.VectorQueries

/** OPQ invariants: the learned rotation is orthogonal (hence isometric —
  * rotated L2 equals raw L2 exactly), zero alternations reduce to plain
  * PQ, training lowers quantization MSE on anisotropic data, the kNN
  * output is structurally sound, and the blocked kernel matches the plan.
  */
class OpqSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  private val K = 10
  private val M = 8

  private def vecs = VectorQueries.vecTables(spark, TestSession.Sf0001)

  /** Anisotropic corpus: dim i scaled by 1/(1+i/4) — decaying variance,
    * the shape where plain PQ's fixed axis-aligned subspaces lose and a
    * learned rotation wins. */
  private def aniso = {
    val (corpus, queries) = vecs
    val scale = (x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      x / (lit(1.0) + i.cast("double") / lit(4.0))
    (corpus.select(col("id"), transform(col("vec"), scale).as("vec")),
      queries.select(col("query_id"), transform(col("qvec"), scale).as("qvec")))
  }

  private def localRows(df: org.apache.spark.sql.DataFrame): Array[Array[Double]] =
    df.orderBy("id").collect().map(_.getSeq[Double](1).toArray)

  test("trained rotation is orthogonal: max |R·Rt − I| < 1e-9") {
    val (corpus, _) = aniso
    val model = OpqIndex.train(corpus, M, nbits = 4, Metric.L2)
    val r = model.rotation.map(_.toArray).toArray
    val d = model.dim
    var worst = 0.0
    for (a <- 0 until d; b <- 0 until d) {
      var s = 0.0
      var i = 0
      while (i < d) { s += r(a)(i) * r(b)(i); i += 1 }
      val want = if (a == b) 1.0 else 0.0
      worst = math.max(worst, math.abs(s - want))
    }
    assert(worst < 1e-9, s"rotation not orthogonal: max deviation $worst")
  }

  test("rotateCol is an isometry in the plan: rotated L2 == raw L2") {
    val (corpus, queries) = vecs
    val model = OpqIndex.train(corpus, M, nbits = 4, Metric.L2)
    val q1 = queries.select(col("query_id"), col("qvec"))
    val bad = corpus.crossJoin(q1)
      .select(
        graft.functions.VectorFunctions.l2(col("vec"), col("qvec")).as("raw"),
        graft.functions.VectorFunctions.l2(
          OpqIndex.rotateCol(col("vec"), model),
          OpqIndex.rotateCol(col("qvec"), model)).as("rot"))
      .where(abs(col("raw") - col("rot")) > 1e-9)
      .count()
    assert(bad == 0, s"$bad pairs where rotation changed the distance")
  }

  test("zero alternations reduce to plain PQ (identity rotation), and " +
    "OPQ lowers quantization MSE on anisotropic data") {
    val (corpus, _) = aniso
    val plain = OpqIndex.train(corpus, M, nbits = 4, Metric.L2, opqIters = 0)
    // identity rotation bit-exactly
    plain.rotation.zipWithIndex.foreach { case (row, j) =>
      row.zipWithIndex.foreach { case (v, i) =>
        assert(v == (if (i == j) 1.0 else 0.0), s"opqIters=0 rotation not identity at ($j,$i)")
      }
    }
    val opq = OpqIndex.train(corpus, M, nbits = 4, Metric.L2, opqIters = 6)
    val x = localRows(corpus)
    val dsub = opq.dim / M
    val msePlain = OpqIndex.sampleMse(x,
      plain.rotation.map(_.toArray).toArray, plain.pq.codebookArrays, dsub)
    val mseOpq = OpqIndex.sampleMse(x,
      opq.rotation.map(_.toArray).toArray, opq.pq.codebookArrays, dsub)
    assert(mseOpq < msePlain * 0.98,
      s"expected a material MSE drop on anisotropic data: plain $msePlain vs opq $mseOpq")
  }

  test("knn: K rows per query, monotone non-negative distances, known distinct " +
    "neighbors; deterministic across trains") {
    val (corpus, queries) = aniso
    val model = OpqIndex.train(corpus, M, nbits = 4, Metric.L2)
    val codes = OpqIndex.encode(corpus, model)
    val res = OpqIndex.knn(codes, model, queries, K).cache()
    val perQ = res.groupBy("query_id").agg(
      count(lit(1)).as("n"),
      countDistinct("neighbor_id").as("nd"),
      min("distance").as("mn")).collect()
    assert(perQ.nonEmpty)
    perQ.foreach { r =>
      assert(r.getLong(1) == K && r.getLong(2) == K && r.getDouble(3) >= 0.0)
    }
    val model2 = OpqIndex.train(corpus, M, nbits = 4, Metric.L2)
    assert(model2 == model, "OPQ training is not deterministic")
    res.unpersist()
  }

  test("blocked kernel is result-identical to the plan form") {
    val (corpus, queries) = aniso
    val model = OpqIndex.train(corpus, M, nbits = 4, Metric.L2)
    val codes = OpqIndex.encode(corpus, model)
    val a = OpqIndex.knn(codes, model, queries, K)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toString).sorted
    val b = OpqIndex.knnBlocked(codes, model, queries, K)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("OpqServer single-query serving is rank-identical to knnBlocked") {
    val (corpus, queries) = aniso
    val model = OpqIndex.train(corpus, M, nbits = 4, Metric.L2)
    val codes = OpqIndex.encode(corpus, model)
    val server = new graft.query.OpqServer(codes.repartition(4), model).warm()
    val expect = OpqIndex.knnBlocked(codes, model, queries, K)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getInt(3))).toSeq)
      .toMap
    queries.collect().foreach { q =>
      val got = server.search(q.getSeq[Double](1).toArray, K)
        .map { case (id, _, rank) => (id, rank) }.toSeq
      assert(got == expect(q.getLong(0)),
        s"server diverged for query ${q.getLong(0)}")
    }
    server.unpersist()
  }

  test("opq recall >= plain pq recall on anisotropic data") {
    val (corpus, queries) = aniso
    val flat = FlatIndex.knn(corpus, queries, K, Metric.L2).cache()
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = approx.select("query_id", "neighbor_id")
        .join(flat.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
        .count()
      hits.toDouble / flat.count()
    }
    val plain = OpqIndex.train(corpus, M, nbits = 4, Metric.L2, opqIters = 0)
    val opq = OpqIndex.train(corpus, M, nbits = 4, Metric.L2, opqIters = 6)
    val rPlain = recall(OpqIndex.knn(OpqIndex.encode(corpus, plain), plain, queries, K))
    val rOpq = recall(OpqIndex.knn(OpqIndex.encode(corpus, opq), opq, queries, K))
    assert(rOpq >= rPlain,
      s"OPQ recall $rOpq below plain PQ recall $rPlain on anisotropic data")
    flat.unpersist()
  }
}

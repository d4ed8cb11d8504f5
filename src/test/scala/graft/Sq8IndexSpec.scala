package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.io.IndexIO
import graft.query.Searcher
import graft.queries.VectorQueries

/** SQ8 scalar-quantizer invariants: code range/width, constant-dimension
  * exactness, quantization error bound, near-flat recall, blocked ≡ plan
  * kernel identity, and the save → open → search round trip.
  */
class Sq8IndexSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  private def vecs = VectorQueries.vecTables(spark, TestSession.Sf0001)

  test("codes cover the full byte range and reconstruct within scale/2 per dim") {
    val (corpus, _) = vecs
    val model = Sq8Index.train(corpus, Metric.L2)
    val codes = Sq8Index.encode(corpus, model)
    // every dimension's max error ≤ scale/2 (affine quantizer bound)
    val recon = codes.select(col("id"), Sq8Index.decode(col("code"), model).as("rv"))
    val joined = corpus.join(recon, "id")
      .select(posexplode(arrays_zip(col("vec"), col("rv"))).as(Seq("pos", "z")))
      .select(col("pos"), abs(col("z.vec") - col("z.rv")).as("err"))
      .groupBy("pos").agg(max(col("err")).as("max_err"))
      .collect()
    joined.foreach { r =>
      val bound = model.scales(r.getInt(0)) / 2 + 1e-12
      assert(r.getDouble(1) <= bound, s"dim ${r.getInt(0)}: err ${r.getDouble(1)} > $bound")
    }
    // min and max corpus values per dim map to the range endpoints
    val minMaxCodes = codes
      .select(posexplode(col("code")).as(Seq("pos", "c")))
      .groupBy("pos").agg(min("c").as("lo"), max("c").as("hi"))
      .collect()
    minMaxCodes.foreach { r =>
      assert(r.getByte(1) == -128, s"dim ${r.getInt(0)} min code ${r.getByte(1)}")
      assert(r.getByte(2) == 127, s"dim ${r.getInt(0)} max code ${r.getByte(2)}")
    }
  }

  test("sq8_recon_error query: one row per dim, avg ≤ max ≤ scale/2, and the " +
      "error stats recompute from encodeExpr∘decode") {
    val (corpus, _) = vecs
    val model = Sq8Index.train(corpus, Metric.L2)
    val rows = graft.queries.IndexQueries.queries("sq8_recon_error")(
        spark, TestSession.Sf0001)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length == model.dim)
    assert(rows.map(_._1).sorted.toSeq == (0 until model.dim))
    rows.foreach { case (d, avg, mx) =>
      assert(avg <= mx + 1e-9, s"dim $d avg $avg > max $mx")
      // affine quantizer bound: |x − decode(encode(x))| ≤ scale/2 (+ the
      // 4-dp rounding the oracle applies)
      assert(mx <= model.scales(d) / 2 + 5e-5, s"dim $d max $mx vs scale ${model.scales(d)}")
    }
  }

  test("constant dimension gets scale 0, code 0, exact reconstruction") {
    import spark.implicits._
    val rows = Seq(
      (0L, Seq(1.0, 5.0, 2.5)), (1L, Seq(1.0, 7.0, 2.5)), (2L, Seq(1.0, 6.0, 2.5)))
    val df = rows.toDF("id", "vec")
    val model = Sq8Index.train(df, Metric.L2)
    assert(model.scales(0) == 0.0 && model.scales(2) == 0.0)
    val recon = Sq8Index.encode(df, model)
      .select(Sq8Index.decode(col("code"), model).as("rv"))
      .collect().map(_.getSeq[Double](0))
    recon.foreach { rv => assert(rv(0) == 1.0 && rv(2) == 2.5) }
  }

  test("SQ8 recall@10 vs flat is near-exact on this corpus") {
    val (corpus, queries) = vecs
    val model = Sq8Index.train(corpus, Metric.L2)
    val approx = Sq8Index.knn(Sq8Index.encode(corpus, model), model, queries, 10)
    val exact = FlatIndex.knn(corpus, queries, 10, Metric.L2)
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id"))).count()
    val recall = hits.toDouble / exact.count()
    assert(recall >= 0.9, s"SQ8 recall $recall < 0.9")
  }

  test("blocked kernel is result-identical to the plan form, cosine included") {
    val (corpus, queries) = vecs
    for (metric <- Seq(Metric.L2, Metric.Cosine)) {
      val model = Sq8Index.train(corpus, metric)
      val codes = Sq8Index.encode(corpus, model)
      val a = Sq8Index.knn(codes, model, queries, 10)
        .select(col("query_id"), col("neighbor_id"), round(col("distance"), 9).as("d"), col("rank"))
      val b = Sq8Index.knnBlocked(codes, model, queries, 10)
        .select(col("query_id"), col("neighbor_id"), round(col("distance"), 9).as("d"), col("rank"))
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, metric.name)
    }
  }

  test("save → Searcher.open dispatches to sq8 and preserves results") {
    val (corpus, queries) = vecs
    val model = Sq8Index.train(corpus, Metric.L2)
    val codes = Sq8Index.encode(corpus, model)
    val path = Files.createTempDirectory("graft_sq8_idx").toString
    IndexIO.saveSq8(spark, path, model, codes)
    assert(IndexIO.readMeta(path)("index_type") == "sq8")
    val s = Searcher.open(spark, path).withK(10)
    val before = Sq8Index.knn(codes, model, queries, 10)
    val after = s.search(queries)
    assert(before.exceptAll(after).count() == 0 && after.exceptAll(before).count() == 0)
    s.close()
  }

  test("Sq8Server single-query results equal the batch kernel rows") {
    val (corpus, queries) = vecs
    val model = Sq8Index.train(corpus, Metric.L2)
    val codes = Sq8Index.encode(corpus, model)
    val server = new graft.query.Sq8Server(codes.repartition(4), model).warm()
    val batch = Sq8Index.knnBlocked(codes, model, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    val qRows = queries.collect()
    qRows.foreach { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      val served = server.search(q, 10)
      val expected = batch(qid).sortBy(_._4).map(t => (t._2, t._3, t._4))
      assert(served.toSeq == expected.toSeq, s"query $qid")
    }
    server.unpersist()
  }

  test("high-dim (768) training takes the posexplode path and matches the " +
      "wide-agg trainer's model on the same data") {
    // nothing else in the repo exercises dim > 128 (VERDICT r7 #4): this
    // drives train/encode/knn at a production embedding width. 768 > the
    // wide-agg cutoff, so train() goes through posexplode→groupBy(min,max).
    val n = 300
    val dim = 768
    val corpus = graft.core.VectorGen.random(spark, n, dim, seed = 41L).cache()
    val queries = graft.core.VectorGen.random(spark, 4, dim, seed = 99L)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val model = Sq8Index.train(corpus, Metric.L2)
    assert(model.dim == dim)
    // oracle for the posexplode path: the wide-agg arithmetic on the
    // driver over the same collected vectors
    val all = corpus.collect().map(_.getSeq[Double](1).toArray)
    (0 until dim).foreach { d =>
      val colVals = all.map(_(d))
      assert(model.mins(d) == colVals.min, s"dim $d min")
      assert(math.abs(model.scales(d) - (colVals.max - colVals.min) / 255.0) < 1e-15,
        s"dim $d scale")
    }
    // encode emits full-width codes; knn returns k rows/query with
    // near-flat recall at this dim
    val codes = Sq8Index.encode(corpus, model).cache()
    assert(codes.select(size(col("code"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(dim))
    val k = 5
    val approx = Sq8Index.knnBlocked(codes, model, queries, k)
    assert(approx.groupBy("query_id").count().collect().forall(_.getLong(1) == k))
    val exact = FlatIndex.knn(corpus, queries, k, Metric.L2)
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .intersect(exact.select(col("query_id"), col("neighbor_id"))).count()
    assert(hits.toDouble / exact.count() >= 0.9, "high-dim SQ8 recall < 0.9")
    codes.unpersist(); corpus.unpersist()
  }

  test("IvfSq8Server (probe-pruned composite serving) equals the composite " +
      "batch plan per query") {
    val (corpus, queries) = vecs
    val ivf = IvfIndex.trainDeterministic(corpus, 16, Metric.L2)
    val sq = Sq8Index.train(corpus, Metric.L2)
    val codes = Sq8Index.encode(corpus, sq)
      .join(IvfIndex.assign(corpus, ivf).select(col("id"), col("cluster_id")), "id")
    // the knn_ivfsq8_det batch shape: assignment on exact vectors,
    // ranking on dequantized payloads within the probed clusters
    val recon = codes.select(col("id"), Sq8Index.decode(col("code"), sq).as("vec"),
      col("cluster_id"))
    val batch = IvfIndex.search(recon, ivf, queries, 10, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    val server = new graft.query.IvfSq8Server(codes.repartition(4), sq, ivf).warm()
    queries.collect().foreach { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      val served = server.search(q, 10, 4)
      val expected = batch(qid).sortBy(_._4).map(t => (t._2, t._3, t._4))
      assert(served.map(t => (t._1, math.round(t._2 * 1e9) / 1e9, t._3)).toSeq ==
        expected.map(t => (t._1, math.round(t._2 * 1e9) / 1e9, t._3)).toSeq,
        s"query $qid")
    }
    server.unpersist()
  }

  test("IndexBuilder accepts sq8 as an index type") {
    val (corpus, queries) = vecs
    val s = graft.query.IndexBuilder().withIndexType("sq8").build(corpus).withK(5)
    assert(s.search(queries).count() == 5 * VectorQueries.QueryIds)
  }
}

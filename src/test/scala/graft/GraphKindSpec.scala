package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.query._

/** The graph kinds (HNSW, routed HNSW and its replicated build) run one
  * scan in every shape ([[graft.query.GraphKind]]), so on adversarial
  * inputs every shape must answer row for row alike: the blocked kernel,
  * the distributed server's single and batch entries, the local server's
  * single and batch entries, and the facade's `localServer()`. The
  * inputs are the ones where a merge, a shard walk or a pack could part
  * ways: duplicate vectors tying at the k-th key across shards, k larger
  * than a shard and than n, a serving partition left empty, and dim 1.
  */
class GraphKindSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  import spark.implicits._

  private val l2 = Metric.L2
  private type Hits = Seq[(Long, Double, Int)]

  private def corpus(rows: Seq[(Long, Seq[Double])]): DataFrame = rows.toDF("id", "vec")

  private def queries(qs: Seq[Seq[Double]]): DataFrame =
    qs.zipWithIndex.map { case (q, i) => (100L + i, q) }.toDF("query_id", "qvec")

  private def perQuery(df: DataFrame): Map[Long, Hits] =
    df.select("query_id", "neighbor_id", "distance", "rank").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(_._3).toSeq }

  /** One graph served in all six shapes. */
  private case class Shapes(blocked: DataFrame => DataFrame,
      dist: (Array[Double], Int) => Hits, distBatch: DataFrame => DataFrame,
      local: (Array[Double], Int) => Hits, localBatch: (Array[Array[Double]], Int) => Seq[Hits],
      facade: LocalServer, release: () => Unit)

  private def hnsw(graph: DataFrame, numShards: Int, k: Int, ef: Int): Shapes = {
    val d = new HnswServer(graph, l2, numShards).warm()
    val l = new LocalHnswServer(graph, l2, numShards)
    Shapes(HnswIndex.knnBlocked(graph, _, k, l2, ef, numShards),
      d.search(_, _, ef).toSeq, d.searchBatch(_, k, ef),
      l.search(_, _, ef).toSeq, l.searchBatch(_, _, ef).map(_.toSeq).toSeq,
      Searcher(HnswKind(graph, l2, numShards)).withEfSearch(ef).localServer(),
      () => d.unpersist())
  }

  private def routed(graph: DataFrame, model: RoutedHnswModel, k: Int, r: Int, ef: Int): Shapes = {
    val d = new RoutedHnswServer(graph, model).warm()
    val l = new LocalRoutedHnswServer(graph, model)
    Shapes(RoutedHnswIndex.knn(graph, model, _, k, r, ef),
      d.search(_, _, r, ef).toSeq, d.searchBatch(_, k, r, ef),
      l.search(_, _, r, ef).toSeq, l.searchBatch(_, _, r, ef).map(_.toSeq).toSeq,
      Searcher(RoutedHnswKind(model, graph)).withNprobe(r).withEfSearch(ef).localServer(),
      () => d.unpersist())
  }

  /** Every shape ≡ the blocked kernel, row for row, on every query; a
    * query with no answer (every probed shard empty) is empty in all. */
  private def assertParity(label: String, s: Shapes, qdf: DataFrame, k: Int,
      minRows: Int): Unit = {
    val qs = qdf.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val blocked = perQuery(s.blocked(qdf))
    val distBatch = perQuery(s.distBatch(qdf))
    val localBatch = s.localBatch(qs.map(_._2), k)
    val facadeBatch = s.facade.searchBatch(qs.map(_._2), k)
    qs.zipWithIndex.foreach { case ((qid, q), i) =>
      val want = blocked.getOrElse(qid, Seq.empty)
      assert(want.length >= minRows && want.length <= k, s"$label query $qid: ${want.length} rows")
      assert(s.dist(q, k) == want, s"$label query $qid: distributed search")
      assert(distBatch.getOrElse(qid, Seq.empty) == want, s"$label query $qid: distributed batch")
      assert(s.local(q, k) == want, s"$label query $qid: local search")
      assert(localBatch(i) == want, s"$label query $qid: local batch")
      assert(s.facade.search(q, k).toSeq == want, s"$label query $qid: facade local search")
      assert(facadeBatch(i).toSeq == want, s"$label query $qid: facade local batch")
    }
    s.release()
  }

  /** 48 rows over six distinct 4-d vectors, eight copies each: a query
    * on one of them ties at distance 0 far past k = 3, across shards. */
  private lazy val dupes: DataFrame = corpus((0L until 48L).map { id =>
    val c = (id % 6).toDouble
    (id, Seq(c, c * 0.5, 1.0 - c, 2.0))
  }).cache()

  private def dupeQueries: DataFrame =
    queries(Seq(Seq(0.0, 0.0, 1.0, 2.0), Seq(3.0, 1.5, -2.0, 2.0), Seq(2.4, 1.2, -1.4, 2.0)))

  test("hnsw: duplicate vectors tie at the k-th key across shards") {
    val graph = HnswIndex.build(dupes, 4, l2)
    assert(graph.select("shard").distinct().count() > 1)
    val qdf = dupeQueries
    assertParity("ties", hnsw(graph, 4, 3, 64), qdf, 3, 3)
    // the tie breaks by id: the exact query's three answers are the
    // lowest ids holding its vector, whichever shards they live in
    val exact = perQuery(HnswIndex.knnBlocked(graph, qdf.limit(1), 3, l2, 64, 4))(100L)
    assert(exact.map(_._1) == Seq(0L, 6L, 12L) && exact.forall(_._2 == 0.0), exact)
  }

  test("hnsw: k larger than a shard and than n, with the shard count discovered") {
    val tiny = corpus((0L until 5L).map(id => (id, Seq(id.toDouble, -id.toDouble))))
    val graph = HnswIndex.build(tiny, 4, l2)
    val qdf = queries(Seq(Seq(0.2, 0.1), Seq(4.0, -4.0)))
    assertParity("k > n", hnsw(graph, -1, 10, 16), qdf, 10, 5)
  }

  test("hnsw: a serving partition left empty, and dim 1") {
    // eleven rows on shard 1, one on shard 0: the range split of two
    // shards puts every row under its first bound, so the second serving
    // partition holds no graph
    val rows = (0L until 12L).map(id => (if (id == 0) 0 else 1, id, Seq((id % 4).toDouble)))
    val graph = HnswIndex.buildFromShardCol(rows.toDF("shard", "id", "vec"), 2, l2,
      HnswIndex.M, HnswIndex.EfConstruction)
    val sizes = HnswIndex.shardGrouped(graph, 2).rdd.mapPartitions(it => Iterator(it.size))
      .collect()
    assert(sizes.contains(0), s"expected an empty partition, got ${sizes.toSeq}")
    val qdf = queries(Seq(Seq(0.0), Seq(2.5), Seq(-7.0)))
    Seq(1, 3, 12, 20).foreach { k =>
      assertParity(s"empty partition, dim 1, k = $k", hnsw(graph, 2, k, 16), qdf, k,
        math.min(k, 12))
    }
  }

  /** Two hand-placed regions (2-d): one row near (0, 0), eleven near
    * (10, 10), and boundary rows halfway for the replicated build. */
  private lazy val twoRegions: (DataFrame, RoutedHnswModel) = {
    val rows = (0L until 12L).map { id =>
      if (id == 0) (id, Seq(0.5, 0.0))
      else if (id < 4) (id, Seq(5.0 + 0.1 * id, 5.0)) // boundary: near both
      else (id, Seq(10.0 + (id % 3), 10.0))
    }
    (corpus(rows).cache(), RoutedHnswModel(Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)), Seq(1, 1), l2))
  }

  test("routed: ties, k > n, an empty serving partition, one region or both probed") {
    val (c, model) = twoRegions
    val graph = RoutedHnswIndex.build(c, model)
    val sizes = HnswIndex.shardGrouped(graph, model.numShards).rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.contains(0), s"expected an empty partition, got ${sizes.toSeq}")
    val qdf = queries(Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(5.0, 5.0), Seq(11.0, 10.0)))
    for (r <- Seq(1, 2); k <- Seq(2, 20))
      assertParity(s"routed R=$r k=$k", routed(graph, model, k, r, 16), qdf, k, 1)
  }

  test("routed: a replicated build surfaces boundary ids once in every shape") {
    val (c, model) = twoRegions
    val graph = RoutedHnswIndex.buildReplicated(c, model, eps = 10.0, maxReplicas = 2)
    assert(graph.count() > c.count(), "the closure must replicate the boundary rows")
    val qdf = queries(Seq(Seq(5.0, 5.0), Seq(0.0, 0.0), Seq(10.0, 10.0)))
    for (k <- Seq(3, 20)) {
      val s = routed(graph, model, k, 2, 16)
      val ids = perQuery(s.blocked(qdf)).values.map(_.map(_._1))
      assert(ids.forall(h => h.distinct.length == h.length), s"duplicate id in $ids")
      assertParity(s"replicated k=$k", s, qdf, k, math.min(k, 12))
    }
  }

  test("routed: dim 1 over trained regions, duplicates across sub-shards") {
    val c = corpus((0L until 40L).map(id => (id, Seq((id % 5).toDouble))))
    val model = RoutedHnswIndex.train(c, nlist = 2, l2, targetShardRows = 8)
    assert(model.numShards > 2, "regions must split into several sub-shards")
    val graph = RoutedHnswIndex.build(c, model)
    val qdf = queries(Seq(Seq(0.0), Seq(2.0), Seq(4.4)))
    for (r <- Seq(1, 2))
      assertParity(s"routed dim 1 R=$r", routed(graph, model, 4, r, 16), qdf, 4, 4)
  }

  test("both graph serving shapes reject k <= 0, a wrong-length query and a NaN query") {
    val (c, model) = twoRegions
    val q = Array(1.0, 2.0)
    val bad = Seq(
      (q, 0, "serving requires k > 0, got 0"),
      (Array(1.0, 2.0, 3.0), 3, "query has 3 components, the index dim is 2"),
      (Array(1.0), 3, "query has 1 components, the index dim is 2"),
      (Array(1.0, Double.NaN), 3, "query component 1 is NaN"))
    val graph = HnswIndex.build(c, 2, l2)
    val rgraph = RoutedHnswIndex.build(c, model)
    val (hd, hl) = (new HnswServer(graph, l2, 2).warm(), new LocalHnswServer(graph, l2, 2))
    val (rd, rl) = (new RoutedHnswServer(rgraph, model).warm(),
      new LocalRoutedHnswServer(rgraph, model))
    def batch(bq: Array[Double]) = queries(Seq(q.toSeq, bq.toSeq))
    val kinds = Seq[(String, (Array[Double], Int) => Seq[(String, () => Any)])](
      "hnsw" -> ((bq, k) => Seq(
        "distributed" -> (() => hd.search(bq, k)),
        "distributed batch" -> (() => hd.searchBatch(batch(bq), k)),
        "local" -> (() => hl.search(bq, k)),
        "local batch" -> (() => hl.searchBatch(Array(q, bq), k)))),
      "routed" -> ((bq, k) => Seq(
        "distributed" -> (() => rd.search(bq, k, 1)),
        "distributed batch" -> (() => rd.searchBatch(batch(bq), k, 1)),
        "local" -> (() => rl.search(bq, k, 1)),
        "local batch" -> (() => rl.searchBatch(Array(q, bq), k, 1)))))
    for ((name, shapes) <- kinds; (bq, k, msg) <- bad; (shape, run) <- shapes(bq, k)) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(msg), s"$name $shape: ${e.getMessage}")
    }
    hd.unpersist()
    rd.unpersist()
  }
}

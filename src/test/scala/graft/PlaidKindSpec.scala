package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.index.PlaidIndex
import graft.index.PlaidIndex.PlaidModel
import graft.query.{LocalPlaidServer, PlaidKind, PlaidServer, ServeBlocks}

/** PLAID runs one scan kind ([[graft.query.PlaidKind]]) in both serving
  * shapes, so on adversarial inputs the distributed and the local server
  * must answer row for row alike, and their first stage must pool the
  * plan's candidates (`PlaidIndex.candidates`). The corpus is served over
  * several packs with a serving partition left empty, and the inputs are
  * the ones where a pack scan or the merge could part ways: duplicate
  * texts tying at the topN-th key across packs, topN above the candidate
  * count, a query whose probed centroids hold no other doc, the query's
  * own doc, and k above topN.
  */
class PlaidKindSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Four copies of one text (a tie group), docs sharing some of its
    * tokens or each other's, and a loner whose tokens no other doc has. */
  private val Dupes = Seq(1L, 4L, 7L, 10L)
  private val Loner = 12L
  private lazy val texts: Seq[(Long, String)] =
    Dupes.map(_ -> "alpha beta gamma") ++ Seq(
      2L -> "alpha delta",
      3L -> "beta epsilon zeta",
      5L -> "gamma eta theta",
      6L -> "delta theta iota",
      8L -> "kappa lambda alpha",
      9L -> "mu nu",
      11L -> "nu xi omicron",
      Loner -> "omega psi")

  private lazy val docs: DataFrame = texts.toDF("doc_id", "text").cache()

  /** `body` with the serving frame left at eight hash partitions of
    * doc_id, so the corpus spreads over several packs (adaptive execution
    * would coalesce a corpus this small into one). */
  private def spread[T](body: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "8")
    val old = keys.map { case (key, _) => key -> spark.conf.getOption(key) }
    keys.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally old.foreach { case (key, v) => v.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
  }

  /** The serving partition of each doc, and each partition's doc count. */
  private def packs(post: DataFrame): (Map[Long, Int], Seq[Int]) = {
    val served = PlaidKind.served(docs, post).select(col("doc_id").cast("long")).rdd
      .coalesce(ServeBlocks.ServePartitions, shuffle = false)
    (served.mapPartitionsWithIndex((i, rows) => rows.map(r => (r.getLong(0), i))).collect().toMap,
      served.mapPartitions(rows => Iterator(rows.size)).collect().toSeq)
  }

  /** The plan's first-stage pool of topN per query. */
  private def planCandidates(post: DataFrame, model: PlaidModel, topN: Int): Map[Long, Set[Long]] =
    PlaidIndex.candidates(post, docs.select(col("doc_id").as("query_id"), col("text")), model, topN)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  /** Every query, at every (topN, k): distributed ≡ local row for row,
    * the local pool ≡ the plan's, the query's own doc absent, at most
    * min(topN, k) rows, and a full answer when the pool allows one. */
  private def assertParity(label: String, model: PlaidModel): Unit = spread {
    val post = PlaidIndex.build(docs, model).cache()
    val (packOf, sizes) = packs(post)
    assert(sizes.contains(0), s"$label: expected an empty serving partition, got $sizes")
    assert(sizes.count(_ > 0) >= 2, s"$label: expected two packs or more, got $sizes")
    assert(Dupes.map(packOf).distinct.length >= 2, s"$label: the tie group sits in one pack")
    val dist = new PlaidServer(docs, post, model).warm()
    val local = new LocalPlaidServer(docs, post, model)
    for ((topN, k) <- Seq((1, 1), (2, 5), (3, 2), (50, 10))) {
      val plan = planCandidates(post, model, topN)
      texts.foreach { case (qid, text) =>
        val at = s"$label query $qid topN $topN k $k"
        val want = dist.search(qid, text, topN, k).toSeq
        assert(local.search(qid, text, topN, k).toSeq == want, s"$at: local search")
        val pool = local.candidates(qid, text, topN)
        assert(pool.toSet == plan.getOrElse(qid, Set.empty), s"$at: candidates")
        assert(!pool.contains(qid) && !want.exists(_._1 == qid), s"$at: own doc")
        assert(want.length == math.min(k, pool.length), s"$at: ${want.length} rows")
        assert(want.map(_._4) == (1 to want.length), s"$at: ranks")
      }
    }
    dist.unpersist()
    post.unpersist()
  }

  test("every token its own centroid, nprobe 1: ties across packs, topN above the pool, " +
      "a loner whose probed centroids hold no other doc") {
    val model = PlaidIndex.train(docs, 1000, 1)
    assertParity("C = vocab", model)
    spread {
      val post = PlaidIndex.build(docs, model).cache()
      val local = new LocalPlaidServer(docs, post, model)
      val dupe = texts.head._2
      // the three other copies tie at the best key; topN 2 keeps the
      // lowest ids, whichever packs they live in
      assert(local.candidates(1L, dupe, 2).toSeq == Seq(4L, 7L))
      assert(local.candidates(10L, dupe, 2).toSeq == Seq(1L, 4L))
      val ranked = local.search(1L, dupe, 3, 3)
      assert(ranked.map(_._1).toSeq == Seq(4L, 7L, 10L) && ranked.map(_._2).distinct.length == 1)
      // topN above the pool: doc 9's pool is doc 11 alone
      assert(local.search(9L, "mu nu", 50, 10).map(_._1).toSeq == Seq(11L))
      assert(planCandidates(post, model, 50).get(Loner).forall(_.isEmpty))
      assert(local.search(Loner, "omega psi", 50, 10).isEmpty)
      post.unpersist()
    }
  }

  test("a coarse quantizer, nprobe 2: the first stage approximates and the rerank reorders") {
    assertParity("C = 4", PlaidIndex.train(docs, 4, 2))
  }

  test("both PLAID shapes reject topN <= 0, k <= 0 and a null text with one message") {
    val model = PlaidIndex.train(docs, 4, 2)
    val post = PlaidIndex.build(docs, model).cache()
    val dist = new PlaidServer(docs, post, model).warm()
    val local = new LocalPlaidServer(docs, post, model)
    val text = texts.head._2
    val bad = Seq(
      (text, 0, 10, "serving requires topN, k > 0, got 0, 10"),
      (text, -1, 10, "serving requires topN, k > 0, got -1, 10"),
      (text, 20, 0, "serving requires topN, k > 0, got 20, 0"),
      (null, 20, 10, "serving requires a query text, got null"))
    for ((t, topN, k, msg) <- bad; (shape, run) <- Seq[(String, () => Any)](
        "distributed" -> (() => dist.search(1L, t, topN, k)),
        "local" -> (() => local.search(1L, t, topN, k)))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(msg), s"$shape: ${e.getMessage}")
    }
    for ((t, topN, msg) <- Seq((text, 0, "serving requires topN, k > 0, got 0, 0"),
        (null, 20, "serving requires a query text, got null"))) {
      val e = intercept[IllegalArgumentException](local.candidates(1L, t, topN))
      assert(e.getMessage.contains(msg), s"local candidates: ${e.getMessage}")
    }
    dist.unpersist()
    post.unpersist()
  }
}

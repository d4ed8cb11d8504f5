package graft

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.io.IndexIO
import graft.query._

/** The facade serves from resident packs: a [[graft.query.Searcher]]
  * packs its index on the first k > 0 search, its option copies share
  * those packs, and `close()` releases them. For every kind, on a corpus
  * of four blocks, the facade must answer row for row like the index
  * object's own blocked kernel (which packs afresh per call), across
  * consecutive calls and option copies, on k > n and on a zero-row
  * corpus; and a warm call must cost one job and no shuffle, which fails
  * under a re-pack per call or per copy. Lost packs are rebuilt by the
  * next search, a close() from another thread never fails a running
  * search, and an index the packed scan cannot serve (LSH over 31
  * planes) still opens and runs its plan form. Alongside: an unbounded
  * range search on a non-flat kind, and the PLAID servers' broadcast
  * release.
  */
class ResidentFacadeSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  import spark.implicits._
  import TestSession.JobCounter

  private val l2 = Metric.L2
  private val Dim = 8
  private val K = 5

  private type Hit = (Long, Long, Double, Int)

  /** 380 scattered vectors and four more copies of each of the first
    * five (ties at distance 0 across blocks), over four partitions. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 380).map(_ => Seq.fill(Dim)(rnd.nextGaussian() * (1 + rnd.nextInt(3))))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 20).map(i => ((380 + i).toLong, base(i % 5)))
    pin(rows.toDF("id", "vec").repartition(4))
  }

  /** Cached and materialized, so that no later call caches it. */
  private def pin(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  private lazy val n: Int = corpus.count().toInt

  private lazy val empty: DataFrame = pin(corpus.where(col("id") < 0))

  /** Six queries: an exact copy of a duplicated vector, and five others. */
  private lazy val queries: DataFrame = {
    val rnd = new scala.util.Random(11)
    val v0 = corpus.where(col("id") === 0L).head().getSeq[Double](1)
    ((100L, v0) +: (1 to 5).map(i => (100L + i, Seq.fill(Dim)(rnd.nextGaussian() * 2))))
      .toDF("query_id", "qvec")
  }

  private def hits(df: DataFrame): Seq[Hit] =
    df.collect().map((r: Row) => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("distance"), r.getAs[Int]("rank")))
      .sortBy(h => (h._1, h._4)).toSeq

  /** One kind over a served table: its facade kind and the index
    * object's blocked kernel at the given options. */
  private final case class Served(kind: IndexKind, kernel: (DataFrame, SearchOptions) => DataFrame)

  /** Every kind, keyed by name: models trained once on the corpus, the
    * served table built from the table passed in. */
  private lazy val kinds: Seq[(String, DataFrame => Served)] = {
    val ivf = IvfIndex.trainDeterministic(corpus, 8, l2)
    val pq = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, l2)
    val sq8 = Sq8Index.train(corpus, l2)
    val ivfpq = IvfPqIndex.trainDeterministic(corpus, nlist = 8, m = 4, ksub = 16, l2)
    val opq = OpqIndex.train(corpus, 4, nbits = 4, l2)
    val bq = BqIndex.train(corpus, l2)
    val routed = RoutedHnswIndex.train(corpus, 4, l2, targetShardRows = 64)
    val planes = 6
    def hamming(o: SearchOptions) = if (o.efSearch >= 1) 1 else 0
    Seq(
      "flat" -> (c => Served(FlatKind(c, l2), (q, o) => FlatIndex.knnBlocked(c, q, o.k, l2))),
      "ivf" -> { c =>
        val a = pin(IvfIndex.assign(c, ivf))
        Served(IvfKind(ivf, a), (q, o) => IvfIndex.searchBlocked(a, ivf, q, o.k, o.nprobe))
      },
      "pq" -> { c =>
        val x = pin(PqIndex.encode(c, pq))
        Served(PqKind(pq, x), (q, o) => PqIndex.knnBlocked(x, pq, q, o.k))
      },
      "sq8" -> { c =>
        val x = pin(Sq8Index.encode(c, sq8))
        Served(Sq8Kind(sq8, x), (q, o) => Sq8Index.knnBlocked(x, sq8, q, o.k))
      },
      "ivfpq" -> { c =>
        val x = pin(IvfPqIndex.encode(c, ivfpq))
        Served(IvfPqKind(ivfpq, x), (q, o) => IvfPqIndex.searchBlocked(x, ivfpq, q, o.k, o.nprobe))
      },
      "opq" -> { c =>
        val x = pin(OpqIndex.encode(c, opq))
        Served(OpqKind(opq, x), (q, o) => OpqIndex.knnBlocked(x, opq, q, o.k))
      },
      "bq" -> { c =>
        val x = pin(BqIndex.encode(c, bq))
        Served(BqKind(bq, x), (q, o) => BqIndex.searchBlocked(x, bq, q, o.k))
      },
      "lsh" -> { c =>
        val x = pin(LshIndex.index(c, planes))
        Served(LshKind(planes, x, l2),
          (q, o) => LshIndex.knnBlocked(x, q, o.k, planes, l2, hamming(o)))
      },
      "hnsw" -> { c =>
        val g = pin(HnswIndex.build(c, 4, l2))
        Served(HnswKind(g, l2, 4), (q, o) => HnswIndex.knnBlocked(g, q, o.k, l2, o.efSearch, 4))
      },
      "hnsw_routed" -> { c =>
        val g = pin(RoutedHnswIndex.build(c, routed))
        Served(RoutedHnswKind(routed, g),
          (q, o) => RoutedHnswIndex.knn(g, routed, q, o.k, o.nprobe, o.efSearch))
      })
  }

  private def cachedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `s.search(queries)` and what it cost. */
  private def timedSearch(s: Searcher): (Seq[Hit], TestSession.Counts) = {
    val m = JobCounter.mark()
    val df = s.search(queries)
    val cost = JobCounter.since(m)
    (hits(df), cost)
  }

  test("every kind: the facade ≡ the blocked kernel across calls and option copies, " +
      "one job and no shuffle per warm call, one set of packs per searcher") {
    for ((name, make) <- kinds) {
      val served = make(corpus)
      val s = Searcher(served.kind).withK(K).withNprobe(3).withEfSearch(32)
      def want(o: SearchOptions) = hits(served.kernel(queries, o))
      val before = cachedRdds
      val (first, _) = timedSearch(s)
      assert(first == want(s.options), s"$name: first call")
      assert(first.nonEmpty, name)
      val packs = cachedRdds -- before
      assert(packs.size == 1, s"$name: the first call caches one set of packs, got $packs")
      val (second, warm) = timedSearch(s)
      assert(second == first, s"$name: second call")
      assert(warm == TestSession.Counts(1, 0), s"$name: a warm call costs $warm")
      for (copy <- Seq(s.withK(3), s.withNprobe(8), s.withEfSearch(8), s.withK(K + 2).withNprobe(1))) {
        val (got, cost) = timedSearch(copy)
        assert(got == want(copy.options), s"$name: copy ${copy.options}")
        assert(cost == TestSession.Counts(1, 0), s"$name: copy ${copy.options} costs $cost")
      }
      assert(cachedRdds -- before == packs, s"$name: the copies share the packs")
      s.withK(1).close()
      assert((cachedRdds -- before).isEmpty, s"$name: close() from a copy releases the packs")
      s.close()
    }
  }

  test("every kind: k > n and a zero-row corpus answer like the blocked kernel") {
    for ((name, make) <- kinds) {
      val big = make(corpus)
      val s = Searcher(big.kind).withK(n + 5).withNprobe(8).withEfSearch(16)
      val got = hits(s.search(queries))
      assert(got == hits(big.kernel(queries, s.options)), s"$name: k > n")
      s.close()
      val none = make(empty)
      val e = Searcher(none.kind).withK(K)
      assert(hits(e.search(queries)).isEmpty, s"$name: zero-row corpus")
      assert(hits(none.kernel(queries, e.options)).isEmpty, s"$name: zero-row kernel")
      e.close()
    }
  }

  test("close() releases the packs and the next search rebuilds them") {
    for ((name, make) <- kinds) {
      val s = Searcher(make(corpus).kind).withK(K)
      val before = cachedRdds
      val (first, _) = timedSearch(s)
      s.close()
      assert((cachedRdds -- before).isEmpty, s"$name: closed")
      val (again, cost) = timedSearch(s)
      assert(again == first, s"$name: after close")
      assert(cost.jobs > 1, s"$name: the search after close packs again ($cost)")
      assert((cachedRdds -- before).size == 1, s"$name: rebuilt packs")
      s.close()
      s.close()
      assert((cachedRdds -- before).isEmpty, s"$name: closed twice")
    }
  }

  test("packs lost behind the searcher are dropped and the search packs again") {
    for ((name, make) <- Seq(kinds.head, kinds.find(_._1 == "hnsw").get)) {
      val s = Searcher(make(corpus).kind).withK(K)
      val before = cachedRdds
      val (first, _) = timedSearch(s)
      // what an executor loss does to the packs: their blocks are gone
      val sc = spark.sparkContext
      (cachedRdds -- before).foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
      val (again, cost) = timedSearch(s)
      assert(again == first, s"$name: after the loss")
      assert(cost.jobs > 1, s"$name: the lost packs were rebuilt ($cost)")
      assert((cachedRdds -- before).size == 1, s"$name: one set of packs again")
      val (warm, warmCost) = timedSearch(s)
      assert(warm == first && warmCost == TestSession.Counts(1, 0), s"$name: $warmCost")
      s.close()
      assert((cachedRdds -- before).isEmpty, s"$name: closed")
    }
  }

  test("close() from another thread never fails a running search") {
    val make = kinds.find(_._1 == "ivf").get._2
    val s = Searcher(make(corpus).kind).withK(K).withNprobe(3)
    val before = cachedRdds
    val (want, _) = timedSearch(s)
    @volatile var searching = true
    val closer = new Thread(() => while (searching) { s.withK(1).close(); Thread.sleep(2) })
    closer.start()
    try for (i <- 0 until 15) assert(hits(s.search(queries)) == want, s"search $i")
    finally { searching = false; closer.join() }
    s.close()
    assert((cachedRdds -- before).isEmpty, "packs left after the last close")
  }

  test("a 40-plane LSH index opens, reconstructs and runs the k <= 0 plan") {
    // the packed scan groups buckets by int tag (planes <= 31); the
    // plan forms take up to 62 planes, and so must everything but a k > 0 search
    val path = Files.createTempDirectory("graft_lsh40").toString
    val indexed = LshIndex.index(corpus, 40)
    IndexIO.saveLsh(spark, path, indexed, 40, l2)
    val s = Searcher.open(spark, path)
    assert(s.reconstruct().count() == n)
    val got = hits(s.withK(0).withEfSearch(0).search(queries))
    assert(got.nonEmpty)
    assert(got == hits(LshIndex.knnBlocked(indexed, queries, 0, 40, l2)))
    s.close()
  }

  test("a NaN and a wrong-length query are rejected with the serving check's message") {
    val nan = Seq((1L, Seq.fill(Dim)(0.5).updated(2, Double.NaN))).toDF("query_id", "qvec")
    val short = Seq((1L, Seq(0.5, 0.5, 0.5))).toDF("query_id", "qvec")
    for ((name, make) <- kinds) {
      val s = Searcher(make(corpus).kind).withK(K)
      val e1 = intercept[IllegalArgumentException](s.search(nan))
      assert(e1.getMessage.contains("query component 2 is NaN, not a finite number"), s"$name: $e1")
      val e2 = intercept[IllegalArgumentException](s.search(short))
      assert(e2.getMessage.contains(s"query has 3 components, the index dim is $Dim"), s"$name: $e2")
      s.close()
    }
  }

  test("k <= 0 takes the kind's plan form and packs nothing") {
    for ((name, make) <- kinds) {
      val served = make(corpus)
      val s = Searcher(served.kind).withK(0).withNprobe(2)
      val before = cachedRdds
      val got = hits(s.search(queries))
      assert(got == hits(served.kernel(queries, s.options)), name)
      assert(got.size > queries.count() * K, s"$name: all rows, got ${got.size}")
      assert(cachedRdds == before, s"$name: the plan form cached something")
    }
  }

  test("Searcher.open pins no table; open → search → close → search leaves no packs behind") {
    val path = Files.createTempDirectory("graft_resident").toString
    IndexIO.saveHnsw(spark, path, HnswIndex.build(corpus, 4, l2), l2, HnswIndex.M,
      HnswIndex.EfConstruction)
    val before = cachedRdds
    val s = Searcher.open(spark, path).withK(K)
    assert(cachedRdds == before, "open cached a table")
    val (first, _) = timedSearch(s)
    assert((cachedRdds -- before).size == 1)
    val (second, warm) = timedSearch(s)
    assert(second == first && warm == TestSession.Counts(1, 0), s"warm call: $warm")
    s.close()
    assert(cachedRdds == before, "close left a cached RDD")
    val (again, _) = timedSearch(s)
    assert(again == first)
    s.close()
    assert(cachedRdds == before, "the second close left a cached RDD")
  }

  test("an unbounded range search takes the all-rows path: IVF and HNSW ≡ the flat radius " +
      "over the same candidates") {
    val threshold = 3.0
    def flatRange(cands: DataFrame, q: DataFrame): Seq[Hit] =
      hits(FlatIndex.rangeSearch(cands.select(col("id"), col("vec")), q, threshold, l2))

    val ivf = IvfIndex.trainDeterministic(corpus, 8, l2)
    val assigned = pin(IvfIndex.assign(corpus, ivf))
    val nprobe = 3
    val gotIvf = hits(Searcher(IvfKind(ivf, assigned)).withNprobe(nprobe)
      .rangeSearch(queries, threshold))
    val probes = IvfIndex.probes(queries, ivf, nprobe).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("cluster_id")))
    val wantIvf = queries.collect().toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val clusters = probes.collect { case (`qid`, c) => c }
      flatRange(assigned.where(col("cluster_id").isin(clusters.map(Int.box): _*)),
        Seq((qid, r.getSeq[Double](1))).toDF("query_id", "qvec"))
    }.sortBy(h => (h._1, h._4))
    assert(wantIvf.nonEmpty && gotIvf == wantIvf)
    assigned.unpersist()

    val graph = pin(HnswIndex.build(corpus, 4, l2))
    val s = Searcher(HnswKind(graph, l2, 4))
    val gotHnsw = hits(s.rangeSearch(queries, threshold))
    val wantHnsw = flatRange(corpus, queries)
    assert(wantHnsw.nonEmpty && gotHnsw == wantHnsw)
    // a bounded range still caps each query at maxResults; the graph
    // walk's keys may differ from the exact ones in the last bits
    val capped = hits(s.rangeSearch(queries, threshold, maxResults = 2))
    val wantCapped = wantHnsw.filter(_._4 <= 2)
    assert(capped.map(h => (h._1, h._2, h._4)) == wantCapped.map(h => (h._1, h._2, h._4)))
    assert(capped.zip(wantCapped).forall { case (a, b) => math.abs(a._3 - b._3) < 1e-9 })
    s.close()
    graph.unpersist()
  }

  test("the PLAID servers destroy their centroid-table broadcast on release") {
    val docs = Seq(1L -> "alpha beta gamma", 2L -> "alpha delta", 3L -> "beta epsilon zeta",
      4L -> "gamma eta theta", 5L -> "delta theta iota", 6L -> "kappa lambda alpha")
      .toDF("doc_id", "text")
    val model = PlaidIndex.train(docs, 4, 2)
    val post = PlaidIndex.build(docs, model).cache()
    val local = new LocalPlaidServer(docs, post, model)
    val dist = new PlaidServer(docs, post, model).warm()
    assert(local.search(1L, "alpha beta gamma", 4, 2).toSeq ==
      dist.search(1L, "alpha beta gamma", 4, 2).toSeq)
    for ((name, table, release) <- Seq(("local", local.kind.table, () => local.unpersist()),
        ("distributed", dist.kind.table, () => dist.unpersist()))) {
      assert(table.value.vecs.nonEmpty, name)
      release()
      intercept[SparkException](table.value)
    }
    post.unpersist()
  }
}

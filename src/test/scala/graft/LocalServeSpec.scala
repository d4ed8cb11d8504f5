package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.query._
import graft.queries.VectorQueries

/** The in-process serving mode must be result-IDENTICAL to the
  * distributed ServingRdd siblings for every kind it covers. For the
  * packed kinds both shapes run one pack and one per-kind scan
  * ([[graft.query.PackedKind]]); these specs pin that collecting the
  * blocks instead of caching them, and the common-pool parallel merge
  * instead of the driver fold, change nothing (same (rank_key, id) total
  * order end to end), and that both shapes reject the same bad queries.
  */
class LocalServeSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  private def vecs = VectorQueries.vecTables(spark, TestSession.Sf0001)
  private val K = 10

  private def queriesArr = vecs._2.collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private type Hits = Seq[(Long, Double, Int)]

  /** A packed kind served both ways over one corpus: the local single
    * and batch searches, the distributed search, and its release. */
  private case class Served(local: (Array[Double], Int) => Hits,
      localBatch: (Array[Array[Double]], Int) => Seq[Hits],
      dist: (Array[Double], Int) => Hits, release: () => Unit)

  private def bqHits(h: Array[(Long, Long, Int)]): Hits =
    h.map { case (id, d, r) => (id, d.toDouble, r) }.toSeq

  /** Every packed kind with a distributed server, keyed by name; each
    * builds both shapes over an (id, vec) corpus with models trained once
    * on the full corpus. */
  private lazy val packedKinds: Seq[(String, DataFrame => Served)] = {
    val corpus = vecs._1
    val l2 = Metric.L2
    val ivf = IvfIndex.trainDeterministic(corpus, 8, l2)
    val pq = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, l2)
    val sq8 = Sq8Index.train(corpus, l2)
    val bq = BqIndex.train(corpus, l2)
    val ivfpq = IvfPqIndex.trainDeterministic(corpus, nlist = 8, m = 4, ksub = 16, l2)
    val opq = OpqIndex.train(corpus, 4, nbits = 4, l2)
    val planes = 8
    Seq(
      "ivf" -> { c =>
        val a = IvfIndex.assign(c, ivf)
        val (l, d) = (new LocalIvfServer(a, ivf), new IvfServer(a, ivf).warm())
        Served(l.search(_, _, 3).toSeq, l.searchBatch(_, _, 3).map(_.toSeq).toSeq,
          d.search(_, _, 3).toSeq, () => d.unpersist())
      },
      "lsh" -> { c =>
        val x = LshIndex.index(c, planes)
        val (l, d) = (new LocalLshServer(x, planes, l2), new LshServer(x, planes, l2).warm())
        Served(l.search(_, _, 1).toSeq, l.searchBatch(_, _, 1).map(_.toSeq).toSeq,
          d.search(_, _, 1).toSeq, () => d.unpersist())
      },
      "pq" -> { c =>
        val x = PqIndex.encode(c, pq)
        val (l, d) = (new LocalPqServer(x, pq), new PqServer(x, pq).warm())
        Served(l.search(_, _).toSeq, l.searchBatch(_, _).map(_.toSeq).toSeq,
          d.search(_, _).toSeq, () => d.unpersist())
      },
      "sq8" -> { c =>
        val x = Sq8Index.encode(c, sq8)
        val (l, d) = (new LocalSq8Server(x, sq8), new Sq8Server(x, sq8).warm())
        Served(l.search(_, _).toSeq, l.searchBatch(_, _).map(_.toSeq).toSeq,
          d.search(_, _).toSeq, () => d.unpersist())
      },
      "bq" -> { c =>
        val x = BqIndex.encode(c, bq)
        val (l, d) = (new LocalBqServer(x, bq), new BqServer(x, bq).warm())
        Served((q, k) => bqHits(l.search(q, k)), l.searchBatch(_, _).map(bqHits).toSeq,
          (q, k) => bqHits(d.search(q, k)), () => d.unpersist())
      },
      "ivfpq" -> { c =>
        val x = IvfPqIndex.encode(c, ivfpq)
        val (l, d) = (new LocalIvfPqServer(x, ivfpq), new IvfPqServer(x, ivfpq).warm())
        Served(l.search(_, _, 3).toSeq, l.searchBatch(_, _, 3).map(_.toSeq).toSeq,
          d.search(_, _, 3).toSeq, () => d.unpersist())
      },
      "opq" -> { c =>
        val x = OpqIndex.encode(c, opq)
        val (l, d) = (new LocalOpqServer(x, opq), new OpqServer(x, opq).warm())
        Served(l.search(_, _).toSeq, l.searchBatch(_, _).map(_.toSeq).toSeq,
          d.search(_, _).toSeq, () => d.unpersist())
      },
      "ivfsq8" -> { c =>
        val x = Sq8Index.encode(c, sq8)
          .join(IvfIndex.assign(c, ivf).select(col("id"), col("cluster_id")), "id")
        val (l, d) = (new LocalIvfSq8Server(x, sq8, ivf), new IvfSq8Server(x, sq8, ivf).warm())
        Served(l.search(_, _, 3).toSeq, l.searchBatch(_, _, 3).map(_.toSeq).toSeq,
          d.search(_, _, 3).toSeq, () => d.unpersist())
      })
  }

  /** The HNSW and routed-HNSW servers in the same three shapes, for the
    * query checks they share with the packed kinds. */
  private lazy val graphKinds: Seq[(String, DataFrame => Served)] = {
    val l2 = Metric.L2
    Seq(
      "hnsw" -> { c =>
        val g = HnswIndex.build(c, 4, l2)
        val (l, d) = (new LocalHnswServer(g, l2, 4), new HnswServer(g, l2, 4).warm())
        Served(l.search(_, _).toSeq, l.searchBatch(_, _).map(_.toSeq).toSeq,
          d.search(_, _).toSeq, () => d.unpersist())
      },
      "routed-hnsw" -> { c =>
        val model = RoutedHnswIndex.train(c, 4, l2, targetShardRows = 256)
        val g = RoutedHnswIndex.build(c, model)
        val (l, d) = (new LocalRoutedHnswServer(g, model), new RoutedHnswServer(g, model).warm())
        Served(l.search(_, _, 2).toSeq, l.searchBatch(_, _, 2).map(_.toSeq).toSeq,
          d.search(_, _, 2).toSeq, () => d.unpersist())
      })
  }

  test("local ≡ distributed for every packed kind (IVFPQ, OPQ and IVF×SQ8 " +
      "included), on the corpus in several blocks, on k > n and on a zero-row corpus") {
    val corpus = vecs._1
    val qs = queriesArr.map(_._2)
    // several partitions, so both shapes merge several blocks' heaps
    val split = corpus.repartition(4)
    val tiny = corpus.orderBy("id").limit(3)
    val empty = corpus.where(lit(false))
    for ((name, build) <- packedKinds;
        (label, c, k, maxRows) <- Seq(("corpus", split, K, K), ("k > n", tiny, K, 3),
          ("zero-row", empty, K, 0))) {
      val s = build(c)
      val batch = s.localBatch(qs, k)
      qs.indices.foreach { i =>
        val local = s.local(qs(i), k)
        assert(local == s.dist(qs(i), k), s"$name $label query $i")
        assert(batch(i) == local, s"$name $label batch query $i")
        assert(local.length <= maxRows, s"$name $label query $i: ${local.length} rows")
      }
      if (label == "corpus") assert(qs.indices.exists(i => s.local(qs(i), k).length == K))
      s.release()
    }
  }

  test("both shapes reject a query of the wrong length, with a non-finite " +
      "component, or with k <= 0 (one kind per scan family)") {
    val corpus = vecs._1
    val q = queriesArr.head._2
    val dim = q.length
    val bad = Seq(
      (q :+ 0.5, K, s"query has ${dim + 1} components, the index dim is $dim"),
      (q.init, K, s"query has ${dim - 1} components, the index dim is $dim"),
      (q.updated(3, Double.NaN), K, "query component 3 is NaN"),
      (q.updated(5, Double.PositiveInfinity), K, "query component 5 is Infinity"),
      (q.updated(0, Double.NegativeInfinity), K, "query component 0 is -Infinity"),
      (q, 0, "serving requires k > 0, got 0"))
    val kinds = packedKinds.filter(kv => Set("ivf", "lsh", "pq", "sq8", "bq")(kv._1)) ++ graphKinds
    for ((name, build) <- kinds) {
      val s = build(corpus)
      for ((bq, k, msg) <- bad) {
        val shapes = Seq[(String, () => Any)](
          "local" -> (() => s.local(bq, k)),
          "local batch" -> (() => s.localBatch(Array(q, bq), k)),
          "distributed" -> (() => s.dist(bq, k)))
        for ((shape, run) <- shapes) {
          val e = intercept[IllegalArgumentException](run())
          assert(e.getMessage.contains(msg), s"$name $shape: ${e.getMessage}")
        }
      }
      s.release()
    }
  }

  test("every shape rejects a code table of another model's width, naming the id") {
    val (corpus, queries) = vecs
    val q = queriesArr.head._2
    val l2 = Metric.L2
    val dim = q.length
    val half = corpus.select(col("id"),
      org.apache.spark.sql.functions.slice(col("vec"), 1, dim / 2).as("vec"))
    // codes of another model: PQ/IVFPQ with M = 2 against M = 4, SQ8 and
    // BQ of the corpus cut to half its dims
    val pq = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, l2)
    val pqCodes = PqIndex.encode(corpus, PqIndex.trainDeterministic(corpus, m = 2, ksub = 16, l2))
    val ivfpq = IvfPqIndex.trainDeterministic(corpus, nlist = 8, m = 4, ksub = 16, l2)
    val ivfpqCodes = IvfPqIndex.encode(corpus,
      IvfPqIndex.trainDeterministic(corpus, nlist = 8, m = 2, ksub = 16, l2))
    val sq8 = Sq8Index.train(corpus, l2)
    val sq8Codes = Sq8Index.encode(half, Sq8Index.train(half, l2))
    val bq = BqIndex.train(corpus, l2)
    val bqCodes = BqIndex.encode(half, BqIndex.train(half, l2))
    val cases = Seq[(String, String, Seq[(String, () => Any)])](
      ("pq", "has 2 elements, the model fixes 4", Seq(
        "blocked" -> (() => PqIndex.knnBlocked(pqCodes, pq, queries, K)),
        "local" -> (() => new LocalPqServer(pqCodes, pq).search(q, K)),
        "distributed" -> { () =>
          val d = new PqServer(pqCodes, pq); try d.warm() finally d.unpersist()
        })),
      ("ivfpq", "has 2 elements, the model fixes 4", Seq(
        "blocked" -> (() => IvfPqIndex.searchBlocked(ivfpqCodes, ivfpq, queries, K, 3)),
        "local" -> (() => new LocalIvfPqServer(ivfpqCodes, ivfpq).search(q, K, 3)),
        "distributed" -> { () =>
          val d = new IvfPqServer(ivfpqCodes, ivfpq); try d.warm() finally d.unpersist()
        })),
      ("sq8", s"has ${dim / 2} elements, the model fixes $dim", Seq(
        "blocked" -> (() => Sq8Index.knnBlocked(sq8Codes, sq8, queries, K)),
        "local" -> (() => new LocalSq8Server(sq8Codes, sq8).search(q, K)),
        "distributed" -> { () =>
          val d = new Sq8Server(sq8Codes, sq8); try d.warm() finally d.unpersist()
        })),
      ("bq", s"has ${(dim / 2 + 31) / 32} elements, the model fixes ${bq.words}", Seq(
        "blocked" -> (() => BqIndex.knnBlocked(bqCodes, bq, queries, K)),
        "local" -> (() => new LocalBqServer(bqCodes, bq).search(q, K)),
        "distributed" -> { () =>
          val d = new BqServer(bqCodes, bq); try d.warm() finally d.unpersist()
        })))
    for ((name, msg, shapes) <- cases; (shape, run) <- shapes) {
      val e = intercept[Exception](run())
      assert(e.getMessage.contains(msg) && e.getMessage.contains("code for id="),
        s"$name $shape: ${e.getMessage}")
    }
  }

  test("every LSH shape rejects planes outside [1, 31] when its kind is built") {
    val (corpus, queries) = vecs
    val indexed = LshIndex.index(corpus, 40)
    for (planes <- Seq(0, 32, 40)) {
      val shapes = Seq[(String, () => Any)](
        "blocked" -> (() => LshIndex.knnBlocked(indexed, queries, K, planes, Metric.L2)),
        "local" -> (() => new LocalLshServer(indexed, planes, Metric.L2)),
        "distributed" -> (() => new LshServer(indexed, planes, Metric.L2)))
      for ((shape, run) <- shapes) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"planes must be in [1, 31]") &&
          e.getMessage.contains(s"got $planes"), s"$shape planes=$planes: ${e.getMessage}")
      }
    }
  }

  test("LocalFlatServer ≡ FlatIndex.knnBlocked across all four metrics") {
    val (corpus, queries) = vecs
    for (m <- Seq(Metric.L2, Metric.Cosine, Metric.Dot, Metric.Manhattan)) {
      val local = new LocalFlatServer(corpus, m)
      val batch = FlatIndex.knnBlocked(corpus, queries, K, m)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
        .groupBy(_._1)
      queriesArr.foreach { case (qid, q) =>
        val served = local.search(q, K).toSeq
        val expected = batch(qid).map(_._2).sortBy(_._3).toSeq
        assert(served == expected, s"metric ${m.name} query $qid")
      }
    }
  }

  test("LocalIvfServer ≡ IvfServer") {
    val (corpus, _) = vecs
    val model = IvfIndex.trainDeterministic(corpus, 8, Metric.L2)
    val assigned = IvfIndex.assign(corpus, model)
    val dist = new IvfServer(assigned, model).warm()
    val local = new LocalIvfServer(assigned, model)
    queriesArr.foreach { case (qid, q) =>
      assert(local.search(q, K, nprobe = 3).toSeq == dist.search(q, K, nprobe = 3).toSeq,
        s"query $qid")
    }
    dist.unpersist()
  }

  test("LocalLshServer ≡ LshServer at both hamming radii") {
    val (corpus, _) = vecs
    val planes = 8
    val indexed = LshIndex.index(corpus, planes)
    val dist = new LshServer(indexed, planes, Metric.L2).warm()
    val local = new LocalLshServer(indexed, planes, Metric.L2)
    for (h <- Seq(0, 1); (qid, q) <- queriesArr)
      assert(local.search(q, K, h).toSeq == dist.search(q, K, h).toSeq,
        s"query $qid hamming $h")
    dist.unpersist()
  }

  test("LocalPqServer ≡ PqServer") {
    val (corpus, _) = vecs
    val model = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, Metric.L2)
    val codes = PqIndex.encode(corpus, model)
    val dist = new PqServer(codes, model).warm()
    val local = new LocalPqServer(codes, model)
    queriesArr.foreach { case (qid, q) =>
      assert(local.search(q, K).toSeq == dist.search(q, K).toSeq, s"query $qid")
    }
    dist.unpersist()
  }

  test("LocalSq8Server ≡ Sq8Server") {
    val (corpus, _) = vecs
    val model = Sq8Index.train(corpus, Metric.L2)
    val codes = Sq8Index.encode(corpus, model)
    val dist = new Sq8Server(codes, model).warm()
    val local = new LocalSq8Server(codes, model)
    queriesArr.foreach { case (qid, q) =>
      assert(local.search(q, K).toSeq == dist.search(q, K).toSeq, s"query $qid")
    }
    dist.unpersist()
  }

  test("searchBatch ≡ search per query for every scan kind (flat/ivf/pq/sq8/bq)") {
    val (corpus, _) = vecs
    val qs = queriesArr.map(_._2)
    locally {
      val flat = new LocalFlatServer(corpus, Metric.L2)
      val out = flat.searchBatch(qs, K)
      qs.indices.foreach(i => assert(out(i).toSeq == flat.search(qs(i), K).toSeq))
    }
    locally {
      val model = IvfIndex.trainDeterministic(corpus, 8, Metric.L2)
      val ivf = new LocalIvfServer(IvfIndex.assign(corpus, model), model)
      val out = ivf.searchBatch(qs, K, nprobe = 3)
      qs.indices.foreach(i => assert(out(i).toSeq == ivf.search(qs(i), K, nprobe = 3).toSeq))
    }
    locally {
      val model = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, Metric.L2)
      val pq = new LocalPqServer(PqIndex.encode(corpus, model), model)
      val out = pq.searchBatch(qs, K)
      qs.indices.foreach(i => assert(out(i).toSeq == pq.search(qs(i), K).toSeq))
    }
    locally {
      val model = Sq8Index.train(corpus, Metric.L2)
      val sq8 = new LocalSq8Server(Sq8Index.encode(corpus, model), model)
      val out = sq8.searchBatch(qs, K)
      qs.indices.foreach(i => assert(out(i).toSeq == sq8.search(qs(i), K).toSeq))
    }
    locally {
      val model = BqIndex.train(corpus, Metric.L2)
      val bq = new LocalBqServer(BqIndex.encode(corpus, model), model)
      val out = bq.searchBatch(qs, K)
      qs.indices.foreach(i => assert(out(i).toSeq == bq.search(qs(i), K).toSeq))
    }
    locally {
      val planes = 8
      val lsh = new LocalLshServer(LshIndex.index(corpus, planes), planes, Metric.L2)
      for (h <- Seq(0, 1)) {
        val out = lsh.searchBatch(qs, K, h)
        qs.indices.foreach(i => assert(out(i).toSeq == lsh.search(qs(i), K, h).toSeq))
      }
    }
    locally {
      val model = OpqIndex.train(corpus, 4, nbits = 4, Metric.L2)
      val opq = new LocalOpqServer(OpqIndex.encode(corpus, model), model)
      val out = opq.searchBatch(qs, K)
      qs.indices.foreach(i => assert(out(i).toSeq == opq.search(qs(i), K).toSeq))
    }
    locally {
      val model = IvfPqIndex.trainDeterministic(corpus, nlist = 8, m = 4,
        ksub = 16, Metric.L2)
      val ivfpq = new LocalIvfPqServer(IvfPqIndex.encode(corpus, model), model)
      val out = ivfpq.searchBatch(qs, K, nprobe = 3)
      qs.indices.foreach(i =>
        assert(out(i).toSeq == ivfpq.search(qs(i), K, nprobe = 3).toSeq))
    }
    locally {
      val ivfModel = IvfIndex.trainDeterministic(corpus, 8, Metric.L2)
      val sq8Model = Sq8Index.train(corpus, Metric.L2)
      val codes = Sq8Index.encode(corpus, sq8Model)
        .join(IvfIndex.assign(corpus, ivfModel)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("cluster_id")), "id")
      val comp = new LocalIvfSq8Server(codes, sq8Model, ivfModel)
      val out = comp.searchBatch(qs, K, nprobe = 3)
      qs.indices.foreach(i =>
        assert(out(i).toSeq == comp.search(qs(i), K, nprobe = 3).toSeq))
    }
  }

  test("Searcher.localServer() ≡ Searcher.search() for every buildable kind " +
      "(adapter + option mapping, end to end through the facade)") {
    val (corpus, queries) = vecs
    val qArr = queriesArr
    for (t <- Seq("flat", "ivf", "pq", "sq8", "ivfpq", "opq", "bq", "lsh",
        "hnsw", "hnsw_routed")) {
      val s = IndexBuilder()
        .withIndexType(t)
        .withIndexOption("nlist", 8).withIndexOption("M", 4)
        .withIndexOption("shards", 8)
        .build(corpus).withK(K).withNprobe(4)
      val batch = s.search(queries)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
        .groupBy(_._1)
      val local = s.localServer()
      qArr.foreach { case (qid, q) =>
        val served = local.search(q, K).toSeq
        val expected = batch(qid).map(_._2).sortBy(_._3).toSeq
        assert(served == expected, s"kind $t query $qid")
      }
      // the facade's batch entry point — per query ≡ the single path
      val batchOut = local.searchBatch(qArr.map(_._2), K)
      qArr.indices.foreach { i =>
        assert(batchOut(i).toSeq == local.search(qArr(i)._2, K).toSeq,
          s"kind $t batch query ${qArr(i)._1}")
      }
    }
  }

  test("LocalHnswServer ≡ HnswServer (same walks, same merge order)") {
    val (corpus, _) = vecs
    val shards = 8
    val graph = HnswIndex.build(corpus, shards, Metric.L2)
    val dist = new HnswServer(graph, Metric.L2, shards).warm()
    val local = new LocalHnswServer(graph, Metric.L2, shards)
    queriesArr.foreach { case (qid, q) =>
      assert(local.search(q, K, efSearch = 50).toSeq ==
        dist.search(q, K, efSearch = 50).toSeq, s"query $qid")
    }
    dist.unpersist()
  }

  test("LocalHnswServer.searchBatch ≡ search per query (single-merge fusion)") {
    val (corpus, _) = vecs
    val shards = 8
    val graph = HnswIndex.build(corpus, shards, Metric.L2)
    val local = new LocalHnswServer(graph, Metric.L2, shards)
    val out = local.searchBatch(queriesArr.map(_._2), K, efSearch = 50)
    queriesArr.indices.foreach { i =>
      assert(out(i).toSeq ==
        local.search(queriesArr(i)._2, K, efSearch = 50).toSeq,
        s"query ${queriesArr(i)._1}")
    }
  }

  test("LocalRoutedHnswServer.searchBatch ≡ search per query, incl. replicated") {
    val (corpus, _) = vecs
    val model = graft.index.RoutedHnswIndex.train(
      corpus, 8, Metric.L2, targetShardRows = 256)
    Seq(
      graft.index.RoutedHnswIndex.build(corpus, model) -> model,
      {
        val (m2, g2) = graft.index.RoutedHnswIndex.buildReplicatedBalanced(
          corpus, model, eps = 0.4, maxReplicas = 2, targetShardRows = 256)
        g2 -> m2
      }
    ).foreach { case (graph, m) =>
      val local = new LocalRoutedHnswServer(graph, m)
      Seq(1, 3).foreach { r =>
        val out = local.searchBatch(queriesArr.map(_._2), K,
          probeRegions = r, efSearch = 50)
        queriesArr.indices.foreach { i =>
          assert(out(i).toSeq ==
            local.search(queriesArr(i)._2, K, probeRegions = r, efSearch = 50).toSeq,
            s"R=$r query ${queriesArr(i)._1}")
        }
      }
    }
  }

  test("LocalBqServer ≡ BqServer") {
    val (corpus, _) = vecs
    val model = BqIndex.train(corpus, Metric.L2)
    val codes = BqIndex.encode(corpus, model)
    val dist = new BqServer(codes, model).warm()
    val local = new LocalBqServer(codes, model)
    queriesArr.foreach { case (qid, q) =>
      assert(local.search(q, K).toSeq == dist.search(q, K).toSeq, s"query $qid")
    }
    dist.unpersist()
  }

  test("LocalPlaidServer ≡ the distributed late-interaction pipeline " +
      "(first-stage candidates AND the exact-rerank row)") {
    import org.apache.spark.sql.functions.col
    val d = graft.core.Tables.load(spark, TestSession.Sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val model = PlaidIndex.train(d, 24, 2)
    val post = PlaidIndex.build(d, model).cache()
    val local = new LocalPlaidServer(d, post, model)
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the query ROW's output — query_id, id, maxsim, n_qtok, rank at the
    // row's own constants (CascadeN = 20 first-stage pool, rank ≤ 10)
    val expected = graft.queries.RetrievalQueries
      .queries("maxsim_first_stage")(spark, TestSession.Sf0001)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3), r.getInt(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._4).toSeq).toMap
    // distributed first stage for candidate-set parity
    val qframe = d.where(col("doc_id") < 40)
      .select(col("doc_id").as("query_id"), col("text"))
    val distCands = PlaidIndex.candidates(post, qframe, model, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    expected.foreach { case (qid, rows) =>
      val got = local.search(qid, texts(qid), 20, 10).toSeq
        .map { case (id, ms, nq, rk) => (id, ms, nq, rk) }
      assert(got == rows, s"full-pipeline divergence for query $qid")
      assert(local.candidates(qid, texts(qid), 20).toSet == distCands(qid),
        s"first-stage candidate set divergence for query $qid")
    }
    assert(expected.nonEmpty)
    // the distributed resident server closes the chain: PlaidServer ≡
    // LocalPlaidServer ≡ the maxsim_first_stage row
    val dist = new PlaidServer(d, post, model).warm()
    expected.foreach { case (qid, rows) =>
      assert(dist.search(qid, texts(qid), 20, 10).toSeq == rows,
        s"resident-server divergence for query $qid")
    }
    dist.unpersist()
    post.unpersist()
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.query._

/** What every batch search shares after its scan: the result leaf, the
  * merge of the partitions' heaps, and the query scans the batch shapes
  * prepare on the executors.
  *  - The result is a leaf whose rows answer like a plain relation of
  *    the same rows under collect, count, limit, tail, a filter, a join,
  *    a self-join, a union and cache(); its EXPLAIN shows the scanned
  *    table; collecting it runs no job; no plan node holds its rows as a
  *    collection argument (the analyzer would walk every row).
  *  - [[BoundedTopK.merge]] equals a fold of the partitions' heaps from
  *    empty heaps (the merge it replaced) on ties, distinct ids, PLAID
  *    payloads, empty and zero partitions and an empty batch.
  *  - Every kind's `visiting(p)` survives Spark's closure serializer and
  *    scans like the original.
  *  - A k far above the corpus size allocates what the corpus offers.
  *  - A result written over several byte buffers reads back intact, and
  *    a row count no result can hold is rejected before a row is written.
  *  - A result stays plannable after user code replaces the session's
  *    `experimental.extraStrategies`.
  */
class ResultLeafSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  import spark.implicits._
  import TestSession.JobCounter

  private val l2 = Metric.L2
  private val Dim = 8
  private val K = 4

  private def pin(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** 200 Gaussian vectors and four more copies of each of the first three
    * (ties at distance 0), over four partitions. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(3)
    val base = (0 until 200).map(_ => Seq.fill(Dim)(rnd.nextGaussian()))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 12).map(i => ((200 + i).toLong, base(i % 3)))
    pin(rows.toDF("id", "vec").repartition(4))
  }

  private lazy val queries: DataFrame = {
    val rnd = new scala.util.Random(5)
    val v0 = corpus.where(col("id") === 0L).head().getSeq[Double](1)
    ((10L, v0) +: (1 to 4).map(i => (10L + i, Seq.fill(Dim)(rnd.nextGaussian()))))
      .toDF("query_id", "qvec")
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  test("the result leaf answers like a plain relation of its rows under every operator") {
    val s = Searcher(FlatKind(corpus, l2)).withK(K)
    val res = s.search(queries)
    val want = FlatIndex.knn(corpus, queries, K, l2)
    val plain = spark.createDataFrame(want.collect().toList.asJava, res.schema)
    assert(sorted(res.collect()) == sorted(plain.collect()))
    val byQuery = res.collect().toSeq.map(r => (r.getLong(0), r.getInt(3)))
    assert(byQuery == byQuery.sorted, "collect returns the rows in (query, rank) order")

    def same(label: String)(op: DataFrame => DataFrame): Unit =
      assert(sorted(op(res).collect()) == sorted(op(plain).collect()), label)
    assert(res.count() == plain.count())
    assert(res.limit(7).collect().toSeq == res.collect().take(7).toSeq, "limit")
    assert(res.tail(5).toSeq == res.collect().takeRight(5).toSeq, "tail")
    same("filter")(_.where(col("rank") <= 2 && col("distance") > 0.0))
    same("join")(_.join(corpus, col("neighbor_id") === col("id")).select("query_id", "id", "vec"))
    same("self-join") { df =>
      val (a, b) = (df.as("a"), df.as("b"))
      a.join(b, col("a.neighbor_id") === col("b.neighbor_id") && col("a.query_id") < col("b.query_id"))
        .select(col("a.query_id"), col("b.query_id"), col("a.neighbor_id"))
    }
    same("union")(df => df.union(df.where(col("rank") === 1)))
    same("aggregate")(_.groupBy("query_id").count())
    val cached = res.cache()
    assert(cached.count() == plain.count())
    assert(sorted(cached.where(col("rank") > 1).collect()) ==
      sorted(plain.where(col("rank") > 1).collect()), "cache()")
    cached.unpersist()
    s.close()
  }

  test("EXPLAIN shows the scanned table; no plan node holds the rows as a collection") {
    val source = pin(corpus.where(col("id") >= 0))
    val res = FlatIndex.knnBlocked(source, queries, K, l2)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("KnnResult"), plan)
    val scannedNodes = source.queryExecution.executedPlan.collect { case p => p.nodeName }
    assert(scannedNodes.nonEmpty && scannedNodes.forall(plan.contains), plan)
    def holdsRows(p: QueryPlan[_]): Boolean = p.productIterator.exists {
      case it: Iterable[_] => it.exists(_.isInstanceOf[InternalRow])
      case _ => false
    }
    val qe = res.where(col("rank") === 1).queryExecution
    for (top <- Seq(qe.analyzed, qe.optimizedPlan, res.queryExecution.analyzed))
      top.foreach(p => assert(!holdsRows(p), s"${p.nodeName} holds the result rows"))
    qe.executedPlan.foreach(p => assert(!holdsRows(p), s"${p.nodeName} holds the result rows"))
    source.unpersist()
  }

  test("a result stays plannable after the session's extra strategies are replaced") {
    val s = Searcher(FlatKind(corpus, l2)).withK(K)
    val res = s.search(queries)
    val want = sorted(res.collect())
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = Seq.empty
    try {
      assert(sorted(res.collect()) == want, "collect")
      assert(res.where(col("rank") === 1).count() == queries.count(), "a filter on top")
      assert(sorted(s.search(queries).collect()) == want, "a search after the replacement")
    } finally spark.experimental.extraStrategies = saved
    s.close()
  }

  test("the result writer spans several byte buffers; an impossible row count is rejected " +
      "before any row is written") {
    import org.apache.spark.sql.graftx.ResultFrames
    val n = 2 * ResultFrames.ChunkRows + 5
    def row(i: Int) = (i.toLong, 3L * i, i * 0.25, i % 7)
    val res = ResultFrames.knn(corpus, n.toLong) { w =>
      (0 until n).foreach { i => val (q, id, d, r) = row(i); w.add(q, id, d, r) }
    }
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == (0 until n).map(row))
    val tooMany = intercept[IllegalArgumentException](
      ResultFrames.knn(corpus, ResultFrames.MaxRows + 1L)(_ => fail("a row was written")))
    assert(tooMany.getMessage.contains("exceeds"), tooMany.getMessage)
    intercept[IllegalArgumentException](ResultFrames.knn(corpus, 2L)(w => w.add(1L, 1L, 0.0, 1)))
    intercept[IllegalArgumentException](ResultFrames.knn(corpus, 1L) { w =>
      w.add(1L, 1L, 0.0, 1); w.add(1L, 2L, 0.0, 2)
    })
  }

  test("BQ's blocked result keeps a LONG hamming column, equal to the plan form") {
    val bq = BqIndex.train(corpus, l2)
    val codes = pin(BqIndex.encode(corpus, bq))
    val res = BqIndex.knnBlocked(codes, bq, queries, K)
    assert(res.schema("hamming").dataType == LongType)
    assert(sorted(res.collect()) == sorted(BqIndex.knn(codes, bq, queries, K).collect()))
    codes.unpersist()
  }

  test("a facade search runs one job and no shuffle; collect, limit and tail run none; " +
      "an operator on top runs its own") {
    val s = Searcher(FlatKind(corpus, l2)).withK(K)
    s.search(queries).collect()
    val m0 = JobCounter.mark()
    val res = s.search(queries)
    assert(JobCounter.since(m0) == TestSession.Counts(1, 0), "the search")
    val m1 = JobCounter.mark()
    res.collect(); res.limit(3).collect(); res.tail(2)
    assert(JobCounter.since(m1) == TestSession.Counts(0, 0), "collect, limit and tail")
    val m2 = JobCounter.mark()
    res.where(col("rank") === 1).collect()
    assert(JobCounter.since(m2).jobs >= 1, "a filter on the result")
    s.close()
  }

  /** A partition's (query, id, key, payload) entries into one heap per
    * query; none for an empty partition. */
  private def scanOf(nq: Int, k: Int): Iterator[(Int, Long, Double, Array[Long])] => Array[BoundedTopK] =
    it => {
      val entries = it.toArray
      if (entries.isEmpty) Array.empty
      else {
        val heaps = Array.fill(nq)(new BoundedTopK(k))
        entries.foreach { case (qi, id, d, p) =>
          if (p == null) heaps(qi).insert(id, d) else heaps(qi).insert(id, d, p)
        }
        heaps
      }
    }

  /** The merge [[BoundedTopK.merge]] replaced: an `RDD.fold` from nq empty heaps. */
  private def folded[T](rows: RDD[T], nq: Int, k: Int, distinct: Boolean)(
      scan: Iterator[T] => Array[BoundedTopK]): Array[BoundedTopK] = {
    if (nq == 0) return Array.empty
    val combine = (acc: Array[BoundedTopK], part: Array[BoundedTopK]) => {
      var qi = 0
      while (qi < part.length) { acc(qi).mergeFrom(part(qi), distinct); qi += 1 }
      acc
    }
    rows.mapPartitions(it => Iterator.single(scan(it))).fold(Array.fill(nq)(new BoundedTopK(k)))(combine)
  }

  private def contents(h: BoundedTopK, payloads: Boolean): Seq[(Long, Long, Seq[Long])] =
    (0 until h.size).map(r => (h.ids(r), java.lang.Double.doubleToRawLongBits(h.dists(r)),
      if (payloads) h.payload(r).toSeq else Nil))

  test("the runJob merge ≡ the fold it replaced: ties, distinct, payloads, empty and zero " +
      "partitions, an empty batch") {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(9)
    val nq = 5
    def entries(payload: Boolean) = for {
      qi <- 0 until nq
      part <- 0 until 3
      j <- 0 until 6
    } yield {
      // keys tie within and across partitions; ids 0..5 recur in every
      // partition with the same key (the replicated routed graph's case)
      val id = if (j < 3) j.toLong else 100L * part + j
      val d = if (j < 3) 1.0 * j else (rnd.nextInt(3) + 1).toDouble
      (qi, id, d, if (payload) Array(id, qi.toLong, j.toLong) else null)
    }
    for (payload <- Seq(false, true); distinct <- Seq(false, true); k <- Seq(1, 4, 50)) {
      val es = entries(payload)
      // 7 slices over the entries leaves no partition empty; 40 leaves many
      for (slices <- Seq(7, 40)) {
        val rdd = sc.parallelize(es, slices)
        val got = BoundedTopK.merge(rdd, nq, k, distinct)(scanOf(nq, k))
        val want = folded(rdd, nq, k, distinct)(scanOf(nq, k))
        assert(got.map(contents(_, payload)).toSeq == want.map(contents(_, payload)).toSeq,
          s"payload=$payload distinct=$distinct k=$k slices=$slices")
      }
    }
    val none = sc.emptyRDD[(Int, Long, Double, Array[Long])]
    val zero = BoundedTopK.merge(none, nq, 3)(scanOf(nq, 3))
    assert(zero.length == nq && zero.forall(_.size == 0), "zero partitions")
    val onlyEmpty = sc.parallelize(Seq.empty[(Int, Long, Double, Array[Long])], 4)
    assert(BoundedTopK.merge(onlyEmpty, nq, 3)(scanOf(nq, 3)).forall(_.size == 0), "empty partitions")
    assert(BoundedTopK.merge(sc.parallelize(entries(false), 3), 0, 3)(scanOf(0, 3)).isEmpty, "nq = 0")
  }

  test("every kind's visiting(p) survives Spark's closure serializer and scans alike") {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def roundTrip[B, P, Q](name: String, kind: ScanKind[B, P, Q], table: DataFrame, p: P,
        qs: Seq[Q], k: Int = K): Unit = {
      val packs = ServeBlocks.collect(table, kind)
      assert(packs.nonEmpty, name)
      val visit = kind.visiting(p)
      val back = ser.deserialize[Q => (B, BoundedTopK) => Unit](ser.serialize(visit))
      for (q <- qs) {
        def run(f: Q => (B, BoundedTopK) => Unit): Seq[(Long, Long, Seq[Long])] = {
          val scan = f(q)
          val heap = new BoundedTopK(k)
          packs.foreach(scan(_, heap))
          (0 until heap.size).map(r => (heap.ids(r),
            java.lang.Double.doubleToRawLongBits(heap.dists(r)),
            if (kind.isInstanceOf[PlaidKind]) heap.payload(r).toSeq else Nil))
        }
        val want = run(visit)
        assert(want.nonEmpty && run(back) == want, name)
      }
    }
    val qs = queries.collect().map(_.getSeq[Double](1).toArray).toSeq
    val ivf = IvfIndex.trainDeterministic(corpus, 6, l2)
    val pq = PqIndex.trainDeterministic(corpus, m = 4, ksub = 16, l2)
    val sq8 = Sq8Index.train(corpus, l2)
    val ivfpq = IvfPqIndex.trainDeterministic(corpus, nlist = 6, m = 4, ksub = 16, l2)
    val opq = OpqIndex.train(corpus, 4, nbits = 4, l2)
    val bq = BqIndex.train(corpus, l2)
    val routed = RoutedHnswIndex.train(corpus, 4, l2, targetShardRows = 64)
    roundTrip("flat", PackedKind.flat(l2), corpus, (), qs)
    roundTrip("ivf", PackedKind.ivf(ivf), IvfIndex.assign(corpus, ivf), 3, qs)
    roundTrip("lsh", PackedKind.lsh(4, l2), LshIndex.index(corpus, 4), 1, qs)
    roundTrip("pq", PackedKind.pq(pq), PqIndex.encode(corpus, pq), (), qs)
    roundTrip("opq", PackedKind.opq(opq), OpqIndex.encode(corpus, opq), (), qs)
    roundTrip("ivfpq", PackedKind.ivfPq(ivfpq), IvfPqIndex.encode(corpus, ivfpq), 3, qs)
    roundTrip("sq8", PackedKind.sq8(sq8), Sq8Index.encode(corpus, sq8), (), qs)
    roundTrip("ivfsq8", PackedKind.ivfSq8(sq8, ivf), Sq8Index.encode(corpus, sq8)
      .join(IvfIndex.assign(corpus, ivf).select(col("id"), col("cluster_id")), "id"), 3, qs)
    roundTrip("bq", PackedKind.bq(bq), BqIndex.encode(corpus, bq), (), qs)
    roundTrip("hnsw", GraphKind.hnsw(l2, 4), HnswIndex.build(corpus, 4, l2), 16, qs)
    roundTrip("hnsw_routed", GraphKind.routed(routed), RoutedHnswIndex.build(corpus, routed),
      (2, 16), qs)
    val docs = Seq(1L -> "alpha beta gamma", 2L -> "alpha delta", 3L -> "beta epsilon zeta",
      4L -> "gamma eta theta", 5L -> "delta theta iota", 6L -> "kappa lambda alpha")
      .toDF("doc_id", "text")
    val model = PlaidIndex.train(docs, 4, 2)
    val plaid = PlaidKind(spark, model)
    try roundTrip("plaid", plaid, PlaidKind.served(docs, PlaidIndex.build(docs, model)), (),
      Seq(PlaidKind.query(1L, "alpha beta gamma", 4, 4), PlaidKind.query(9L, "delta theta", 4, 4)))
    finally plaid.destroy()
  }

  test("a heap grows past its initial slots and keeps the k smallest, payloads with them") {
    val k = 3 * BoundedTopK.InitialSlots
    val rnd = new scala.util.Random(11)
    val entries = (0 until 5 * BoundedTopK.InitialSlots).map(i => (rnd.nextInt(500).toDouble, i.toLong))
    val want = entries.sortBy { case (d, id) => (d, id) }.take(k)
    val plain = new BoundedTopK(k)
    val carried = new BoundedTopK(k)
    entries.foreach { case (d, id) => plain.insert(id, d); carried.insert(id, d, Array(id)) }
    for (h <- Seq(plain, carried)) {
      assert(h.size == k)
      assert((0 until k).map(r => (h.dists(r), h.ids(r))) == want)
    }
    assert((0 until k).forall(r => carried.payload(r).toSeq == Seq(carried.ids(r))))
  }

  test("k = 10^8 over a 20-row corpus: the facade and a bounded range search answer " +
      "with what the corpus holds") {
    val small = pin(corpus.where(col("id") < 20).coalesce(2))
    val huge = 100000000
    val flat = Searcher(FlatKind(small, l2)).withK(huge)
    assert(sorted(flat.search(queries).collect()) ==
      sorted(FlatIndex.knn(small, queries, 0, l2).collect()))
    flat.close()
    val ivf = IvfIndex.trainDeterministic(small, 3, l2)
    val assigned = pin(IvfIndex.assign(small, ivf))
    val s = Searcher(IvfKind(ivf, assigned)).withNprobe(3)
    val threshold = 3.0
    val got = s.rangeSearch(queries, threshold, maxResults = huge).collect()
    val want = FlatIndex.rangeSearch(small, queries, threshold, l2).collect()
    assert(got.nonEmpty && sorted(got) == sorted(want))
    s.close()
    assigned.unpersist()
    small.unpersist()
  }
}

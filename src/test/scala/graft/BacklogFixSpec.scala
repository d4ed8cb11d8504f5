package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index._
import graft.operators.AsOfJoin
import graft.queries.VectorQueries

/** Regression specs for the round-2 VERDICT/ADVICE backlog:
  *  - k ≤ 0 clamps to "all rows ranked" (flat.go:82-84) on both the flat
  *    and IVF paths instead of silently returning empty;
  *  - LSH bucket ids use integer shifts (planes up to 62, bounded);
  *  - AsOfJoin carries the payload as one struct (no cross-row stitching
  *    when a payload column is NULL);
  *  - PqIndex.trainDeterministic fails fast on sparse id residues;
  *  - Centroids.trainingSample picks the cap smallest ids with no global
  *    sort, comparing ids as LONG;
  *  - the LSH facade's k ≤ 0 path probes the Hamming-1 buckets when
  *    efSearch asks for them, like its k > 0 path;
  *  - `Searcher.open` rejects a meta.json without `version` or
  *    `index_type`, or with a malformed version, naming path and field.
  */
class BacklogFixSpec extends AnyFunSuite {

  lazy val spark = TestSession.spark

  test("flat topK with k <= 0 returns ALL rows ranked (clamp-to-n)") {
    val (corpus, queries) = VectorQueries.vecTables(spark, TestSession.Sf0001)
    val n = corpus.count()
    val q1 = queries.limit(2)
    val all = FlatIndex.knn(corpus, q1, 0, Metric.L2)
    assert(all.count() == 2 * n, "k=0 must return every corpus row per query")
    // ranked 1..n ascending by distance
    assert(all.groupBy("query_id").agg(max("rank").as("m"))
      .where(col("m") =!= n).count() == 0)
  }

  test("IVF search with k <= 0 returns all probed candidates, ranked") {
    val (corpus, queries) = VectorQueries.vecTables(spark, TestSession.Sf0001)
    val model = IvfIndex.trainDeterministic(corpus, 8, Metric.L2)
    val assigned = IvfIndex.assign(corpus, model)
    val q1 = queries.limit(3)
    val all = IvfIndex.search(assigned, model, q1, 0, nprobe = 2)
    // expected candidate count = rows in each query's 2 probed clusters
    val probed = assigned.join(
      broadcast(IvfIndex.probes(q1, model, 2)), Seq("cluster_id")).count()
    assert(probed > 0 && all.count() == probed,
      s"k=0 must return all ${probed} probed rows, got ${all.count()}")
    assert(all.where(col("rank") < 1).count() == 0)
  }

  test("LSH bucket ids survive planes = 62; planes out of [1,62] rejected") {
    val (corpus, queries) = VectorQueries.vecTables(spark, TestSession.Sf0001)
    val idx = LshIndex.index(corpus.limit(50), planes = 62)
    val buckets = idx.select("bucket").collect().map(_.getLong(0))
    assert(buckets.forall(_ >= 0L), "bit-62 packing must never touch the sign bit")
    // shiftleft packing is exact: bucket < 2^62
    assert(buckets.forall(_ < (1L << 62)))
    // round-trip: a corpus vector used as its own query lands in its bucket
    val self = corpus.limit(5)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val knn = LshIndex.knn(idx, self, 1, 62, Metric.L2)
    assert(knn.where(col("query_id") === col("neighbor_id")).count() == 5)
    intercept[IllegalArgumentException](LshIndex.bucket(col("vec"), 63))
    intercept[IllegalArgumentException](LshIndex.bucket(col("vec"), 0))
  }

  test("LSH facade with k <= 0 probes the buckets efSearch asks for") {
    val (corpus, queries) = VectorQueries.vecTables(spark, TestSession.Sf0001)
    val planes = 4
    val idx = LshIndex.index(corpus, planes).cache()
    val q = queries.limit(3)
    val facade = graft.query.Searcher(graft.query.LshKind(planes, idx, Metric.L2)).withK(0)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    val single = LshIndex.knn(idx, q, 0, planes, Metric.L2)
    val multi = LshIndex.knnMultiProbe(idx, q, 0, planes, Metric.L2)
    assert(multi.count() > single.count(), "the Hamming-1 buckets must add candidates")
    assert(same(facade.withEfSearch(0).search(q), single), "efSearch 0: the query's bucket")
    assert(same(facade.withEfSearch(1).search(q), multi), "efSearch 1: and its Hamming-1 flips")
    idx.unpersist()
  }

  test("Searcher.open names the path and the field of a bad meta.json") {
    val cases = Seq(
      ("""{"index_type": "flat"}""", "meta.json has no 'version' field"),
      ("""{"version": "1.0.0"}""", "meta.json has no 'index_type' field"),
      ("""{"index_type": "flat", "version": "1.x.0"}""", "malformed version '1.x.0'"))
    for ((json, msg) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory("graft-meta")
      java.nio.file.Files.writeString(dir.resolve("meta.json"), json)
      val e = intercept[IllegalArgumentException](graft.query.Searcher.open(spark, dir.toString))
      assert(e.getMessage.contains(dir.toString) && e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("AsOfJoin carries NULL payload fields from the matched row (no stitching)") {
    import spark.implicits._
    // right rows for key "a": at t=1 (x, X), at t=2 (NULL, Y).
    // A left row at t=3 matches t=2: p1 must be NULL, not stitched "x".
    val left = Seq(("a", 3L, "probe")).toDF("key", "lt", "tag")
    val right = Seq(
      ("a", 1L, Some("x"), "X"),
      ("a", 2L, None: Option[String], "Y")).toDF("key", "rt", "p1", "p2")
    val out = AsOfJoin.join(left, right, "key", "lt", "rt", Seq("p1", "p2")).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.isNullAt(row.fieldIndex("asof_p1")), "NULL field must stay NULL")
    assert(row.getString(row.fieldIndex("asof_p2")) == "Y")
  }

  test("AsOfJoin: left row earlier than any right row gets NULL payload struct") {
    import spark.implicits._
    val left = Seq(("a", 0L, "early")).toDF("key", "lt", "tag")
    val right = Seq(("a", 5L, "x", "X")).toDF("key", "rt", "p1", "p2")
    val out = AsOfJoin.join(left, right, "key", "lt", "rt", Seq("p1", "p2")).collect()
    assert(out.length == 1 && out.head.isNullAt(1) == false) // lt kept
    assert(out.head.isNullAt(out.head.fieldIndex("asof_p1")))
    assert(out.head.isNullAt(out.head.fieldIndex("asof_p2")))
  }

  test("PqIndex.trainDeterministic fails fast on sparse id residues") {
    import spark.implicits._
    // only even ids → residues 1,3,5,... mod 8 are empty
    val sparse = (0 until 64 by 2)
      .map(i => (i.toLong, Seq.fill(8)(i.toDouble)))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      PqIndex.trainDeterministic(sparse, m = 2, ksub = 8, Metric.L2))
    assert(e.getMessage.contains("not dense"))
  }

  test("PQ wide ksub (9-bit codes): codes above 255 encode, search, and persist") {
    import org.apache.spark.sql.functions.{col, element_at, max => smax}
    // 320 vectors, ksub=320 → each id its own codebook entry; codes run
    // 0..319, so any byte-shaped storage or sign bug surfaces here
    val corpus = graft.core.VectorGen.random(spark, 320, 8, seed = 7L)
    val model = PqIndex.trainDeterministic(corpus, m = 2, ksub = 320, Metric.L2)
    assert(model.ksub == 320)
    val codes = PqIndex.encode(corpus, model).cache()
    val maxCode = codes
      .select(smax(element_at(col("code"), 1)).cast("int")).collect()(0).getInt(0)
    assert(maxCode > 255, s"wide config never produced a >8-bit code (max=$maxCode)")
    val queries = corpus.where(col("id") < 3)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    val plan = PqIndex.knn(codes, model, queries, 5)
    val blocked = PqIndex.knnBlocked(codes, model, queries, 5)
    assert(plan.exceptAll(blocked).count() == 0 && blocked.exceptAll(plan).count() == 0,
      "wide-ksub blocked kernel diverged from the plan path")
    // persistence round-trip keeps int-shaped codes intact
    val dir = java.nio.file.Files.createTempDirectory("pq_wide").toString
    graft.io.IndexIO.savePq(spark, dir, model, codes)
    val (m2, c2) = graft.io.IndexIO.loadPq(spark, dir)
    assert(m2.ksub == 320)
    assert(c2.select("id", "code").exceptAll(codes.select("id", "code")).count() == 0)
    codes.unpersist()
  }

  test("trainingSample keeps the cap smallest ids as LONGs, no global sort") {
    val (corpus, _) = VectorQueries.vecTables(spark, TestSession.Sf0001)
    val ts = Centroids.trainingSample(corpus, 100, "id", "vec")
    val expected = corpus.select("id").orderBy("id").limit(100)
      .collect().map(_.getLong(0))
    assert(ts.sortedIds.sameElements(expected))
    assert(ts.data.count() == 100)
    // strided init picks the vectors at ranks 0, stride, 2·stride, …
    val init = ts.stridedInit(4)
    assert(init.length == 4)
    ts.unpersist()
  }
}

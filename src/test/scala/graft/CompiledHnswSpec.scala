package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index.{BoundedTopK, LocalHnsw}

/** [[graft.index.CompiledHnsw]] is the CSR-frozen query-time form of
  * [[LocalHnsw]] — every serving/batch walk runs on it. These specs pin
  * bit-identical parity with the build structure's own search across
  * metrics, tie-heavy data, (k, ef) dials, the persisted-rows load path,
  * and per-thread scratch reuse across graphs. Pure JVM — no Spark.
  */
class CompiledHnswSpec extends AnyFunSuite {

  private val M = 16
  private val EfC = 200

  /** xorshift-ish deterministic doubles in [0, 1). */
  private def rng(seed: Long): () => Double = {
    var s = seed
    () => {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      ((s >>> 11).toDouble / (1L << 53).toDouble)
    }
  }

  private def buildGraph(n: Int, dim: Int, metric: Metric, seed: Long,
      quantized: Boolean = false): LocalHnsw = {
    val r = rng(seed)
    val g = new LocalHnsw(M, EfC, metric)
    (0 until n).foreach { i =>
      val v = Array.fill(dim) {
        val x = r()
        // quantized components force massive distance ties — the
        // (rank_key, id) tie-break must agree between both forms
        if (quantized) math.rint(x * 2) else x
      }
      // cosine rejects zero vectors upstream; keep them nonzero
      if (v.forall(_ == 0.0)) v(0) = 1.0
      g.insert(i.toLong * 3 + 1, v) // non-contiguous ids: position != id
    }
    g
  }

  private def queries(nq: Int, dim: Int, seed: Long, quantized: Boolean): Seq[Array[Double]] = {
    val r = rng(seed)
    (0 until nq).map { _ =>
      val v = Array.fill(dim) {
        val x = r()
        if (quantized) math.rint(x * 2) else x
      }
      if (v.forall(_ == 0.0)) v(0) = 1.0
      v
    }
  }

  private def assertParity(g: LocalHnsw, dim: Int, quantized: Boolean,
      seed: Long): Unit = {
    val c = g.compile()
    for {
      q <- queries(17, dim, seed, quantized)
      (k, ef) <- Seq((1, 1), (5, 5), (10, 50), (25, 64), (200, 300))
    } {
      val a = g.knn(q, k, ef)
      val b = c.knn(q, k, ef)
      assert(a.length == b.length)
      a.indices.foreach { i =>
        assert(a(i)._1 == b(i)._1, s"id mismatch at rank $i: ${a(i)} vs ${b(i)}")
        assert(a(i)._2 == b(i)._2, s"dist mismatch at rank $i") // bit-identical
      }
      // knnInto streams the same winners into a bounded merge
      val merge = new BoundedTopK(k)
      c.knnInto(q, k, ef, merge)
      val viaInto = merge.ranked(identity).map { case (id, d, _) => (id, d) }.toSeq
      assert(viaInto == b.toSeq)
    }
  }

  test("compiled ≡ build-structure search: random doubles, all four metrics") {
    Seq(Metric.L2, Metric.Cosine, Metric.Dot, Metric.Manhattan).foreach { m =>
      assertParity(buildGraph(400, 12, m, seed = 0xC0FFEE + m.name.hashCode),
        dim = 12, quantized = false, seed = 99)
    }
  }

  test("compiled ≡ build-structure search under massive distance ties") {
    // components in {0, 1, 2}, dim 4: a 400-node graph over ≤ 81 distinct
    // points — nearly every comparison is a tie resolved by id
    Seq(Metric.L2, Metric.Manhattan).foreach { m =>
      assertParity(buildGraph(400, 4, m, seed = 0xBEEF, quantized = true),
        dim = 4, quantized = true, seed = 7)
    }
  }

  test("persisted-rows load path: fromTuples(nodeRows).compile ≡ direct compile") {
    val g = buildGraph(300, 8, Metric.L2, seed = 42)
    val rows = g.nodeRows.map { case (id, v, l, e) =>
      (id, v.toSeq, l, e.map(_.toSeq).toSeq)
    }.toSeq
    val reloaded = LocalHnsw.fromTuples(rows, Metric.L2)
    val c1 = g.compile()
    val c2 = reloaded.compile()
    // the direct loader (query-path) must be structure-identical to the
    // node-map round trip it replaces
    val c3 = graft.index.CompiledHnsw.fromTuples(rows, Metric.L2)
    queries(11, 8, 5, quantized = false).foreach { q =>
      val a = c1.knn(q, 10, 50)
      val b = c2.knn(q, 10, 50)
      val d = c3.knn(q, 10, 50)
      assert(a.toSeq == b.toSeq)
      assert(a.toSeq == d.toSeq)
    }
  }

  test("tiny and empty graphs") {
    val empty = new LocalHnsw(M, EfC, Metric.L2).compile()
    assert(empty.knn(Array(1.0, 2.0), 5, 50).isEmpty)
    val one = new LocalHnsw(M, EfC, Metric.L2)
    one.insert(7L, Array(1.0, 2.0))
    val c = one.compile()
    assert(c.knn(Array(0.0, 0.0), 5, 50).toSeq == Seq((7L, 5.0))) // L2² rank key
  }

  test("per-thread scratch survives interleaved walks across graphs") {
    // two graphs with overlapping POSITION spaces but different ids —
    // the epoch stamp must isolate walks; interleaving on one thread
    // must equal fresh single-graph results
    val g1 = buildGraph(300, 8, Metric.L2, seed = 1)
    val g2 = buildGraph(120, 8, Metric.L2, seed = 2)
    val c1 = g1.compile()
    val c2 = g2.compile()
    val qs = queries(9, 8, 3, quantized = false)
    val fresh1 = qs.map(c1.knn(_, 10, 50).toSeq)
    val fresh2 = qs.map(c2.knn(_, 10, 50).toSeq)
    qs.indices.foreach { i =>
      assert(c1.knn(qs(i), 10, 50).toSeq == fresh1(i))
      assert(c2.knn(qs(i), 10, 50).toSeq == fresh2(i))
      assert(c1.knn(qs(i), 10, 50).toSeq == fresh1(i))
    }
  }

  test("parallel batch over one compiled graph is race-free and deterministic") {
    val g = buildGraph(500, 10, Metric.L2, seed = 77)
    val c = g.compile()
    val qs = queries(64, 10, 13, quantized = false).toArray
    val expect = qs.map(c.knn(_, 10, 50).toSeq)
    (0 until 5).foreach { _ =>
      val out = new Array[Seq[(Long, Double)]](qs.length)
      java.util.stream.IntStream.range(0, qs.length).parallel()
        .forEach(i => out(i) = c.knn(qs(i), 10, 50).toSeq)
      assert(out.toSeq == expect.toSeq)
    }
  }
}

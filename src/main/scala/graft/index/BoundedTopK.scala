package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftx.ResultFrames

/** Bounded top-k buffer: insertion-sorted primitive arrays ordered
  * ascending by (dist, id) — the engine's deterministic tie-break
  * (flat.go:106-108 refined, SURVEY.md §7.3). Keys compare the way
  * Spark's sort compares doubles (`SQLOrderingUtil.compareDoubles`):
  * -0.0 equals 0.0 and NaN sorts after +∞, so a heap ranks exactly like
  * the `row_number()` window of [[FlatIndex.topK]].
  *
  * A candidate is accepted iff the buffer has room or it beats the
  * current k-th entry; inserts are O(k) shifts on primitive arrays (no
  * boxing, no allocation after construction). Every blocked kernel,
  * server and in-process scan fills these, and [[BoundedTopK.merge]] is
  * the one cross-partition merge, so the order can't drift between
  * paths.
  *
  * An entry may carry a LONG-array payload (PLAID's token hashes, which
  * its exact rerank reads): inserted with one, it moves with its entry
  * through every shift, [[mergeFrom]] and task serialization. A heap's
  * entries all carry one or none; the payload array exists only once the
  * first one is inserted.
  */
private[graft] final class BoundedTopK(val k: Int) extends Serializable {
  // k == 0 would make insert() read dists(-1); callers clamp k <= 0 to the
  // "all rows" path before constructing (flat.go:82-84), so fail loudly here
  require(k > 0, s"BoundedTopK requires k > 0, got $k")
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0
  private var payloads: Array[Array[Long]] = null

  def insert(id: Long, d: Double): Unit = slot(id, d)

  /** [[insert]] of an entry with a payload. */
  def insert(id: Long, d: Double, payload: Array[Long]): Unit = {
    val sz = size
    val pos = slot(id, d)
    if (pos >= 0) {
      if (payloads == null) payloads = new Array[Array[Long]](k)
      System.arraycopy(payloads, pos, payloads, pos + 1, math.min(sz, k - 1) - pos)
      payloads(pos) = payload
    }
  }

  /** Entry r's payload. */
  def payload(r: Int): Array[Long] = payloads(r)

  /** Places (id, d) if it is accepted; returns its slot, or -1. */
  private def slot(id: Long, d: Double): Int = {
    val sz = size
    // the hot reject: one comparison while the k-th key is a number; a
    // NaN on either side falls through to the full order below
    if (sz == k && d > dists(sz - 1)) return -1
    if (sz < k || BoundedTopK.before(d, id, dists(sz - 1), ids(sz - 1))) {
      var pos = if (sz < k) sz else k - 1
      while (pos > 0 && BoundedTopK.before(d, id, dists(pos - 1), ids(pos - 1))) {
        dists(pos) = dists(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
      }
      dists(pos) = d; ids(pos) = id
      if (sz < k) size = sz + 1
      pos
    } else -1
  }

  /** [[insert]] that skips an id already buffered — the replicated-graph
    * merge path ([[RoutedHnswIndex]] closure assignment): the same vector
    * can surface from several probed regions with an identical,
    * deterministic rank key, and the duplicate must not occupy a second
    * slot (displacing a real candidate). O(size) primitive scan — same
    * cost class as the O(k) shift insert. */
  def insertDistinct(id: Long, d: Double): Unit = if (!holds(id)) insert(id, d)

  private def holds(id: Long): Boolean = {
    var i = 0
    while (i < size) { if (ids(i) == id) return true; i += 1 }
    false
  }

  /** Insert every entry of `other`, with its payload (distinct-by-id when
    * `distinct`). The result is insertion-order independent: the k
    * smallest under the total (dist, id) order. */
  def mergeFrom(other: BoundedTopK, distinct: Boolean): Unit = {
    var r = 0
    while (r < other.size) {
      val id = other.ids(r)
      if (!distinct || !holds(id)) {
        if (other.payloads == null) insert(id, other.dists(r))
        else insert(id, other.dists(r), other.payloads(r))
      }
      r += 1
    }
  }

  /** (id, finish(dist), rank) with rank 1..size; `finish` is the
    * metric's last step on a rank key (√ for L2). */
  def ranked(finish: Double => Double): Array[(Long, Double, Int)] =
    Array.tabulate(size)(r => (ids(r), finish(dists(r)), r + 1))
}

private[graft] object BoundedTopK {

  /** (d, id) strictly before (d2, id2): Spark's double order, then id. */
  @inline def before(d: Double, id: Long, d2: Double, id2: Long): Boolean =
    if (d < d2) true
    else if (d > d2) false
    else if (d == d2) id < id2
    else { // a NaN is involved: NaN after every number, NaN equals NaN
      val c = java.lang.Double.compare(d, d2)
      c < 0 || (c == 0 && id < id2)
    }

  /** [[collectQueries]]' projection of each query frame still in use,
    * keyed by the frame's identity (a plan holds no reference back to
    * the frame it came from). A caller that searches with one frame
    * again re-runs the planned projection, as a repeated `collect()` of
    * one Dataset does. */
  private val projected = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, QueryExecution]())

  /** The query batch on the driver: LONG `query_id`s and primitive
    * `qvec`s, in collect order. The frame is projected and cast to
    * (query_id LONG, qvec ARRAY<DOUBLE>) and that plan collected as
    * `collect()` runs it (under its own SQL execution), but read as
    * internal rows: one primitive copy per `qvec`, no boxed `Row`. The
    * projection is planned once per query frame ([[projected]]), since
    * planning it costs more than collecting a batch of a thousand
    * queries. A null id or vector is rejected, and so is a duplicate id —
    * its two queries' results would be indistinguishable in the output. */
  def collectQueries(queries: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val qe = projected.computeIfAbsent(queries, q =>
      q.select(col("query_id").cast("long"), col("qvec").cast("array<double>")).queryExecution)
    val rows = SQLExecution.withNewExecutionId(qe, Some("collectQueries"))(
      qe.executedPlan.executeCollect())
    val ids = rows.map { r =>
      require(!r.isNullAt(0), "null query_id in the query batch")
      r.getLong(0)
    }
    val seen = new scala.collection.mutable.LongMap[Unit](ids.length * 2)
    ids.foreach { q =>
      require(!seen.contains(q), s"duplicate query_id $q in the query batch")
      seen(q) = ()
    }
    (ids, rows.map { r =>
      require(!r.isNullAt(1), s"null qvec for query_id ${r.getLong(0)}")
      r.getArray(1).toDoubleArray()
    })
  }

  /** The one top-k merge. `scan` runs once per partition of `rows` and
    * returns that partition's heaps, one per query (or none for a
    * partition with nothing to offer); `fold` merges them into `nq` heaps
    * on the driver as the task results arrive. Its zero is `nq` empty
    * heaps, so a corpus with zero partitions — or only empty ones —
    * yields empty heaps rather than an error. One job, no shuffle: the
    * driver receives at most k entries per query per partition.
    * `distinct` skips ids already merged (the replicated routed graph,
    * where one id can surface from several partitions with the same rank
    * key). */
  def merge[T](rows: RDD[T], nq: Int, k: Int, distinct: Boolean = false)(
      scan: Iterator[T] => Array[BoundedTopK]): Array[BoundedTopK] = {
    if (nq == 0) return Array.empty
    val combine = (acc: Array[BoundedTopK], part: Array[BoundedTopK]) => {
      var qi = 0
      while (qi < part.length) { acc(qi).mergeFrom(part(qi), distinct); qi += 1 }
      acc
    }
    rows.mapPartitions(it => Iterator.single(scan(it)))
      .fold(Array.fill(nq)(new BoundedTopK(k)))(combine)
  }

  /** Merged heaps → the kNN result as one local relation:
    * (query_id, neighbor_id, distance, rank), rank 1..k per query,
    * `finish` applied to each rank key (the metric's sqrt for L2). Its
    * EXPLAIN shows the plan of `scanned`, the table the heaps came from. */
  def toFrame(scanned: Dataset[_], qids: Array[Long], heaps: Array[BoundedTopK],
      finish: Double => Double): DataFrame =
    ResultFrames.knn(scanned, rows(qids, heaps)(finish))

  /** The result rows (query_id, neighbor_id, distance(key), rank), built
    * straight from the heaps in query order. */
  def rows(qids: Array[Long], heaps: Array[BoundedTopK])(distance: Double => Any): Seq[InternalRow] = {
    var n = 0
    heaps.foreach(n += _.size)
    val out = new Array[InternalRow](n)
    var i = 0
    var qi = 0
    while (qi < qids.length) {
      val h = heaps(qi)
      var r = 0
      while (r < h.size) {
        out(i) = new GenericInternalRow(Array[Any](qids(qi), h.ids(r), distance(h.dists(r)), r + 1))
        i += 1
        r += 1
      }
      qi += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}

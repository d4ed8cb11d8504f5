package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
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
  * boxing). The arrays start small and double as entries arrive, up to
  * k, so a heap costs what it holds: a k far above the rows a scan can
  * offer (`withK(10^8)`, a bounded range search's `maxResults`) never
  * allocates k slots. Every blocked kernel, server and in-process scan
  * fills these, and [[BoundedTopK.merge]] is the one cross-partition
  * merge, so the order can't drift between paths.
  *
  * An entry may carry a LONG-array payload (PLAID's token hashes, which
  * its exact rerank reads): inserted with one, it moves with its entry
  * through every shift, [[mergeFrom]] and [[BoundedTopK.merge]]. A
  * heap's entries all carry one or none; the payload array exists only
  * once the first one is inserted.
  */
private[graft] final class BoundedTopK(val k: Int) extends Serializable {
  // k == 0 would make insert() read dists(-1); callers clamp k <= 0 to the
  // "all rows" path before constructing (flat.go:82-84), so fail loudly here
  require(k > 0, s"BoundedTopK requires k > 0, got $k")
  private var keys = new Array[Double](math.min(k, BoundedTopK.InitialSlots))
  private var entryIds = new Array[Long](keys.length)
  var size = 0
  private var payloads: Array[Array[Long]] = null

  /** The keys of entries 0 until [[size]], ascending. */
  def dists: Array[Double] = keys

  /** The ids of entries 0 until [[size]]. */
  def ids: Array[Long] = entryIds

  def insert(id: Long, d: Double): Unit = slot(id, d)

  /** [[insert]] of an entry with a payload. */
  def insert(id: Long, d: Double, payload: Array[Long]): Unit = {
    val sz = size
    val pos = slot(id, d)
    if (pos >= 0) {
      if (payloads == null) payloads = new Array[Array[Long]](keys.length)
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
    if (sz == k && d > keys(sz - 1)) return -1
    if (sz < k || BoundedTopK.before(d, id, keys(sz - 1), entryIds(sz - 1))) {
      if (sz < k && sz == keys.length) grow()
      val dists = keys
      val ids = entryIds
      var pos = if (sz < k) sz else k - 1
      while (pos > 0 && BoundedTopK.before(d, id, dists(pos - 1), ids(pos - 1))) {
        dists(pos) = dists(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
      }
      dists(pos) = d; ids(pos) = id
      if (sz < k) size = sz + 1
      pos
    } else -1
  }

  /** Double the slots, up to k. */
  private def grow(): Unit = {
    val n = math.min(k.toLong, 2L * keys.length).toInt
    keys = java.util.Arrays.copyOf(keys, n)
    entryIds = java.util.Arrays.copyOf(entryIds, n)
    if (payloads != null) payloads = java.util.Arrays.copyOf(payloads, n)
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

  /** Slots a heap starts with; it doubles from there up to k. A heap of
    * k ≤ 1,024 (every ordinary search, and the HNSW builds' neighbour
    * heaps) is allocated whole (16 KB at most) and never grows, so the
    * growth branch stays cold in the JIT's profile of the insert path
    * that every scan inlines: starting at 16 slots, the builds' growing
    * heaps made that branch a live call in the scan loops, and graftbench
    * serve ran 8% slower. */
  private[graft] val InitialSlots = 1024

  /** The one top-k merge. `scan` runs once per partition of `rows` and
    * returns that partition's heaps, one per query (or none for a
    * partition with nothing to offer). The driver merges each task's
    * heaps into `nq` heaps ([[mergeFrom]]) as the task's result arrives
    * (`runJob`'s result handler), so nothing of size nq ships into a
    * task, and a corpus with zero partitions — or only empty ones —
    * yields empty heaps rather than an error. One job, no shuffle: the
    * driver receives at most k entries per query per partition.
    * `distinct` skips ids already merged (the replicated routed graph,
    * where one id can surface from several partitions with the same rank
    * key). */
  def merge[T](rows: RDD[T], nq: Int, k: Int, distinct: Boolean = false)(
      scan: Iterator[T] => Array[BoundedTopK]): Array[BoundedTopK] = {
    val merged = Array.fill(nq)(new BoundedTopK(k))
    if (nq > 0)
      rows.sparkContext.runJob(rows, scan, (_: Int, part: Array[BoundedTopK]) => {
        var qi = 0
        while (qi < part.length) { merged(qi).mergeFrom(part(qi), distinct); qi += 1 }
      })
    merged
  }

  /** Merged heaps → the kNN result as one leaf relation
    * ([[ResultFrames.knn]]): (query_id, neighbor_id, distance, rank),
    * rank 1..k per query, `finish` applied to each rank key (the metric's
    * sqrt for L2). Its EXPLAIN shows the plan of `scanned`, the table the
    * heaps came from. */
  def toFrame(scanned: Dataset[_], qids: Array[Long], heaps: Array[BoundedTopK],
      finish: Double => Double): DataFrame =
    ResultFrames.knn(scanned, entries(heaps))(write(qids, heaps, finish))

  /** [[toFrame]] with BQ's integer Hamming count as a LONG `hamming`
    * column in place of `distance`. */
  def toHammingFrame(scanned: Dataset[_], qids: Array[Long], heaps: Array[BoundedTopK]): DataFrame =
    ResultFrames.hammingKnn(scanned, entries(heaps))(write(qids, heaps, identity))

  private def entries(heaps: Array[BoundedTopK]): Long = {
    var n = 0L
    heaps.foreach(n += _.size)
    n
  }

  /** Every entry as a result row, in query order. */
  private def write(qids: Array[Long], heaps: Array[BoundedTopK],
      finish: Double => Double)(out: ResultFrames.Writer): Unit = {
    var qi = 0
    while (qi < qids.length) {
      val h = heaps(qi)
      var r = 0
      while (r < h.size) { out.add(qids(qi), h.ids(r), finish(h.dists(r)), r + 1); r += 1 }
      qi += 1
    }
  }
}

package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Metric

/** IVF (inverted-file) index: vectors clustered to nlist centroids; a
  * query scans only its nprobe nearest clusters (reference:
  * pkg/index/ivf/ivf.go).
  *
  * Spark layout: the index table is the vector table + a `cluster_id`
  * column, written partitioned by `cluster_id`; the centroid matrix is a
  * small driver-side artifact. Search is:
  *   1. probe ranking — per query, top-nprobe centroids by the model's
  *      metric (ivf.go:133-135 probes with the configured metric);
  *   2. probe join — `codes ⋈ broadcast(probes)` on cluster_id: with the
  *      table partitioned by cluster_id this is a partition-pruned scan
  *      (SURVEY.md J3); nothing about the big side ever shuffles;
  *   3. exact distances within the probed lists + per-query top-k
  *      ([[FlatIndex.topK]]'s window, which Spark 4 plans with a partial
  *      `WindowGroupLimit` ahead of the exchange; [[searchBlocked]]
  *      replaces the exchange with the driver merge of
  *      [[BoundedTopK.merge]]).
  */
final case class IvfModel(centroids: Seq[Seq[Double]], metric: Metric) {
  def nlist: Int = centroids.size
}

object IvfIndex {

  /** Train on the vector table (production: distributed Lloyd's under the
    * model's metric, capped training sample — see [[Centroids.kMeans]]). */
  def train(vectors: DataFrame, nlist: Int, metric: Metric, seed: Long = 42L): IvfModel =
    IvfModel(Centroids.kMeans(vectors, nlist, seed, metric = metric), metric)

  /** Deterministic trainer (id-bucket means) — same machinery,
    * oracle-reproducible. */
  def trainDeterministic(vectors: DataFrame, nlist: Int, metric: Metric): IvfModel =
    IvfModel(Centroids.bucketMeans(vectors, nlist), metric)

  /** Add-side: tag each vector with its nearest centroid under the
    * model's metric (J2, ivf.go:240-252). Pure projection —
    * streaming-safe, appendable (ivf.go:93-112 semantics: new vectors use
    * the trained centroids until an explicit re-train). */
  def assign(vectors: DataFrame, model: IvfModel): DataFrame =
    vectors.withColumn("cluster_id",
      Centroids.nearest(col("vec"), model.centroids, model.metric))

  /** Per-query probe set: top-nprobe clusters by centroid distance under
    * the model's metric. Output (query_id, qvec, cluster_id). nprobe is
    * clamped to nlist (ivf.go:127-129). */
  def probes(queries: DataFrame, model: IvfModel, nprobe: Int): DataFrame = {
    val np = math.min(math.max(nprobe, 1), model.nlist)
    val spark = queries.sparkSession
    import spark.implicits._
    // centroids as a small broadcast DataFrame — a typedlit matrix would
    // put nlist×dim literal nodes in the plan (40k+ at nlist=316/dim=128),
    // bloating analysis/codegen
    val cdf = model.centroids.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cluster_id", "cvec")
    val w = Window.partitionBy("query_id").orderBy(col("ckey"), col("cluster_id"))
    queries
      .crossJoin(broadcast(cdf))
      .withColumn("ckey", model.metric.rankKey(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= np)
      .select(col("query_id"), col("qvec"), col("cluster_id"))
  }

  /** Search the assigned table (`cluster_id` column present) — the fully
    * distributed plan (queries can themselves be a huge table). The
    * per-query top-k is [[FlatIndex.topK]]'s window; Spark 4 limits each
    * query's rows to k per partition (`WindowGroupLimit`) before the
    * exchange. k ≤ 0 clamps to "all probed rows" (flat.go:82-84 clamp
    * semantics). */
  def search(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val p = probes(queries, model, nprobe)
    val candidates = assigned.join(broadcast(p), Seq("cluster_id"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        model.metric.rankKey(col("qvec"), col("vec")).as("rank_key"))
    FlatIndex.topK(candidates, k, model.metric)
  }

  /** Blocked serving kernel, result-identical to [[search]]: probe
    * ranking runs driver-side over the small centroid matrix (nq·nlist
    * rank keys), a cluster→queries inverted index ships by broadcast, and
    * each index partition streams once through a primitive loop scoring a
    * row only against the queries that probe its cluster. The candidate
    * rows are never materialized, joined, or shuffled: each partition
    * fills one heap per query and [[BoundedTopK.merge]] combines them on
    * the driver into a local relation, so the scan job runs when this is
    * called. Queries must fit on the driver (they are the bounded side by
    * construction; use [[search]] for query *tables*). `query_id` is
    * cast to LONG, like every blocked kernel; callers with non-long query
    * ids should use [[search]]. */
  def searchBlocked(assigned: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    if (k <= 0) return search(assigned, model, queries, k, nprobe)
    val np = math.min(math.max(nprobe, 1), model.nlist)
    val spark = assigned.sparkSession
    import spark.implicits._
    val metric = model.metric
    val cents = model.centroids.map(_.toArray).toArray
    val (qids, qvecs) = BoundedTopK.collectQueries(queries)
    // per-query probe ranking is pure per slot — DriverPar fan-out
    // (nq·nlist·dim flops were a serial driver phase per call)
    val probes = new Array[Array[Int]](qvecs.length)
    DriverPar.foreach(qvecs.length, chunk = 64) { qi =>
      probes(qi) = probeSet(qvecs(qi), cents, metric, np)
    }
    val inv = invertedProbes(probes, model.nlist)
    val bc = spark.sparkContext.broadcast((qvecs, inv))
    val scanned = assigned
      .select(col("id").cast("long"), col("vec"), col("cluster_id"))
      .as[(Long, Array[Double], Int)] // primitive decode — no boxing
    val heaps = BoundedTopK.merge(scanned.rdd, qids.length, k) { it =>
      // Pack the partition CLUSTER-GROUPED ([[TagGroups]]), then scan
      // cluster-outer / query-inner: each probing query walks its
      // cluster's rows as ONE contiguous range with ONE resident heap.
      // The rows-outer form probed the inverted list and touched
      // qlist.length scattered heaps per row — LLC thrash at 32 tasks
      // (VERDICT r12 wrong #1: ivf_qps anti-scaled with cores). Heap
      // contents are insertion-order independent → heaps identical.
      val (qs, inverted) = bc.value
      val idsB = scala.collection.mutable.ArrayBuilder.make[Long]
      val tagsB = scala.collection.mutable.ArrayBuilder.make[Int]
      val dataB = scala.collection.mutable.ArrayBuilder.make[Double]
      var dim = -1
      while (it.hasNext) {
        val (id, v, cid) = it.next()
        require(cid >= 0, s"negative cluster_id $cid for id=$id")
        idsB += id
        tagsB += cid
        if (dim < 0) dim = v.length
        require(v.length == dim, s"ragged vector for id=$id: ${v.length} != $dim")
        dataB ++= v
      }
      val groups = new TagGroups(tagsB.result())
      val gIds = groups.gatherIds(idsB.result())
      val gData = groups.gather(dataB.result(), dim)
      val heaps = Array.fill(qs.length)(new BoundedTopK(k))
      var t = 0
      while (t < groups.tags.length) {
        val qlist = inverted(groups.tags(t))
        var li = 0
        while (li < qlist.length) {
          val qi = qlist(li)
          val q = qs(qi)
          val h = heaps(qi)
          var rr = groups.starts(t)
          while (rr < groups.starts(t + 1)) {
            h.insert(gIds(rr), metric.rankKeyScalar(q, gData, rr * dim, dim))
            rr += 1
          }
          li += 1
        }
        t += 1
      }
      heaps
    }
    BoundedTopK.toFrame(scanned, qids, heaps, metric.finishRankScalar)
  }

  /** Driver-side top-nprobe cluster ids for one query — the same
    * ascending (rank_key, cluster_id) order as [[probes]]. */
  private[graft] def probeSet(q: Array[Double], cents: Array[Array[Double]],
      metric: Metric, np: Int): Array[Int] =
    Array.tabulate(cents.length)(c => (metric.rankKeyScalar(q, cents(c)), c))
      .sortBy(identity).take(np).map(_._2)

  /** cluster → indices of the queries probing it. */
  private[graft] def invertedProbes(probes: Array[Array[Int]], nlist: Int): Array[Array[Int]] = {
    val buf = Array.fill(nlist)(new scala.collection.mutable.ArrayBuffer[Int])
    var qi = 0
    while (qi < probes.length) {
      probes(qi).foreach(c => buf(c) += qi)
      qi += 1
    }
    buf.map(_.toArray)
  }

  /** One-shot convenience: assign + search. */
  def knn(vectors: DataFrame, model: IvfModel, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    search(assign(vectors, model), model, queries, k, nprobe)
}

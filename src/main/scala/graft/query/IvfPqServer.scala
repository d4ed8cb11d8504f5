package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.index.{BoundedTopK, IvfIndex, IvfPqModel, PqIndex}

/** Online single-query serving over an IVFPQ index — the best
  * memory-footprint kind (codes + two small models), now with the same
  * in-process serving path the reference facade gives every index type
  * (pkg/search/search.go:92-112; ivfpq.go:222-284 search semantics).
  *
  * Same engineering as [[IvfServer]]: codes packed ONCE into cached
  * primitive [[CodeBlock]]s tagged by cluster id; per query the probe
  * ranking runs on the driver, and — because a single query probes only
  * `nprobe` clusters — the per-cluster residual ADC tables
  * (nprobe · M × Ksub doubles, ~160 KB at the bench config) are ALL
  * hoisted driver-side and ship in the task closure ([[IvfPqIndex
  * .searchBlocked]] hoists adaptively per partition because it carries
  * 1000 queries; one query makes the hoist unconditionally cheap). The
  * scan is then M int lookups per row in a probed cluster, rows in
  * unprobed clusters are a tag test; ONE single-stage RDD job per query.
  *
  * Result order/tie-break matches [[IvfPqIndex.searchBlocked]] exactly:
  * ascending (rank_key, id); distances bit-identical (the hoisted table
  * and the direct form share the per-subspace fold — see the bit-identity
  * note in searchBlocked).
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class IvfPqServer(codes: DataFrame, model: IvfPqModel) extends ServingRdd {

  private val cents = model.coarse.centroids.map(_.toArray).toArray

  private val rdd: RDD[CodeBlock] = ServeBlocks.packCodes(codes, Some("cluster_id"))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { rdd.count(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val np = math.min(math.max(nprobe, 1), model.coarse.nlist)
    // per-cluster FLAT residual ADC table (entry mi·ksub + code), null =
    // cluster not probed — one load per subspace (VERDICT r5 #2)
    val tables = new Array[Array[Double]](model.coarse.nlist)
    val ksub = model.pq.ksub
    IvfIndex.probeSet(q, cents, model.coarse.metric, np).foreach { c =>
      val cent = cents(c)
      val r = new Array[Double](q.length)
      var i = 0
      while (i < q.length) { r(i) = q(i) - cent(i); i += 1 }
      tables(c) = PqIndex.adcTable(r, model.pq)
    }
    val top = BoundedTopK.merge(rdd, 1, k) { it =>
      val merge = new BoundedTopK(k)
      while (it.hasNext) {
        val blk = it.next()
        val m = blk.m
        val n = blk.ids.length
        var r = 0
        while (r < n) {
          val tab = tables(blk.tags(r).toInt)
          if (tab != null) {
            val off = r * m
            var d = 0.0
            var mi = 0
            while (mi < m) { d += tab(mi * ksub + blk.codes(off + mi)); mi += 1 }
            merge.insert(blk.ids(r), d)
          }
          r += 1
        }
      }
      Array(merge)
    }.head
    // ADC reports √ of the summed squared subspace distances (ivfpq.go:533-539)
    top.ranked(math.sqrt)
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

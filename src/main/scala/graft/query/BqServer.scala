package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.index.{BoundedTopK, BqIndex, BqModel}

/** Online single-query serving over a BQ packed-word table — completes
  * the serving matrix to the binary-quantized kind, whose whole appeal
  * is the cheapest serving-resident state of any kind: dim/8 BYTES per
  * row (two longs at dim = 64), 32× under a float32 flat server.
  *
  * Same engineering as [[PqServer]]: the sign words pack ONCE into
  * cached primitive [[WordBlock]]s; per query the driver packs q
  * against the model thresholds ([[BqIndex.packLocal]], bit-identical
  * to the plan-side encode) and ships the few query words in the task
  * closure; the scan is XOR + popcount per word per row; ONE
  * single-stage RDD job per query, driver merge.
  *
  * Result order/tie-break matches [[BqIndex.knnBlocked]] exactly:
  * ascending (hamming, id) — BoundedTopK's (dist, id) ordering with the
  * integer Hamming distance carried as a double rank key.
  */
// deliberately NOT Serializable — per-query closures capture only locals
final class BqServer(codes: DataFrame, model: BqModel) extends ServingRdd {

  private val rdd: RDD[WordBlock] = ServeBlocks.packWords(codes)

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { rdd.count(); this }

  /** One query → top-k (id, hamming, rank), driver-merged. */
  def search(q: Array[Double], k: Int): Array[(Long, Long, Int)] = {
    require(k > 0, s"serving requires k > 0, got $k")
    val qc = BqIndex.packLocal(q, model.thresholdArray)
    val nw = qc.length
    val top = BoundedTopK.merge(rdd, 1, k) { it =>
      val merge = new BoundedTopK(k)
      while (it.hasNext) {
        val blk = it.next()
        require(blk.nWords == nw,
          s"serving block has ${blk.nWords} words, query packs to $nw")
        val n = blk.ids.length
        var r = 0
        while (r < n) {
          val off = r * nw
          var d = 0L
          var w = 0
          while (w < nw) {
            d += java.lang.Long.bitCount(blk.words(off + w) ^ qc(w))
            w += 1
          }
          merge.insert(blk.ids(r), d.toDouble)
          r += 1
        }
      }
      Array(merge)
    }.head
    top.ranked(identity).map { case (id, d, r) => (id, d.toLong, r) }
  }

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = rdd
}

package graft.query

import org.apache.spark.sql.DataFrame

import graft.core.Metric
import graft.index.{IvfModel, Sq8Model}

/** Online single-query serving for the IVF×SQ8 composite kind
  * (`knn_ivfsq8_det`'s layout: coarse cluster assignment on the ORIGINAL
  * vectors, SQ8 codes as the stored payload) — VERDICT r7 #7: plain
  * [[Sq8Server]] is a flat-class exhaustive scan, cost ∝ n (149.9 ms p50
  * at 1M); routing it through the IVF probe bounds the per-query scan to
  * the probed clusters' rows while keeping the 1 B/element resident
  * state. The codes pack once grouped by cluster, and each probed cluster
  * scans as one contiguous range ([[PackedKind.ivfSq8]]).
  *
  * Result order/tie-break matches the composite batch plan exactly:
  * ascending (rank_key, id) over dequantized candidates in probed
  * clusters — a property of the merged output, not scan order.
  */
final class IvfSq8Server(codes: DataFrame, sq8: Sq8Model, ivf: IvfModel)
    extends ServingRdd {

  require(sq8.metric == Metric.L2 && ivf.metric == Metric.L2,
    s"IvfSq8Server serves the l2 kind; got ${sq8.metric.name}/${ivf.metric.name}")

  private val served = new DistributedScan(codes, PackedKind.ivfSq8(sq8, ivf))

  /** Materialize the serving blocks (call once before timing queries). */
  def warm(): this.type = { served.warm(); this }

  /** One query → top-k (id, distance, rank), driver-merged. */
  def search(q: Array[Double], k: Int, nprobe: Int): Array[(Long, Double, Int)] =
    served.search(q, k, nprobe)

  protected def servingRdd: org.apache.spark.rdd.RDD[_] = served.blocks
}

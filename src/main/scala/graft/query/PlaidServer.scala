package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.index.PlaidIndex.PlaidModel

/** Distributed resident serving for the PLAID kind: the per-doc packs
  * ([[PlaidKind]]) stay partitioned across the executors, one query is
  * ONE job of [[DistributedScan]] whose tasks scan their packs' probed
  * docs into a heap of topN, merged on the driver by
  * [[graft.index.BoundedTopK.merge]], and the merged topN is
  * exact-MaxSim-reranked on the driver ([[PlaidKind.rerank]]) — bounded
  * work ∝ topN, the same split as the DataFrame pipeline.
  * Result-identical to [[LocalPlaidServer.search]] and therefore to the
  * maxsim_first_stage row (LocalServeSpec pins the chain).
  */
final class PlaidServer(docs: DataFrame, post: DataFrame, model: PlaidModel)
    extends ServingRdd {
  private[graft] val kind = PlaidKind(docs.sparkSession, model)
  private val served = new DistributedScan(PlaidKind.served(docs, post), kind)

  /** Materialize the serving partitions (call once before timing). */
  def warm(): this.type = { served.warm(); this }

  protected def servingRdd: RDD[_] = served.blocks

  /** Drop the packs and the centroid-table broadcast. */
  override def unpersist(): Unit = { super.unpersist(); kind.destroy() }

  /** One query text → the late-interaction result rows
    * (id, maxsim rounded 4, n_qtok, rank) — the maxsim_first_stage
    * shape, rank ≤ k over a first-stage pool of topN. */
  def search(queryId: Long, text: String, topN: Int, k: Int): Array[(Long, Double, Int, Int)] = {
    val q = PlaidKind.query(queryId, text, topN, k)
    PlaidKind.rerank(q, served.heap(q, topN, ()), k)
  }
}

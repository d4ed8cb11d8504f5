package graft.query

import org.apache.spark.sql.DataFrame

import graft.index.PlaidIndex.PlaidModel

/** In-process late-interaction serving over a PLAID index — the
  * [[LocalServe]] single-heap path for the multi-vector kind: the same
  * per-doc packs as [[PlaidServer]] collect to the driver ONCE, and each
  * query runs the same [[PlaidKind]] scan over them ([[LocalScan]]: packs
  * in parallel, heaps merged in the (key, id) order) and the same exact
  * rerank, with zero Spark jobs. Every stage is float-for-float
  * `PlaidIndex.candidates` + the exact stage (LocalServeSpec asserts the
  * parity).
  *
  * Resident footprint ∝ corpus tokens (per-doc centroid and hash sets
  * plus the postings) — the single-heap regime; the DataFrame pipeline
  * stays the 100 TB path, exactly as with the vector kinds'
  * Local*Servers.
  */
final class LocalPlaidServer(docs: DataFrame, post: DataFrame, model: PlaidModel) {
  private[graft] val kind = PlaidKind(docs.sparkSession, model)
  private val served = new LocalScan(PlaidKind.served(docs, post), kind)

  /** First-stage candidates, ranked: probe the top-nprobe centroids per
    * query token, pool candidate docs through the postings, score each
    * by the centroid-interaction sum. Mirrors PlaidIndex.candidates. The
    * pool is the answer here, so the check's k is topN. */
  def candidates(queryId: Long, text: String, topN: Int): Array[Long] = {
    val first = served.heap(PlaidKind.query(queryId, text, topN, topN), topN, ())
    first.ids.take(first.size)
  }

  /** Full pipeline: first-stage topN candidates, exact MaxSim rerank to
    * rank ≤ k → (id, maxsim rounded 4, n_qtok, rank). Mirrors
    * maxsim_first_stage's exact tail row-for-row. */
  def search(queryId: Long, text: String, topN: Int, k: Int): Array[(Long, Double, Int, Int)] = {
    val q = PlaidKind.query(queryId, text, topN, k)
    PlaidKind.rerank(q, served.heap(q, topN, ()), k)
  }

  /** Release the centroid-table broadcast; the server answers no query
    * after it. */
  def unpersist(): Unit = kind.destroy()
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

// temporary profiling scratchpad — not part of the library surface.
// Isolates PLAID serving latency at the bench's plaid_sel protocol, for
// both shapes: PlaidServer.search (one job per query) and
// LocalPlaidServer.search (in process, no job):
//   runMain graft.tools.PlaidServeProbe [nDocs] [c] [vocab]
// Prints the dispatch floors, then p50/p95/p99 of each shape over the
// same 100 queries at topN 50, k 10, so a serving regression can be
// attributed to job dispatch vs the scan.
object PlaidServeProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toLong).getOrElse(10000L)
    val c = args.lift(1).map(_.toInt)
      .getOrElse(graft.index.PlaidIndex.defaultC(nDocs * 48))
    val vocab = args.lift(2).map(_.toInt).getOrElse(math.max(4096, 8 * c))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[probe] nDocs=$nDocs C=$c vocab=$vocab")
    val world = graft.core.CorpusGen.plaidWorld(spark, nDocs, vocab, c, 48, 1)
    val post = graft.index.PlaidIndex.build(world.docs, world.model).cache()
    post.count()
    val server = new graft.query.PlaidServer(world.docs, post, world.model).warm()
    val qTexts = world.docs.where(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // control: no-op jobs over a trivial 8-partition cached rdd — if this
    // also reads tens of ms, the floor is scheduler warmup/dispatch, not
    // anything about the serving rdd
    val ctl = spark.sparkContext.parallelize(1 to 8, 8).cache()
    ctl.count()
    (1 to 200).foreach(_ => ctl.mapPartitions(_ => Iterator.single(1)).collect())
    val ctlT = (1 to 30).map { _ =>
      val t0 = System.nanoTime()
      ctl.mapPartitions(_ => Iterator.single(1)).collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    println(f"[probe] control floor p50 ${ctlT(15)}%.1f ms")
    // floor: the no-op job over the same partitions
    val floor = (1 to 30).map { _ =>
      val t0 = System.nanoTime(); server.floorProbe(); (System.nanoTime() - t0) / 1e6
    }.sorted
    println(f"[probe] floor p50 ${floor(15)}%.1f ms")
    val local = new graft.query.LocalPlaidServer(world.docs, post, world.model)
    // docs per serving pack: both shapes scan these packs in parallel
    val packDocs = graft.query.PlaidKind.served(world.docs, post).rdd
      .coalesce(graft.query.ServeBlocks.ServePartitions)
      .mapPartitions(rows => Iterator(rows.size)).collect()
    println(s"[probe] docs per serving pack ${packDocs.mkString(",")}")
    def timed(label: String)(search: (Long, String) => Unit): Unit = {
      qTexts.take(5).foreach { case (qid, text) => search(qid, text) }
      val times = qTexts.map { case (qid, text) =>
        val t0 = System.nanoTime()
        search(qid, text)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      def pct(p: Double) = times(math.min(times.length - 1, (times.length * p).toInt))
      println(f"[probe] $label p50 ${pct(0.50)}%.2f p95 ${pct(0.95)}%.2f p99 ${pct(0.99)}%.2f ms")
    }
    timed("search")((qid, text) => server.search(qid, text, 50, 10))
    timed("local search")((qid, text) => local.search(qid, text, 50, 10))
    spark.stop()
  }
}

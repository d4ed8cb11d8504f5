package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Metric
import graft.index.{HnswIndex, IvfIndex, IvfPqIndex}
import graft.io.IndexIO
import graft.query._

/** What every workload is handed by [[Main]]. */
final case class Ctx(spark: SparkSession, rec: Recorder, counters: SparkCounters,
    out: Outcome, in: Inputs, seconds: Double, cores: Int, workDir: String)

/** The three workloads. All are closed loops from one driver thread, L2,
  * k = 10, over inputs made from the seed by [[Inputs.generate]]. */
object Workloads {
  val K = 10
  val Kinds = Seq("flat", "ivf", "ivf_np50", "ivfpq", "hnsw")
  // the reference's HNSW configuration (M 16, efConstruction 200, efSearch 50)
  private val HnswM = 16
  private val HnswEfC = 200
  private val HnswShards = 8
  private val PqM = 8
  private val PqBits = 8
  /** Set-up runs this many times; setup_s is the median. The first runs
    * cold, at about twice the time of the second, so the median is the mean
    * of a cold and a warm set-up; a third would add 3-5 s to every run,
    * which the run budget can barely spare when the machine is slow. */
  private val SetupReps = 2
  /** Batch throughput climbs about 2x over the first two rounds and some
    * 20% more over the next three (JIT, first plans). Warm-up rounds are
    * checked but not measured; without enough of them a slower machine
    * also warms up more slowly, which amplifies its effect on the medians. */
  private val WarmRounds = 4
  private val MinRounds = 5
  private val ServeWarmupSeconds = 1.0
  /** Ingest set-up is one cycle of the write path, which also compiles and
    * plans what the timed cycles run: a cold cycle takes about twice as
    * long as a warm one. It runs once: a second would add a warm cycle's
    * 7 s to every run, which the run budget can barely spare. */
  private val MinCycles = 2

  val Params: Map[String, GenParams] = Map(
    "batch" -> GenParams(n = 5000, dim = 64, clusters = 32, centreScale = 1.0,
      noise = 1.8, nq = 1000, delta = 0),
    "serve" -> GenParams(n = 5000, dim = 64, clusters = 32, centreScale = 1.0,
      noise = 1.8, nq = 1000, delta = 0),
    "ingest" -> GenParams(n = 2500, dim = 64, clusters = 32, centreScale = 1.0,
      noise = 1.8, nq = 200, delta = 250))

  private def materialize(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
  /** Quantizers train on the first min(n/2, 5000) rows, the reference
    * harness's cap; every row is then encoded. */
  private def trainingRows(corpus: DataFrame, n: Int): DataFrame =
    corpus.where(col("id") < math.min(n / 2, 5000))
  private def nlist(n: Int): Int = math.sqrt(n.toDouble).toInt
  private def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** The five batch searchers over one corpus, and the cached tables
    * they hold. */
  final class IndexSet(val searchers: Seq[(String, Searcher)], tables: Seq[DataFrame]) {
    def release(): Unit = tables.foreach(_.unpersist(blocking = true))
  }

  private def buildIndexes(ctx: Ctx, corpus: DataFrame, n: Int): IndexSet = {
    val rec = ctx.rec
    val train = trainingRows(corpus, n)
    val ivf = rec.time("index.ivf.train")(IvfIndex.train(train, nlist(n), Metric.L2))
    val assigned = rec.time("index.ivf.encode")(materialize(IvfIndex.assign(corpus, ivf)))
    val pq = rec.time("index.ivfpq.train")(
      IvfPqIndex.train(train, nlist(n), PqM, PqBits, Metric.L2))
    val codes = rec.time("index.ivfpq.encode")(materialize(IvfPqIndex.encode(corpus, pq)))
    val graph = rec.time("index.hnsw.build")(
      materialize(HnswIndex.build(corpus, HnswShards, Metric.L2, HnswM, HnswEfC)))
    new IndexSet(Seq(
      "flat" -> Searcher(FlatKind(corpus, Metric.L2)),
      "ivf" -> Searcher(IvfKind(ivf, assigned)),
      "ivf_np50" -> Searcher(IvfKind(ivf, assigned)).withNprobe(50),
      "ivfpq" -> Searcher(IvfPqKind(pq, codes)),
      "hnsw" -> Searcher(HnswKind(graph, Metric.L2, HnswShards))), Seq(assigned, codes, graph))
  }

  /** Runs `build` `reps` times, releasing every result but the last, and
    * records the median as setup_s. */
  private def setUp[T](ctx: Ctx, reps: Int = SetupReps)(build: => T)(release: T => Unit): T = {
    val times = ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (_ <- 0 until reps) {
      last.foreach(release)
      val (v, ns) = ctx.rec.timed("setup")(build)
      times += ns / 1e9
      last = Some(v)
    }
    ctx.out.record("setup_s", Stats.median(times.toSeq), times.toSeq)
    last.get
  }

  /** Records the heap that stays in use after a full GC. */
  private def recordHeap(ctx: Ctx): Unit = {
    val heap = Jvm.heapAfterGcMb()
    ctx.out.endToEnd("retained_heap_mb") = heap
    ctx.out.layer("jvm.heap_after_gc_mb") = heap
  }

  /** Cached bytes of every persisted table per corpus vector: the flat
    * corpus plus the IVF, IVFPQ and HNSW tables. */
  private def cachedBytesPerVector(spark: SparkSession, n: Int): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble / n

  private def corpusFrame(ctx: Ctx): DataFrame =
    ctx.rec.time("core.datagen")(
      materialize(ctx.in.vectorFrame(ctx.spark, ctx.in.corpus, 0L, ctx.cores)))

  /** Checks one answer set of `kind` against the oracle: exact kinds
    * exactly, ANN kinds for shape. Returns the faults found. */
  private def faults(kind: String, answers: Array[Answer], in: Inputs, oracle: Oracle,
      valid: Long => Boolean): Seq[String] =
    answers.indices.flatMap { qi =>
      val a = answers(qi)
      (if (kind == "flat") Checks.exact(a, in, oracle, qi, K, valid)
       else Checks.wellFormed(a, K, valid)).map(f => s"$kind query $qi: $f")
    }

  private def below(n: Long): Long => Boolean = id => id >= 0 && id < n

  private def recall(answers: Array[Answer], oracle: Oracle): Double =
    Stats.mean(answers.indices.map(qi => Checks.recall(answers(qi), oracle, qi)))

  private def loopGc[T](ctx: Ctx)(body: => T): T = {
    val g0 = Jvm.gcMs()
    val r = body
    ctx.out.layer("jvm.gc_ms") = (Jvm.gcMs() - g0).toDouble
    r
  }

  /** Spark batch kNN: each round issues one search(queries).collect() per
    * kind over index tables cached in set-up. */
  def batch(ctx: Ctx): Unit = {
    val in = ctx.in
    val (n, nq) = (in.corpus.length, in.queries.length)
    val corpus = corpusFrame(ctx)
    val queries = in.queryFrame(ctx.spark)
    val oracle = Inputs.oracle(in, n, K)
    val set = setUp(ctx)(buildIndexes(ctx, corpus, n))(_.release())
    recordHeap(ctx)
    ctx.out.endToEnd("index_bytes_per_vector") = cachedBytesPerVector(ctx.spark, n)

    val callMs = Kinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    val recalls = Kinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    val roundQps = ArrayBuffer.empty[Double]
    def round(measured: Boolean): Long = set.searchers.map { case (kind, s) =>
      // the warm-up's spans are kept apart from the measured rounds'
      val span = if (measured) "" else "warmup."
      val (df, prepNs) = ctx.rec.timed(s"${span}query.search.$kind")(s.search(queries))
      val (rows, execNs) = ctx.rec.timed(s"${span}spark.$kind.exec")(df.collect())
      val answers = Answer.fromRows(rows, nq)
      ctx.out.op(faults(kind, answers, in, oracle, below(n)))
      if (measured) {
        callMs(kind) += (prepNs + execNs) / 1e6
        recalls(kind) += recall(answers, oracle)
      }
      prepNs + execNs
    }.sum
    for (_ <- 0 until WarmRounds) round(measured = false)
    val end = deadline(ctx.seconds)
    loopGc(ctx) {
      while (roundQps.length < MinRounds || System.nanoTime() < end)
        roundQps += Kinds.length * nq / (round(measured = true) / 1e9)
    }
    ctx.out.record("ops_per_s", Stats.median(roundQps.toSeq), roundQps.toSeq)
    val kindP50 = Kinds.map(k => Stats.median(callMs(k).toSeq))
    ctx.out.record("p50_ms", Stats.mean(kindP50), callMs.values.flatten.toSeq)
    recordRecall(ctx, Kinds.map(k => k -> Stats.mean(recalls(k).toSeq)))
  }

  private def recordRecall(ctx: Ctx, byKind: Seq[(String, Double)]): Unit = {
    byKind.foreach { case (k, r) => ctx.out.layer(s"index.$k.recall_at_10") = r }
    ctx.out.endToEnd("recall_at_10") = Stats.mean(byKind.map(_._2))
  }

  /** In-process serving through Searcher.localServer(): single queries
    * from one client, round-robin over kinds, then rounds of one
    * searchBatch of all queries per kind. The end-to-end metrics come from
    * the searchBatch rounds: single-query figures spread 23-25% over ten
    * seeds on a 4-vCPU VM (thread wake-up jitter), so they are per-layer
    * metrics only. */
  def serve(ctx: Ctx): Unit = {
    val in = ctx.in
    val (n, nq) = (in.corpus.length, in.queries.length)
    val corpus = corpusFrame(ctx)
    val queries = in.queryFrame(ctx.spark)
    val oracle = Inputs.oracle(in, n, K)
    val (set, servers) = setUp(ctx) {
      val set = buildIndexes(ctx, corpus, n)
      (set, set.searchers.map { case (kind, s) =>
        kind -> ctx.rec.time(s"query.local.$kind.construct")(s.localServer())
      })
    }(_._1.release())
    recordHeap(ctx)
    ctx.out.endToEnd("index_bytes_per_vector") = cachedBytesPerVector(ctx.spark, n)

    val singleMs = Kinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    val roundQps = ArrayBuffer.empty[Double]
    val batchQps = ArrayBuffer.empty[Double]
    val batchMs = Kinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    val batchAnswers = scala.collection.mutable.LinkedHashMap.empty[String, Array[Answer]]
    // the local kernels are still being compiled when set-up ends: single
    // queries speed up ~1.7x over their first two seconds, so a warm-up that
    // exercises both entry points runs first and is not measured
    for ((kind, srv) <- servers)
      ctx.out.op(faults(kind, srv.searchBatch(in.queries, K).map(Answer.fromLocal), in, oracle, below(n)))
    val warmEnd = deadline(ServeWarmupSeconds)
    var wi = 0
    while (System.nanoTime() < warmEnd) {
      servers.foreach { case (_, srv) => srv.search(in.queries(wi % nq), K) }
      wi += 1
    }
    val loopStartMs = System.currentTimeMillis()
    loopGc(ctx) {
      val singleEnd = deadline(ctx.seconds * 0.3)
      var qi = 0
      while (roundQps.length < MinRounds || System.nanoTime() < singleEnd) {
        var roundNs = 0L
        for ((kind, srv) <- servers) {
          val (res, ns) = ctx.rec.timed(s"query.local.$kind.single")(srv.search(in.queries(qi), K))
          roundNs += ns
          singleMs(kind) += ns / 1e6
          val a = Answer.fromLocal(res)
          ctx.out.op((if (kind == "flat") Checks.exact(a, in, oracle, qi, K, below(n))
            else Checks.wellFormed(a, K, below(n))).map(f => s"$kind local query $qi: $f"))
        }
        roundQps += Kinds.length / (roundNs / 1e9)
        qi = (qi + 1) % nq
      }
      val batchEnd = deadline(ctx.seconds * 0.7)
      while (batchQps.length < MinRounds || System.nanoTime() < batchEnd) {
        var roundNs = 0L
        for ((kind, srv) <- servers) {
          val (res, ns) = ctx.rec.timed(s"query.local.$kind.batch")(srv.searchBatch(in.queries, K))
          roundNs += ns
          batchMs(kind) += ns / 1e6
          val answers = res.map(Answer.fromLocal)
          ctx.out.op(faults(kind, answers, in, oracle, below(n)))
          batchAnswers.getOrElseUpdate(kind, answers)
        }
        batchQps += Kinds.length * nq / (roundNs / 1e9)
      }
    }
    val loopEndMs = System.currentTimeMillis()

    // local and Spark batch answers of one index must agree id for id
    for ((kind, s) <- set.searchers) {
      val rows = ctx.rec.time(s"serve.parity.$kind")(s.search(queries).collect())
      val spark = Answer.fromRows(rows, nq)
      val local = batchAnswers(kind)
      ctx.out.op(local.indices.flatMap(qi =>
        Checks.same(local(qi), spark(qi)).map(f => s"$kind local vs Spark query $qi: $f")))
    }
    ctx.counters.drain()
    val jobs = ctx.counters.jobsBetween(loopStartMs, loopEndMs)
    ctx.out.op(if (jobs == 0) Nil else Seq(s"the serve loop started $jobs Spark jobs"))
    ctx.out.layer("spark.serve.jobs_in_loop") = jobs.toDouble

    ctx.out.record("ops_per_s", Stats.median(batchQps.toSeq), batchQps.toSeq)
    ctx.out.record("p50_ms", Stats.mean(Kinds.map(k => Stats.median(batchMs(k).toSeq))),
      batchMs.values.flatten.toSeq)
    // kinds differ up to 3x in latency, so a median over the mix would sit
    // on a boundary between kinds; each kind gets its own median instead
    val allSingles = singleMs.values.flatten.toSeq
    ctx.out.layer("query.local.single_qps") = Stats.median(roundQps.toSeq)
    ctx.out.layer("query.local.single_p50_ms") =
      Stats.mean(Kinds.map(k => Stats.median(singleMs(k).toSeq)))
    ctx.out.layer("query.local.single_p99_ms") = Stats.percentile(allSingles, 0.99)
    recordRecall(ctx, batchAnswers.toSeq.map { case (k, a) => k -> recall(a, oracle) })
  }

  /** The write path and the reads after it. One cycle trains and encodes
    * IVFPQ, builds the sharded HNSW, saves both, opens each and answers a
    * batch, adds a delta to the saved HNSW, then reopens and answers
    * again. Set-up is one such cycle; the timed cycles follow it.
    * retained_heap_mb is read after the last cycle, while the IVFPQ and
    * the reopened HNSW searchers it opened are held. */
  def ingest(ctx: Ctx): Unit = {
    val in = ctx.in
    val (n, nq, nd) = (in.corpus.length, in.queries.length, in.delta.length)
    val spark = ctx.spark
    val rec = ctx.rec
    val queries = in.queryFrame(spark)
    val oracleBase = Inputs.oracle(in, n, K)
    val oracleAll = Inputs.oracle(in, n + nd, K)

    final case class Cycle(writeVps: Double, addVps: Double, openMs: Seq[Double],
        recalls: Seq[(String, Double)], bytesPerVector: Double, ivfpqBytes: Long, hnswBytes: Long,
        held: Seq[Searcher])

    /** Opens the index at `path` and answers the queries; returns the open
      * searcher, the time to the first answer, and the recall. */
    def openAndSearch(span: String, kind: String, path: String, oracle: Oracle,
        valid: Long => Boolean): (Searcher, Double, Double) = {
      val (s, openNs) = rec.timed(s"${span}io.$kind.open")(Searcher.open(spark, path))
      val (out, firstNs) = rec.timed(s"${span}io.$kind.first_search")(s.search(queries).collect())
      val answers = Answer.fromRows(out, nq)
      ctx.out.op(faults(kind, answers, in, oracle, valid))
      (s, (openNs + firstNs) / 1e6, recall(answers, oracle))
    }

    /** One cycle; `span` prefixes the names of its spans. */
    var cycles = 0
    def cycle(base: DataFrame, delta: DataFrame, span: String): Cycle = {
      cycles += 1
      val dir = s"${ctx.workDir}/cycle-$cycles"
      val (pq, trainNs) = rec.timed(span + "index.ivfpq.train")(
        IvfPqIndex.train(trainingRows(base, n), nlist(n), PqM, PqBits, Metric.L2))
      val (codes, encodeNs) = rec.timed(span + "index.ivfpq.encode")(materialize(IvfPqIndex.encode(base, pq)))
      val (_, pqSaveNs) = rec.timed(span + "io.ivfpq.save")(IndexIO.saveIvfPq(spark, s"$dir/ivfpq", pq, codes))
      codes.unpersist(blocking = true)
      val (graph, buildNs) = rec.timed(span + "index.hnsw.build")(
        materialize(HnswIndex.build(base, HnswShards, Metric.L2, HnswM, HnswEfC)))
      val (_, hnswSaveNs) = rec.timed(span + "io.hnsw.save")(
        IndexIO.saveHnsw(spark, s"$dir/hnsw", graph, Metric.L2, HnswM, HnswEfC))
      graph.unpersist(blocking = true)
      val writeS = (trainNs + encodeNs + pqSaveNs + buildNs + hnswSaveNs) / 1e9

      val (pqSearcher, pqOpenMs, pqRecall) =
        openAndSearch(span, "ivfpq", s"$dir/ivfpq", oracleBase, below(n))
      val (hnswSearcher, hnswOpenMs, hnswRecall) =
        openAndSearch(span, "hnsw", s"$dir/hnsw", oracleBase, below(n))
      // the reopen below reads the same path, so this searcher's cached
      // table must go first
      hnswSearcher.close()
      val (_, addNs) = rec.timed(span + "io.hnsw.add")(IndexIO.addToHnsw(spark, s"$dir/hnsw", delta))
      // delta ids follow the corpus ids
      val (reopened, reopenMs, reopenRecall) =
        openAndSearch(span, "hnsw", s"$dir/hnsw", oracleAll, below(n + nd))

      val pqBytes = Files.size(s"$dir/ivfpq")
      val hnswBytes = Files.size(s"$dir/hnsw")
      Files.delete(dir)
      Cycle(n / writeS, nd / (addNs / 1e9), Seq(pqOpenMs, hnswOpenMs, reopenMs),
        Seq("ivfpq" -> pqRecall, "hnsw" -> (hnswRecall + reopenRecall) / 2),
        pqBytes.toDouble / n + hnswBytes.toDouble / (n + nd), pqBytes, hnswBytes,
        Seq(pqSearcher, reopened))
    }

    val (base, delta) = rec.time("core.datagen")((
      materialize(in.vectorFrame(spark, in.corpus, 0L, ctx.cores)),
      materialize(in.vectorFrame(spark, in.delta, n.toLong, ctx.cores))))
    // the warm-up's spans are kept apart from the timed cycles'
    setUp(ctx, reps = 1)(cycle(base, delta, "warmup."))(_ => ())
      .held.foreach(_.close())

    val done = ArrayBuffer.empty[Cycle]
    val end = deadline(ctx.seconds)
    loopGc(ctx) {
      while (done.length < MinCycles || System.nanoTime() < end) {
        done.lastOption.foreach(_.held.foreach(_.close()))
        done += cycle(base, delta, "")
      }
    }
    val last = done.last
    recordHeap(ctx)
    last.held.foreach(_.close())
    ctx.out.record("ops_per_s", Stats.median(done.map(_.writeVps).toSeq), done.map(_.writeVps).toSeq)
    // the three opens differ several-fold, so each gets its own median
    val opens = last.openMs.indices.map(i => Stats.median(done.map(_.openMs(i)).toSeq))
    ctx.out.record("p50_ms", Stats.mean(opens), done.flatMap(_.openMs).toSeq)
    ctx.out.record("index_bytes_per_vector", Stats.median(done.map(_.bytesPerVector).toSeq),
      done.map(_.bytesPerVector).toSeq)
    ctx.out.layer("io.ivfpq.bytes") = last.ivfpqBytes.toDouble
    ctx.out.layer("io.hnsw.bytes") = last.hnswBytes.toDouble
    ctx.out.layer("io.hnsw.add_vps") = Stats.median(done.map(_.addVps).toSeq)
    recordRecall(ctx, last.recalls)
  }

  /** Disk size and removal of an index directory the workload wrote. */
  private object Files {
    import java.nio.file.{Files => F, Path, Paths}
    private def walk(dir: String): Seq[Path] = {
      val s = F.walk(Paths.get(dir))
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.toList } finally s.close()
    }
    def size(dir: String): Long = walk(dir).filter(F.isRegularFile(_)).map(F.size).sum
    def delete(dir: String): Unit = walk(dir).reverse.foreach(F.deleteIfExists)
  }
}

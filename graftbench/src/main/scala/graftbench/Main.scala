package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** `graftbench.Main --workload batch|serve|ingest --seed N --seconds S
  * --trace 0|1 --work DIR [--out FILE]`
  *
  * Prints, as the last line of standard output, one JSON object with the
  * keys correct, attempted, failed and metrics: the end-to-end metrics
  * untraced, the per-layer metrics traced. `--out` also receives the full
  * record: generator parameters, data fingerprint, sample counts, every
  * metric, the first failures and, traced, every span. */
object Main {

  /** End-to-end metrics and their units; every workload reports each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_ms" -> "ms",
    "recall_at_10" -> "fraction", "retained_heap_mb" -> "MiB", "index_bytes_per_vector" -> "B")

  private val Counters = Seq("jobs", "stages", "tasks", "shuffle_records", "shuffle_bytes")
  private val StageTimes = Seq("scan_stage_ms", "merge_stage_ms", "executor_cpu_ms", "scheduler_delay_ms")

  /** Per-layer metrics and their units. A workload that never enters a
    * layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Workloads.Kinds.flatMap { k =>
      Seq(s"query.search.$k.prep_ms" -> "ms", s"spark.$k.exec_ms" -> "ms") ++
        Counters.map(c => s"spark.$k.$c" -> (if (c == "shuffle_bytes") "B" else "count")) ++
        StageTimes.map(t => s"spark.$k.$t" -> "ms") ++
        Seq("construct_ms", "single_p50_ms", "single_p99_ms", "batch_ms")
          .map(m => s"query.local.$k.$m" -> "ms") :+
        (s"index.$k.recall_at_10" -> "fraction")
    } ++ Seq(
      "query.local.single_qps" -> "1/s", "query.local.single_p50_ms" -> "ms",
      "query.local.single_p99_ms" -> "ms",
      "spark.serve.jobs_in_loop" -> "count",
      "index.ivf.train_ms" -> "ms", "index.ivf.encode_ms" -> "ms",
      "index.ivfpq.train_ms" -> "ms", "index.ivfpq.encode_ms" -> "ms",
      "index.hnsw.build_ms" -> "ms") ++
    Seq("ivfpq", "hnsw").flatMap(k => Seq(s"io.$k.save_ms" -> "ms", s"io.$k.open_ms" -> "ms",
      s"io.$k.first_search_ms" -> "ms", s"io.$k.bytes" -> "B")) ++
    Seq("io.hnsw.add_ms" -> "ms", "io.hnsw.add_vps" -> "1/s",
      "core.session_ms" -> "ms", "core.datagen_ms" -> "ms",
      "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MiB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val params = Workloads.Params.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, "graftbench")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val out = new Outcome
    try {
      val counters = SparkCounters.install(spark.sparkContext, traced)
      val rec = new Recorder(traced, spark.sparkContext)
      val in = rec.time("core.datagen")(Inputs.generate(params, seed))
      val ctx = Ctx(spark, rec, counters, out, in, opts("seconds").toDouble, cores, opts("work"))
      workload match {
        case "batch" => Workloads.batch(ctx)
        case "serve" => Workloads.serve(ctx)
        case "ingest" => Workloads.ingest(ctx)
      }
      if (traced) {
        counters.drain()
        out.layer("core.session_ms") = sessionMs
        layerFromSpans(rec, counters, out)
      }
      val metrics = if (traced) PerLayer else EndToEnd
      val values = metrics.map { case (name, unit) =>
        name -> (unit, out.endToEnd.getOrElse(name, out.layer.getOrElse(name, 0.0)))
      }
      val finite = values.forall { case (_, (_, v)) => !v.isNaN && !v.isInfinite }
      val result = Json.obj(Seq(
        "correct" -> (out.failed == 0 && finite).toString,
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "metrics" -> Json.obj(values.map { case (name, (unit, v)) =>
          name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
        })))
      opts.get("out").foreach(f => writeRecord(f, workload, seed, traced, ctx, rec))
      out.failures.foreach(f => System.err.println(s"graftbench: wrong answer: $f"))
      println(result)
    } finally spark.stop()
  }

  /** Per-layer metrics from the spans and the Spark counters: a time is
    * the median over calls, a Spark count the mean per call. */
  private def layerFromSpans(rec: Recorder, counters: SparkCounters, out: Outcome): Unit = {
    def med(name: String): Double = {
      val d = rec.durationsMs(name)
      if (d.isEmpty) 0.0 else Stats.median(d)
    }
    def pct(name: String, p: Double): Double = {
      val d = rec.durationsMs(name)
      if (d.isEmpty) 0.0 else Stats.percentile(d, p)
    }
    for (k <- Workloads.Kinds) {
      out.layer(s"query.search.$k.prep_ms") = med(s"query.search.$k")
      out.layer(s"spark.$k.exec_ms") = med(s"spark.$k.exec")
      val calls = rec.durationsMs(s"spark.$k.exec").length
      val a = counters.sum(t => t == s"query.search.$k" || t == s"spark.$k.exec")
      def perCall(x: Long): Double = if (calls == 0) 0.0 else x.toDouble / calls
      Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "shuffle_records" -> a.shuffleRecords, "shuffle_bytes" -> a.shuffleBytes,
        "scan_stage_ms" -> a.scanStageMs, "merge_stage_ms" -> a.mergeStageMs,
        "executor_cpu_ms" -> a.executorCpuNs / 1000000L, "scheduler_delay_ms" -> a.schedulerDelayMs)
        .foreach { case (m, v) => out.layer(s"spark.$k.$m") = perCall(v) }
      out.layer(s"query.local.$k.construct_ms") = med(s"query.local.$k.construct")
      out.layer(s"query.local.$k.single_p50_ms") = pct(s"query.local.$k.single", 0.5)
      out.layer(s"query.local.$k.single_p99_ms") = pct(s"query.local.$k.single", 0.99)
      out.layer(s"query.local.$k.batch_ms") = med(s"query.local.$k.batch")
    }
    for (s <- Seq("index.ivf.train", "index.ivf.encode", "index.ivfpq.train",
        "index.ivfpq.encode", "index.hnsw.build", "io.ivfpq.save", "io.ivfpq.open",
        "io.ivfpq.first_search", "io.hnsw.save", "io.hnsw.open", "io.hnsw.first_search",
        "io.hnsw.add"))
      out.layer(s"${s}_ms") = med(s)
    out.layer("core.datagen_ms") = rec.durationsMs("core.datagen").sum
  }

  private def writeRecord(file: String, workload: String, seed: Long, traced: Boolean,
      ctx: Ctx, rec: Recorder): Unit = {
    val out = ctx.out
    def metrics(m: Iterable[(String, Double)]) = Json.obj(m.map { case (k, v) => k -> Json.num(v) })
    val fields = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(ctx.seconds), "traced" -> traced.toString,
      "cores" -> ctx.cores.toString,
      "max_heap_mib" -> Json.num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "generator" -> ctx.in.params.toJson, "fingerprint" -> Json.str(ctx.in.fingerprint),
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
      "samples" -> Json.obj(out.series.map { case (k, v) => k -> v.length.toString }),
      "series" -> Json.obj(out.series.map { case (k, v) => k -> v.map(Json.num).mkString("[", ",", "]") }),
      "end_to_end" -> metrics(out.endToEnd), "per_layer" -> metrics(out.layer)) ++
      (if (traced) Seq("spans" -> rec.all.map(s =>
        s"[${s.id},${s.parent},${Json.str(s.name)},${s.startNs / 1000},${s.endNs / 1000}]")
        .mkString("[", ",", "]"))
      else Nil)
    Files.write(Paths.get(file), Json.obj(fields).getBytes(StandardCharsets.UTF_8))
  }
}

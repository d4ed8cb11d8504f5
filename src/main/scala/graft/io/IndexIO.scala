package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.index._

/** Index persistence (SURVEY.md S6–S11): each index kind is a set of
  * Parquet tables plus a small JSON metadata sidecar carrying the format
  * version, index type, dimension, metric, and params.
  *
  * Layout (per index root):
  *   meta.json                       version + config echo
  *   vectors/                        flat: (id, vec[, norm])
  *   codes/  (partitioned by cluster_id for IVF kinds — this physical
  *            layout is what makes nprobe probing a partition-pruned scan)
  *   centroids/                      (cluster_id, vec)
  *   codebooks/                      (m, j, subvec)
  *
  * Version compatibility mirrors storage/version.go:27-37: readable iff
  * same major and minor ≤ current.
  */
object IndexIO {

  val CurrentVersion: (Int, Int, Int) = (1, 0, 0)
  private def versionString = CurrentVersion match { case (a, b, c) => s"$a.$b.$c" }

  /** version.go:27-37 compat rule. */
  def checkCompatible(version: String, path: String = "(unnamed)"): Unit = {
    val parts = version.split("\\.", -1)
    require(parts.length == 3 && parts.forall(_.toIntOption.exists(_ >= 0)),
      s"index at $path: malformed version '$version' in meta.json, expected major.minor.patch")
    require(parts(0).toInt == CurrentVersion._1 && parts(1).toInt <= CurrentVersion._2,
      s"index at $path: incompatible index version $version (current $versionString): " +
        "need same major and minor <= current")
  }

  /** The meta.json of the index at `path`, checked before anything reads
    * it: a `version` compatible with this build and an `index_type`. A
    * missing or bad field fails with the path and the field named. */
  def readChecked(path: String): Map[String, String] = {
    val meta = readMeta(path)
    def field(key: String): String = meta.getOrElse(key,
      throw new IllegalArgumentException(s"index at $path: meta.json has no '$key' field"))
    checkCompatible(field("version"), path)
    field("index_type")
    meta
  }

  // -- tiny flat-string-map JSON codec (no external deps) --
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def writeMeta(path: String, fields: Map[String, String]): Unit = {
    val all = if (fields.contains("version")) fields
      else fields + ("version" -> versionString)
    val json = all.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}\n")
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "meta.json"), json)
  }
  private val kvPattern = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  private def unesc(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
  def readMeta(path: String): Map[String, String] = {
    val text = Files.readString(Paths.get(path, "meta.json"))
    kvPattern.findAllMatchIn(text).map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
  }

  private def centroidsDf(spark: SparkSession, cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cluster_id", "vec")
  }
  private def collectCentroids(df: DataFrame): Seq[Seq[Double]] =
    df.orderBy("cluster_id").collect().map(_.getSeq[Double](1).toVector).toVector

  // ---- Flat ----
  def saveFlat(spark: SparkSession, path: String, vectors: DataFrame, metric: Metric): Unit = {
    val dim = vectors.select(size(col("vec"))).first().getInt(0)
    vectors.write.mode("overwrite").parquet(s"$path/vectors")
    writeMeta(path, Map("index_type" -> "flat", "metric" -> metric.name, "dim" -> dim.toString))
  }
  def loadFlat(spark: SparkSession, path: String): (DataFrame, Metric) = {
    val meta = loadChecked(path, "flat")
    (spark.read.parquet(s"$path/vectors"), Metric(meta("metric")))
  }

  // ---- IVF ----
  def saveIvf(spark: SparkSession, path: String, model: IvfModel, assigned: DataFrame): Unit = {
    // repartition on the partition column first: without it every writer
    // task emits a file into every cluster dir (tasks × nlist small files
    // — ~10k at nlist=316; their listing + footer reads dominated
    // Searcher.open), with it each cluster is one file
    assigned.repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$path/codes")
    centroidsDf(spark, model.centroids).write.mode("overwrite").parquet(s"$path/centroids")
    writeMeta(path, Map(
      "index_type" -> "ivf", "metric" -> model.metric.name,
      "dim" -> model.centroids.head.size.toString, "nlist" -> model.nlist.toString))
  }
  def loadIvf(spark: SparkSession, path: String): (IvfModel, DataFrame) = {
    val meta = loadChecked(path, "ivf")
    val cents = collectCentroids(spark.read.parquet(s"$path/centroids"))
    (IvfModel(cents, Metric(meta("metric"))), spark.read.parquet(s"$path/codes"))
  }

  // ---- PQ ----
  private def codebooksDf(spark: SparkSession, cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (book, m) <- cbs.zipWithIndex
      (sub, j) <- book.zipWithIndex
    } yield (m, j, sub)).toDF("m", "j", "subvec")
  }
  private def collectCodebooks(df: DataFrame): Seq[Seq[Seq[Double]]] =
    df.orderBy("m", "j").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](2).toVector).toVector).toVector

  def savePq(spark: SparkSession, path: String, model: PqModel, codes: DataFrame): Unit = {
    codes.write.mode("overwrite").parquet(s"$path/codes")
    codebooksDf(spark, model.codebooks).write.mode("overwrite").parquet(s"$path/codebooks")
    writeMeta(path, Map(
      "index_type" -> "pq", "metric" -> model.metric.name, "dim" -> model.dim.toString,
      "m" -> model.m.toString, "ksub" -> model.ksub.toString))
  }
  def loadPq(spark: SparkSession, path: String): (PqModel, DataFrame) = {
    val meta = loadChecked(path, "pq")
    val cbs = collectCodebooks(spark.read.parquet(s"$path/codebooks"))
    (PqModel(cbs, Metric(meta("metric"))), spark.read.parquet(s"$path/codes"))
  }

  // ---- IVFPQ ----
  def saveIvfPq(spark: SparkSession, path: String, model: IvfPqModel, codes: DataFrame): Unit = {
    codes.repartition(col("cluster_id")) // one file per cluster (see saveIvf)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$path/codes")
    centroidsDf(spark, model.coarse.centroids).write.mode("overwrite").parquet(s"$path/centroids")
    codebooksDf(spark, model.pq.codebooks).write.mode("overwrite").parquet(s"$path/codebooks")
    writeMeta(path, Map(
      "index_type" -> "ivfpq", "metric" -> model.coarse.metric.name,
      "dim" -> model.coarse.centroids.head.size.toString,
      "nlist" -> model.coarse.nlist.toString,
      "m" -> model.pq.m.toString, "ksub" -> model.pq.ksub.toString))
  }
  def loadIvfPq(spark: SparkSession, path: String): (IvfPqModel, DataFrame) = {
    val meta = loadChecked(path, "ivfpq")
    val coarse = IvfModel(
      collectCentroids(spark.read.parquet(s"$path/centroids")), Metric(meta("metric")))
    val pq = PqModel(
      collectCodebooks(spark.read.parquet(s"$path/codebooks")), Metric(meta("metric")))
    (IvfPqModel(coarse, pq), spark.read.parquet(s"$path/codes"))
  }

  // ---- BQ (1-bit binary quantization, graft.index.BqIndex) ----
  def saveBq(spark: SparkSession, path: String, model: BqModel, codes: DataFrame): Unit = {
    import spark.implicits._
    codes.write.mode("overwrite").parquet(s"$path/codes")
    model.thresholds.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("pos", "th").write.mode("overwrite").parquet(s"$path/thresholds")
    writeMeta(path, Map(
      "index_type" -> "bq", "metric" -> model.metric.name,
      "dim" -> model.dim.toString))
  }
  def loadBq(spark: SparkSession, path: String): (BqModel, DataFrame) = {
    val meta = loadChecked(path, "bq")
    val th = spark.read.parquet(s"$path/thresholds").orderBy("pos").collect()
      .map(_.getDouble(1)).toVector
    (BqModel(th, Metric(meta("metric"))), spark.read.parquet(s"$path/codes"))
  }

  // ---- OPQ (orthogonal rotation + PQ, graft.index.OpqIndex) ----
  def saveOpq(spark: SparkSession, path: String, model: OpqModel, codes: DataFrame): Unit = {
    import spark.implicits._
    codes.write.mode("overwrite").parquet(s"$path/codes")
    codebooksDf(spark, model.pq.codebooks).write.mode("overwrite").parquet(s"$path/codebooks")
    model.rotation.zipWithIndex.map { case (row, j) => (j, row) }
      .toDF("j", "row").write.mode("overwrite").parquet(s"$path/rotation")
    writeMeta(path, Map(
      "index_type" -> "opq", "metric" -> model.pq.metric.name,
      "dim" -> model.dim.toString,
      "m" -> model.pq.m.toString, "ksub" -> model.pq.ksub.toString))
  }
  def loadOpq(spark: SparkSession, path: String): (OpqModel, DataFrame) = {
    val meta = loadChecked(path, "opq")
    val cbs = collectCodebooks(spark.read.parquet(s"$path/codebooks"))
    val rot = spark.read.parquet(s"$path/rotation").orderBy("j").collect()
      .map(_.getSeq[Double](1).toVector).toVector
    (OpqModel(rot, PqModel(cbs, Metric(meta("metric")))),
      spark.read.parquet(s"$path/codes"))
  }

  // ---- SQ8 (per-dimension affine byte quantizer) ----
  def saveSq8(spark: SparkSession, path: String, model: Sq8Model, codes: DataFrame): Unit = {
    import spark.implicits._
    codes.write.mode("overwrite").parquet(s"$path/codes")
    model.mins.zip(model.scales).zipWithIndex
      .map { case ((mn, sc), i) => (i, mn, sc) }
      .toDF("pos", "mn", "sc")
      .write.mode("overwrite").parquet(s"$path/quantizer")
    writeMeta(path, Map(
      "index_type" -> "sq8", "metric" -> model.metric.name,
      "dim" -> model.dim.toString))
  }
  def loadSq8(spark: SparkSession, path: String): (Sq8Model, DataFrame) = {
    val meta = loadChecked(path, "sq8")
    val rows = spark.read.parquet(s"$path/quantizer").orderBy("pos").collect()
    val model = Sq8Model(
      rows.map(_.getDouble(1)).toVector, rows.map(_.getDouble(2)).toVector,
      Metric(meta("metric")))
    (model, spark.read.parquet(s"$path/codes"))
  }

  // ---- LSH (the high-throughput hash-bucketed ANN kind) ----
  def saveLsh(spark: SparkSession, path: String, indexed: DataFrame,
      planes: Int, metric: Metric): Unit = {
    val dim = indexed.select(size(col("vec"))).first().getInt(0)
    // partitioned by bucket: a probe read (own bucket + Hamming-1 flips)
    // is a partition-pruned scan, same layout trick as the IVF kinds;
    // repartition → one file per bucket (see saveIvf)
    indexed.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/codes")
    writeMeta(path, Map(
      "index_type" -> "lsh", "metric" -> metric.name,
      "dim" -> dim.toString, "planes" -> planes.toString))
  }
  def loadLsh(spark: SparkSession, path: String): (Int, Metric, DataFrame) = {
    val meta = loadChecked(path, "lsh")
    // partition-column type inference narrows small bucket ids to INT;
    // the kernels key on LONG buckets — restore the written type
    val codes = spark.read.parquet(s"$path/codes")
      .withColumn("bucket", col("bucket").cast("long"))
    (meta("planes").toInt, Metric(meta("metric")), codes)
  }

  // ---- HNSW (sharded graph; reference default index — search.go:220-228) ----
  def saveHnsw(spark: SparkSession, path: String, graph: DataFrame,
      metric: Metric, m: Int = HnswIndex.M,
      efConstruction: Int = HnswIndex.EfConstruction): Unit = {
    val dim = graph.select(size(col("vec"))).first().getInt(0)
    val numShards = HnswIndex.shardCount(graph)
    // one file per shard keeps each graph whole on disk (see saveIvf);
    // knnBlocked still re-groups defensively after any re-read
    graph.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/graph")
    writeMeta(path, Map(
      "index_type" -> "hnsw", "metric" -> metric.name, "dim" -> dim.toString,
      "m" -> m.toString, "ef_construction" -> efConstruction.toString,
      "num_shards" -> numShards.toString,
      "graph_arithmetic" -> HnswIndex.ArithmeticVersion.toString))
  }
  def loadHnsw(spark: SparkSession, path: String): (Metric, DataFrame) = {
    val meta = loadChecked(path, "hnsw")
    // partition-column inference narrows shard to whatever fits; the
    // kernels group on INT shards — restore the written type
    val graph = spark.read.parquet(s"$path/graph")
      .withColumn("shard", col("shard").cast("int"))
    (Metric(meta("metric")), graph)
  }

  /** Incremental add to a PERSISTED hnsw index, with the
    * arithmetic-version guard (VERDICT r11 next #5 / wrong #3b:
    * [[HnswIndex.add]]'s "bit-identical to build(old ∪ new)" invariant
    * silently broke against graphs persisted by pre-walkKeyScalar
    * engines — untouched shards kept edge selections the current builder
    * would not reproduce, a mixed-arithmetic graph nothing flagged).
    *
    *  - sidecar `graph_arithmetic` == [[HnswIndex.ArithmeticVersion]] →
    *    touched-shard rebuild ([[HnswIndex.add]] semantics, cost ∝
    *    affected shards);
    *  - older stamp (or none — pre-stamp sidecars are version 1) → FULL
    *    rebuild of old ∪ new with current arithmetic, restoring the
    *    invariant, with a loud stderr note;
    * either way the index is re-saved stamped with the current version.
    * Searches on a stale-stamped graph stay valid (any well-formed HNSW
    * adjacency serves) — only add must not silently mix arithmetics. */
  def addToHnsw(spark: SparkSession, path: String, vectors: DataFrame): Unit = {
    val meta = loadChecked(path, "hnsw")
    val metric = Metric(meta("metric"))
    val m = meta.get("m").map(_.toInt).getOrElse(HnswIndex.M)
    val efc = meta.get("ef_construction").map(_.toInt).getOrElse(HnswIndex.EfConstruction)
    val numShards = meta("num_shards").toInt
    val stamp = meta.getOrElse("graph_arithmetic", "1").toInt
    val graph = spark.read.parquet(s"$path/graph")
      .withColumn("shard", col("shard").cast("int"))
    val merged =
      if (stamp == HnswIndex.ArithmeticVersion)
        HnswIndex.add(graph, vectors, numShards, metric, m, efc)
      else {
        System.err.println(s"[graft] $path: persisted graph arithmetic v$stamp != " +
          s"engine v${HnswIndex.ArithmeticVersion} — full rebuild (old ∪ new) " +
          "to restore the add ≡ build invariant")
        HnswIndex.build(
          graph.select(col("id"), col("vec"))
            .unionByName(vectors.select(col("id"), col("vec"))),
          numShards, metric, m, efc)
      }
    // localCheckpoint before the overwrite: `merged` reads the same
    // parquet files the save is about to replace
    val pinned = merged.localCheckpoint()
    saveHnsw(spark, path, pinned, metric, m, efc)
  }

  // ---- Routed HNSW (k-means-placed shards + probe routing — the
  // engine's 100 TB ANN shape, graft.index.RoutedHnswIndex) ----
  def saveRoutedHnsw(spark: SparkSession, path: String, model: RoutedHnswModel,
      graph: DataFrame, m: Int = HnswIndex.M,
      efConstruction: Int = HnswIndex.EfConstruction): Unit = {
    import spark.implicits._
    val dim = model.centroids.head.size
    // same one-file-per-shard layout as saveHnsw: probing R regions is a
    // partition-pruned scan of just their sub-shard files
    graph.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/graph")
    // routing table: region centroid + its balance-split width
    model.centroids.zip(model.subShards).zipWithIndex
      .map { case ((v, s), i) => (i, v, s) }
      .toDF("cluster_id", "vec", "sub_shards")
      .write.mode("overwrite").parquet(s"$path/routing")
    writeMeta(path, Map(
      "index_type" -> "hnsw_routed", "metric" -> model.metric.name,
      "dim" -> dim.toString, "nlist" -> model.nlist.toString,
      "num_shards" -> model.numShards.toString,
      "m" -> m.toString, "ef_construction" -> efConstruction.toString,
      "graph_arithmetic" -> HnswIndex.ArithmeticVersion.toString))
  }
  def loadRoutedHnsw(spark: SparkSession, path: String): (RoutedHnswModel, DataFrame) = {
    val meta = loadChecked(path, "hnsw_routed")
    val rows = spark.read.parquet(s"$path/routing").orderBy("cluster_id").collect()
    val model = RoutedHnswModel(
      rows.map(_.getSeq[Double](1).toVector).toVector,
      rows.map(_.getInt(2)).toVector,
      Metric(meta("metric")))
    // partition-column inference narrows shard; kernels group on INT
    val graph = spark.read.parquet(s"$path/graph")
      .withColumn("shard", col("shard").cast("int"))
    (model, graph)
  }

  // ---- Sparse (impact/posting-list index — lexical counterpart of the
  // dense kinds; see graft.index.SparseIndex) ----
  def saveSparse(spark: SparkSession, path: String,
      postings: DataFrame, model: SparseIndex.SparseModel,
      weighting: String = "tfidf_ln"): Unit = {
    // range-partitioned + term-sorted files: a query's term predicate
    // prunes parquet row groups via min/max stats before any IO — the
    // lexical analogue of the IVF kinds' cluster_id partition pruning
    // (a partitionBy("term") directory layout would mean one directory
    // per vocabulary term — unbounded at real vocabularies)
    postings.repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$path/postings")
    writeMeta(path, Map(
      "index_type" -> "sparse", "n_docs" -> model.nDocs.toString,
      "weighting" -> weighting, "max_df_frac" -> SparseIndex.MaxDfFrac.toString))
  }
  def loadSparse(spark: SparkSession, path: String): (DataFrame, SparseIndex.SparseModel) = {
    val meta = loadChecked(path, "sparse")
    (spark.read.parquet(s"$path/postings"),
      SparseIndex.SparseModel(meta("n_docs").toLong))
  }

  /** BM25 impact index WITH its frozen term model (df table + corpus
    * stats) — the layout streaming appends need: a new batch encodes
    * against the persisted model ([[SparseIndex.encodeBm25]]) without
    * touching the corpus. */
  def saveBm25(spark: SparkSession, path: String, postings: DataFrame,
      dfq: DataFrame, model: SparseIndex.Bm25Model): Unit = {
    postings.repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$path/postings")
    dfq.write.mode("overwrite").parquet(s"$path/df")
    writeMeta(path, Map(
      "index_type" -> "sparse_bm25", "n_docs" -> model.nDocs.toString,
      "avgdl" -> model.avgdl.toString,
      "k1" -> model.k1.toString, "b" -> model.b.toString))
  }
  def loadBm25(spark: SparkSession, path: String): (DataFrame, DataFrame, SparseIndex.Bm25Model) = {
    val meta = loadChecked(path, "sparse_bm25")
    (spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/df"),
      SparseIndex.Bm25Model(meta("n_docs").toLong, meta("avgdl").toDouble,
        meta("k1").toDouble, meta("b").toDouble))
  }

  /** PLAID-shape token-centroid index (graft.index.PlaidIndex): posting
    * lists partitioned by centroid — probing nprobe centroids is a
    * partition-pruned scan, the token-level analogue of the IVF kinds'
    * cluster_id layout. The frozen quantizer (C seed hashes) rides in
    * the metadata sidecar: the model IS C longs + nprobe. */
  def savePlaid(spark: SparkSession, path: String, postings: DataFrame,
      model: PlaidIndex.PlaidModel): Unit = {
    postings.repartition(col("cent"))
      .write.mode("overwrite").partitionBy("cent").parquet(s"$path/postings")
    writeMeta(path, Map(
      "index_type" -> "plaid",
      "cents" -> model.cents.mkString(","),
      "nprobe" -> model.nprobe.toString))
  }
  def loadPlaid(spark: SparkSession, path: String): (DataFrame, PlaidIndex.PlaidModel) = {
    val meta = loadChecked(path, "plaid")
    val model = PlaidIndex.PlaidModel(
      meta("cents").split(",").map(_.toLong).toSeq, meta("nprobe").toInt)
    // partition-column inference widens cent and appends it after the
    // data columns — restore the (cent, doc_id) build order and LONG key
    val postings = spark.read.parquet(s"$path/postings")
      .select(col("cent").cast("long").as("cent"), col("doc_id"))
    (postings, model)
  }

  private def loadChecked(path: String, expectedType: String): Map[String, String] = {
    val meta = readChecked(path)
    require(meta("index_type") == expectedType,
      s"index at $path is '${meta("index_type")}', expected '$expectedType'")
    meta
  }

  // ---- Merge (lifecycle: combine two separately built indexes, e.g.
  // monthly corpus increments, into one) ----

  private def requireDisjoint(a: DataFrame, b: DataFrame): Unit = {
    val overlap = a.select("id").join(b.select("id"), "id").count()
    require(overlap == 0,
      s"cannot merge: $overlap ids present in both indexes — " +
        "dedup or re-id one side first")
  }

  /** Merge two persisted indexes of the same kind and configuration into
    * `out`. Code-table kinds (flat/ivf/pq/opq/bq/sq8/ivfpq/lsh) require
    * VALUE-IDENTICAL frozen models on both sides (the add-after-train
    * staleness rule extended to merging: rows encoded under different
    * models are not comparable) and union their code tables — one
    * pass over each side, no recompute. Graph kinds (hnsw/hnsw_routed)
    * rebuild the per-shard graphs from the union of raw vectors under
    * side A's config — build determinism makes the result bit-identical
    * to indexing the union from scratch (MaintenanceSpec's incremental
    * ≡ full property, applied at merge scope). Ids must be disjoint. */
  def merge(spark: SparkSession, pathA: String, pathB: String, out: String): Unit = {
    val ma = readChecked(pathA)
    val mb = readChecked(pathB)
    require(ma("index_type") == mb("index_type"),
      s"kind mismatch: ${ma("index_type")} vs ${mb("index_type")}")
    Seq("metric", "dim", "nlist", "m", "ksub", "planes", "num_shards",
      "ef_construction").foreach { k =>
      require(ma.get(k) == mb.get(k),
        s"config mismatch on '$k': ${ma.get(k)} vs ${mb.get(k)}")
    }
    ma("index_type") match {
      case "flat" =>
        val (va, metric) = loadFlat(spark, pathA)
        val (vb, _) = loadFlat(spark, pathB)
        requireDisjoint(va, vb)
        saveFlat(spark, out, va.unionByName(vb), metric)
      case "ivf" =>
        val (modelA, ca) = loadIvf(spark, pathA)
        val (modelB, cb) = loadIvf(spark, pathB)
        require(modelA == modelB, "centroids differ — re-assign one side first")
        requireDisjoint(ca, cb)
        saveIvf(spark, out, modelA, ca.unionByName(cb))
      case "pq" =>
        val (modelA, ca) = loadPq(spark, pathA)
        val (modelB, cb) = loadPq(spark, pathB)
        require(modelA == modelB, "codebooks differ — re-encode one side first")
        requireDisjoint(ca, cb)
        savePq(spark, out, modelA, ca.unionByName(cb))
      case "opq" =>
        val (modelA, ca) = loadOpq(spark, pathA)
        val (modelB, cb) = loadOpq(spark, pathB)
        require(modelA == modelB, "rotation/codebooks differ — re-encode one side first")
        requireDisjoint(ca, cb)
        saveOpq(spark, out, modelA, ca.unionByName(cb))
      case "bq" =>
        val (modelA, ca) = loadBq(spark, pathA)
        val (modelB, cb) = loadBq(spark, pathB)
        require(modelA == modelB, "thresholds differ — re-encode one side first")
        requireDisjoint(ca, cb)
        saveBq(spark, out, modelA, ca.unionByName(cb))
      case "sq8" =>
        val (modelA, ca) = loadSq8(spark, pathA)
        val (modelB, cb) = loadSq8(spark, pathB)
        require(modelA == modelB, "quantizer differs — re-encode one side first")
        requireDisjoint(ca, cb)
        saveSq8(spark, out, modelA, ca.unionByName(cb))
      case "ivfpq" =>
        val (modelA, ca) = loadIvfPq(spark, pathA)
        val (modelB, cb) = loadIvfPq(spark, pathB)
        require(modelA == modelB, "centroids/codebooks differ — re-encode one side first")
        requireDisjoint(ca, cb)
        saveIvfPq(spark, out, modelA, ca.unionByName(cb))
      case "lsh" =>
        val (planes, metric, ca) = loadLsh(spark, pathA)
        val (_, _, cb) = loadLsh(spark, pathB)
        requireDisjoint(ca, cb)
        saveLsh(spark, out, ca.unionByName(cb), planes, metric)
      case "hnsw" =>
        val (metric, ga) = loadHnsw(spark, pathA)
        val (_, gb) = loadHnsw(spark, pathB)
        requireDisjoint(ga, gb)
        val union = ga.select(col("id"), col("vec"))
          .unionByName(gb.select(col("id"), col("vec")))
        val m = ma("m").toInt
        val ef = ma("ef_construction").toInt
        saveHnsw(spark, out,
          HnswIndex.build(union, ma("num_shards").toInt, metric, m, ef),
          metric, m, ef)
      case "hnsw_routed" =>
        val (modelA, ga) = loadRoutedHnsw(spark, pathA)
        val (modelB, gb) = loadRoutedHnsw(spark, pathB)
        require(modelA == modelB, "routing models differ — retrain before merging")
        requireDisjoint(ga, gb)
        val union = ga.select(col("id"), col("vec"))
          .unionByName(gb.select(col("id"), col("vec")))
        val m = ma("m").toInt
        val ef = ma("ef_construction").toInt
        saveRoutedHnsw(spark, out,
          modelA, RoutedHnswIndex.build(union, modelA, m, ef), m, ef)
      case t => throw new IllegalArgumentException(s"unmergeable index type '$t'")
    }
  }
}

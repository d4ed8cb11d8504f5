package graft.query

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Metric
import graft.index.{HnswIndex, RoutedHnswIndex}

/** Where a batch's work lands: every HNSW shard in a partition of its
  * own, so no task walks two graphs while another idles, and a batch's
  * per-task fan-out sized by the partitions that hold packs. */
class PlacementSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  import spark.implicits._

  private val l2 = Metric.L2

  private lazy val corpus: DataFrame = (0L until 400L)
    .map(id => (id, Seq(math.sin(id.toDouble), math.cos(id * 0.7), (id % 13).toDouble)))
    .toDF("id", "vec").cache()

  /** Per partition, the shard ids its rows carry. */
  private def shardsByPartition(df: DataFrame): Seq[Set[Int]] =
    df.select("shard").as[Int].rdd
      .mapPartitions(it => Iterator.single(it.toSet)).collect().toSeq

  test("every HNSW shard is built and served in a partition of its own, at 8, 16 and 32 shards") {
    for (shards <- Seq(8, 16, 32)) {
      val graph = HnswIndex.build(corpus, shards, l2).cache()
      val want = (0 until shards).map(Set(_))
      assert(shardsByPartition(graph) == want, s"build at $shards shards")
      assert(shardsByPartition(HnswIndex.shardGrouped(graph, shards)) == want,
        s"serving at $shards shards")
      graph.unpersist()
    }
  }

  test("the routed prune reads each probed shard in a partition of its own") {
    val model = RoutedHnswIndex.train(corpus, 4, l2, targetShardRows = 40)
    assert(model.numShards >= 8, s"expected sub-sharded regions, got ${model.numShards}")
    val graph = RoutedHnswIndex.build(corpus, model).cache()
    val prune = GraphKind.routed(model).route.get.prune
    for (probed <- Seq(Array(0), Array(1, 2), Array(0, 3, model.numShards - 1),
        (0 until model.numShards).toArray)) {
      assert(shardsByPartition(prune(graph, probed)) == probed.toSeq.map(Set(_)),
        s"probed ${probed.mkString(",")}")
    }
    graph.unpersist()
  }

  test("a two-partition table's batch fans out over the cores the two tasks share") {
    val cores = Runtime.getRuntime.availableProcessors()
    val served = new DistributedScan(corpus.repartition(2), PackedKind.flat(l2))
    try {
      served.warm()
      assert(served.packTasks == 2)
      assert(TaskFanout.width(served.packTasks) == math.max(1, cores / 2),
        s"fan-out ${TaskFanout.width(served.packTasks)} on $cores cores")
      val qs = Seq((7L, Seq(0.1, 0.2, 3.0)), (8L, Seq(-0.5, 0.9, 12.0))).toDF("query_id", "qvec")
      assert(served.searchBatch(qs, 3, ()).count() == 6)
    } finally served.unpersist()
  }
}

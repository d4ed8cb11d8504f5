package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Results the driver already holds, as DataFrames that explain where
  * they came from. */
object ResultFrames {

  /** kNN rows merged on the driver from a scan of `source`, as one leaf
    * relation ([[KnnResult]]): (query_id, neighbor_id, distance, rank),
    * a Long, a Long, a Double and an Int. `fill` writes the `rows` rows
    * through a [[Writer]] straight into UnsafeRows. Collecting the
    * result (or a `limit`/`tail` of it) runs no job, and its EXPLAIN
    * carries `source`'s physical plan (the scan, with its filters and
    * pruning). An operator on top (a projection, filter, join or
    * aggregate) runs a job of its own over these rows. A count above
    * [[MaxRows]] is rejected before `fill` runs. */
  def knn(source: Dataset[_], rows: Long)(fill: Writer => Unit): DataFrame =
    result(source, "distance", DoubleType, rows, fill)

  /** [[knn]] with BQ's integer Hamming count as a LONG `hamming` column
    * in place of `distance`: [[Writer.add]] stores the count as a Long. */
  def hammingKnn(source: Dataset[_], rows: Long)(fill: Writer => Unit): DataFrame =
    result(source, "hamming", LongType, rows, fill)

  private def result(source: Dataset[_], distance: String, distanceType: DataType,
      n: Long, fill: Writer => Unit): DataFrame = {
    require(n >= 0 && n <= MaxRows,
      s"a kNN result of $n rows exceeds the $MaxRows rows one driver-held result can hold")
    val output = Seq(
      AttributeReference("query_id", LongType, nullable = false)(),
      AttributeReference("neighbor_id", LongType, nullable = false)(),
      AttributeReference(distance, distanceType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)())
    val writer = new Writer(n.toInt, distanceType == LongType)
    fill(writer)
    require(writer.written == n, s"wrote ${writer.written} of $n result rows")
    val qe = source.queryExecution
    KnnResultStrategy.inject(qe.sparkSession)
    classic.Dataset.ofRows(qe.sparkSession,
      KnnResult(output, new ResultRows(writer.rows), qe.analyzed, qe.executedPlan))
  }

  /** The most rows one result holds: the longest array the JVM allocates. */
  val MaxRows: Int = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH

  /** Every row is fixed-width: a null-bit word and four 8-byte slots. */
  private val RowBytes = 8 + 4 * 8

  /** Rows per byte buffer (2.6 MB); a buffer's offsets stay far inside an Int. */
  val ChunkRows: Int = 1 << 16

  /** Writes result rows into byte buffers of up to [[ChunkRows]] rows
    * each: row i is an UnsafeRow over bytes [40·j, 40·j + 40) of buffer
    * i / ChunkRows, where j = i mod ChunkRows. */
  final class Writer private[ResultFrames] (n: Int, longDistance: Boolean) {
    private[graftx] val rows = new Array[InternalRow](n)
    private var buf: Array[Byte] = null
    private var i = 0

    private[ResultFrames] def written: Int = i

    def add(queryId: Long, neighborId: Long, distance: Double, rank: Int): Unit = {
      require(i < n, s"more than the $n result rows announced")
      val j = i % ChunkRows
      if (j == 0) buf = new Array[Byte](math.min(n - i, ChunkRows) * RowBytes)
      val row = new UnsafeRow(4)
      row.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + j * RowBytes, RowBytes)
      row.setLong(0, queryId)
      row.setLong(1, neighborId)
      if (longDistance) row.setLong(2, distance.toLong) else row.setDouble(2, distance)
      row.setInt(3, rank)
      rows(i) = row
      i += 1
    }
  }
}

/** A result's UnsafeRows behind one reference. Plan nodes hold this
  * rather than the rows themselves: the analyzer's expression walks and
  * the plan's string form visit every element of a collection argument,
  * and would visit every row. */
private[graftx] final class ResultRows(val rows: Array[InternalRow]) {
  override def toString: String = s"${rows.length} rows"
}

/** The logical leaf of a driver-merged kNN result. `scanned` (the table
  * the rows were scanned from) is an inner child: EXPLAIN shows it, no
  * rule rewrites it. A self-join re-instances the output like any
  * relation, and the row count gives the planner the statistics a join
  * needs. */
private[graftx] case class KnnResult(output: Seq[Attribute], @transient rows: ResultRows,
    @transient scannedLogical: LogicalPlan, @transient scanned: SparkPlan)
    extends LeafNode with MultiInstanceRelation {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(scannedLogical)

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = Statistics(
    sizeInBytes = EstimationUtils.getSizePerRow(output) * rows.rows.length,
    rowCount = Some(rows.rows.length))

  override protected def stringArgs: Iterator[Any] = Iterator(output, rows)
}

/** [[KnnResult]] planned: collect, `limit` and `tail` answer from the
  * rows on the driver, and an operator on top reads them as an RDD. */
private[graftx] case class KnnResultExec(output: Seq[Attribute], @transient rows: ResultRows,
    @transient scanned: SparkPlan) extends LeafExecNode {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(scanned)

  override protected def stringArgs: Iterator[Any] = Iterator(output, rows)

  override def executeCollect(): Array[InternalRow] = rows.rows.clone()

  override def executeTake(limit: Int): Array[InternalRow] = rows.rows.take(limit)

  override def executeTail(limit: Int): Array[InternalRow] = rows.rows.takeRight(limit)

  override def executeToIterator(): Iterator[InternalRow] = rows.rows.iterator

  protected override def doExecute(): RDD[InternalRow] = {
    val all = rows.rows
    if (all.isEmpty) sparkContext.emptyRDD
    else sparkContext.parallelize(all.toSeq, math.min(all.length, session.leafNodeDefaultParallelism))
  }
}

/** Plans [[KnnResult]]. Added once to a session's extensions, the first
  * time the session builds a result. The planner reads the extensions'
  * strategies on every planning, and user code does not assign them (as
  * it may assign `experimental.extraStrategies`), so a result stays
  * plannable whatever the session's extra strategies become. Sessions
  * made with `newSession()` share the extensions, and so the strategy.
  * Spark guards the extensions' list with no lock: a planning in another
  * thread of the same sessions while the first result is built may see
  * the list change under it and fail once. */
private[graftx] object KnnResultStrategy extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: KnnResult => KnnResultExec(r.output, r.rows, r.scanned) :: Nil
    case _ => Nil
  }

  /** The extensions this strategy was added to, by identity. */
  private val added = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())

  def inject(session: classic.SparkSession): Unit = added.synchronized {
    if (added.add(session.extensions)) session.extensions.injectPlannerStrategy(_ => this)
  }
}

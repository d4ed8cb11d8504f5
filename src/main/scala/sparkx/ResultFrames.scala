package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Results the driver already holds, as DataFrames that explain where
  * they came from. */
object ResultFrames {

  /** kNN rows merged on the driver from a scan of `source`, as one local
    * relation: (query_id, neighbor_id, distance, rank), the row values a
    * Long, a Long, a Double and an Int. The node is
    * Spark's `CommandResult` — the relation Spark itself uses for rows an
    * eagerly run plan produced — so collecting it runs no job, and its
    * EXPLAIN carries `source`'s physical plan (the scan, with its filters
    * and pruning) instead of a bare `LocalTableScan`. An operator on top
    * (a projection, filter or join) is planned over a scan of these rows
    * and runs a job of its own. */
  def knn(source: Dataset[_], rows: Seq[InternalRow]): DataFrame =
    result(source, "distance", DoubleType, rows)

  /** [[knn]] with BQ's integer Hamming count as a LONG `hamming` column
    * in place of `distance`: the rows carry a Long there. */
  def hammingKnn(source: Dataset[_], rows: Seq[InternalRow]): DataFrame =
    result(source, "hamming", LongType, rows)

  private def result(source: Dataset[_], distance: String, distanceType: DataType,
      rows: Seq[InternalRow]): DataFrame = {
    val output = Seq(
      AttributeReference("query_id", LongType, nullable = false)(),
      AttributeReference("neighbor_id", LongType, nullable = false)(),
      AttributeReference(distance, distanceType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)())
    val qe = source.queryExecution
    classic.Dataset.ofRows(qe.sparkSession,
      CommandResult(output, qe.analyzed, qe.executedPlan, rows))
      // re-aliased: CommandResult cannot re-instance its own output, so a
      // self-join would see conflicting attributes; fresh aliases can be
      .toDF(output.map(_.name): _*)
  }
}

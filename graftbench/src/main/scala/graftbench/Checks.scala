package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One query's answer in rank order. */
final case class Answer(ids: Array[Long], dists: Array[Double], ranks: Array[Int])

object Answer {
  def fromLocal(a: Array[(Long, Double, Int)]): Answer =
    Answer(a.map(_._1), a.map(_._2), a.map(_._3))

  /** Groups (query_id, neighbor_id, distance, rank) rows by query, in
    * rank order. A query with no rows gets an empty answer. */
  def fromRows(rows: Array[Row], nq: Int): Array[Answer] = {
    val byQuery = Array.fill(nq)(mutable.ArrayBuffer.empty[(Long, Double, Int)])
    rows.foreach { r =>
      val q = r.getAs[Number]("query_id").intValue
      if (q >= 0 && q < nq)
        byQuery(q) += ((r.getAs[Number]("neighbor_id").longValue,
          r.getAs[Number]("distance").doubleValue, r.getAs[Number]("rank").intValue))
    }
    byQuery.map(b => fromLocal(b.sortBy(_._3).toArray))
  }
}

/** Answer checks. Each returns None when the answer is right, or what is
  * wrong with it. */
object Checks {
  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** k rows, ranks 1..k, finite non-decreasing distances, and distinct ids
    * that exist in the indexed rows. */
  def wellFormed(a: Answer, k: Int, valid: Long => Boolean): Option[String] =
    if (a.ids.length != k) Some(s"${a.ids.length} rows, expected $k")
    else if (!a.ranks.sameElements(1 to k)) Some(s"ranks ${a.ranks.mkString(",")}")
    else if (a.dists.exists(d => d.isNaN || d.isInfinite)) Some("non-finite distance")
    else if (a.dists.sliding(2).exists(p => p.length == 2 && p(1) < p(0))) Some("distances decrease")
    else if (!a.ids.forall(valid)) Some("id outside the indexed rows")
    else if (a.ids.distinct.length != k) Some("duplicate ids")
    else None

  /** Exact answers match the oracle up to exact distance ties: at every
    * rank the distance equals the oracle's, and it is the true distance of
    * the id returned there. */
  def exact(a: Answer, in: Inputs, oracle: Oracle, qi: Int, k: Int,
      valid: Long => Boolean): Option[String] =
    wellFormed(a, k, valid).orElse {
      (0 until k).collectFirst {
        case r if !close(a.dists(r), oracle.dists(qi)(r)) =>
          s"rank ${r + 1}: distance ${a.dists(r)}, exact ${oracle.dists(qi)(r)}"
        case r if !close(Inputs.l2(in.queries(qi), in.vector(a.ids(r))), a.dists(r)) =>
          s"rank ${r + 1}: id ${a.ids(r)} is not at distance ${a.dists(r)}"
      }
    }

  /** Two paths of one index agree id for id; ids may swap only where
    * their distances tie exactly. */
  def same(a: Answer, b: Answer): Option[String] =
    if (a.ids.length != b.ids.length) Some(s"${a.ids.length} rows vs ${b.ids.length}")
    else a.ids.indices.collectFirst {
      case r if a.ids(r) != b.ids(r) && !(close(a.dists(r), b.dists(r)) &&
          a.ids.toSet == b.ids.toSet) =>
        s"rank ${r + 1}: id ${a.ids(r)} vs ${b.ids(r)}"
    }

  def recall(a: Answer, oracle: Oracle, qi: Int): Double = {
    val truth = oracle.ids(qi).toSet
    a.ids.count(truth.contains).toDouble / truth.size
  }
}

/** What a run attempted, what failed, and every metric it measured. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The samples each end-to-end value was computed from. */
  val series = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def record(name: String, value: Double, samples: Seq[Double]): Unit = {
    endToEnd(name) = value
    series(name) = samples
  }

  /** Counts one operation; it fails if any of its checks found a fault. */
  def op(faults: Iterable[String]): Unit = {
    attempted += 1
    if (faults.nonEmpty) {
      failed += 1
      if (failures.length < 20) failures += faults.head
    }
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length
}

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

package perfbench

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** Named plain-Scala output checks. A check that throws also fails. */
final class Checks {
  val failed = mutable.ArrayBuffer.empty[String]

  def apply(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case _: Throwable => false }
    if (!pass) failed += name
  }

  /** `got` within relative tolerance `rel` of `want`. */
  def close(name: String, got: Double, want: Double, rel: Double = 1e-9): Unit =
    apply(s"$name (got $got, want $want, rel tol $rel)")(
      math.abs(got - want) <= rel * math.max(1.0, math.abs(want)))
}

/** One unit of work whose outputs are checked together: the chain of a
  * `series_chain` rep, a stream of `sym_stream`, a batch of `corpus_dedup`.
  * `ops` is how many operations it counts for (its micro-batches, or 1).
  */
final case class Group(name: String, ops: Int, error: Option[String] = None)

/** What one rep did. `batchMs` are its operation latencies. */
final case class RepResult(groups: Seq[Group], batchMs: Seq[Double])

trait Workload {
  def name: String
  /** Input rows (trades or documents) one rep consumes. */
  def inputRows: Long
  /** Header fields: row counts and the input digest. */
  def header: Seq[(String, String)]
  /** Generate the seeded inputs, write them under the work directory and
    * read them back once (the set-up's warm-up of the input path).
    */
  def generate(spark: SparkSession): Unit
  def rep(r: Runner): RepResult
  /** Plain-Scala checks over the verification pass's collected outputs. */
  def check(out: collection.Map[String, Array[Row]], c: Checks): Unit
  /** Deliberate output corruptions, each of which some check must catch. */
  def corruptions: Seq[(String, Workload.Outputs => Unit)]
}

object Workload {
  type Outputs = mutable.Map[String, Array[Row]]

  /** Run `w`'s checks on `out`; a check body that throws fails as a whole. */
  def checks(w: Workload, out: collection.Map[String, Array[Row]]): Checks = {
    val c = new Checks
    try w.check(out, c) catch { case e: Exception => c.failed += s"checks raised $e" }
    c
  }

  /** `r` with field `f` set to `v`. */
  def set(r: Row, f: String, v: Any): Row =
    new GenericRowWithSchema(r.toSeq.updated(r.fieldIndex(f), v).toArray, r.schema)

  /** Replace row `i` of output `key` with `g(row)`. */
  def edit(out: Outputs, key: String, i: Int)(g: Row => Row): Unit =
    out(key) = out(key).updated(i, g(out(key)(i)))
}

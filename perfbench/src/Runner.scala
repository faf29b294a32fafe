package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

final case class Metric(name: String, value: Double, unit: String)

/** Sum, sum of absolute values and sum of squares of one double column. */
final case class DoubleSums(col: String, sum: Double, abs: Double, sq: Double) {
  /** Within relative tolerance [[OutDigest.rel]]; the sum is scaled by the
    * absolute sum, so cancellation in it does not shrink the tolerance.
    */
  def matches(o: DoubleSums): Boolean = {
    def near(x: Double, y: Double, scale: Double) =
      (x.isNaN && y.isNaN) || math.abs(x - y) <= OutDigest.rel * math.max(1.0, math.abs(scale))
    col == o.col && near(sum, o.sum, abs) && near(abs, o.abs, abs) && near(sq, o.sq, sq)
  }
}

/** Digest of one output: row count, a sum of per-row hashes over its exact
  * columns, and the sums of each double column. Two digests match when the
  * counts and hashes are equal and the sums agree within [[OutDigest.rel]].
  */
final case class OutDigest(n: Long, h: Long, doubles: Seq[DoubleSums]) {
  def matches(o: OutDigest): Boolean =
    n == o.n && h == o.h && doubles.size == o.doubles.size &&
      doubles.zip(o.doubles).forall { case (a, b) => a.matches(b) }
  override def toString: String =
    (s"$n:$h" +: doubles.map(d => f"${d.col}=${d.sum}%.12g")).mkString(":")
}

object OutDigest {
  /** Relative tolerance of the double sums. */
  val rel = 1e-9
}

/** How a rep ends each output. */
sealed trait Sink
/** Timed reps: a noop write, the digest observed on the way. */
case object Noop extends Sink
/** The verification pass: rows collected for the plain-Scala checks. */
case object Collect extends Sink

/** Evaluates one rep's public calls. Untraced, a call is just its lazy
  * frame. Traced, each call runs inside a span and its output is persisted
  * and counted there, so a downstream span does not pay for upstream work.
  */
final class Runner(val spark: SparkSession, val trace: Option[Trace], val sink: Sink) {
  private val counts = new java.util.IdentityHashMap[DataFrame, java.lang.Long]
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  val digests = mutable.LinkedHashMap.empty[String, OutDigest]
  val collected = mutable.HashMap.empty[String, Array[Row]]
  private var obsId = 0

  private def rows(df: DataFrame): Long =
    Option(counts.get(df)).map(_.longValue).getOrElse(0L)

  /** One public call producing a frame. `inputs` are the frames it reads,
    * for the span's input-row count; `inRows` adds rows read from files.
    */
  def call(layer: String, name: String, inputs: DataFrame*)(body: => DataFrame): DataFrame =
    callRows(layer, name, 0L, inputs: _*)(body)

  def callRows(layer: String, name: String, inRows: Long, inputs: DataFrame*)
              (body: => DataFrame): DataFrame = trace match {
    // the verification rep collects intermediate outputs for its checks:
    // persisted, so collecting them does not recompute the chain
    case None => if (sink == Collect) keep(body) else body
    case Some(t) => t.span(layer, name) {
      val df = body.persist(StorageLevel.MEMORY_AND_DISK)
      val n = df.count()
      kept += df
      counts.put(df, n)
      val s = t.current
      s.rowsIn = inRows + inputs.map(rows).sum
      s.rowsOut = n
      df
    }
  }

  /** One public call run for its effect (an index write, a stream drain). */
  def effect[T](layer: String, name: String, inRows: Long = 0L)(body: => T): T = trace match {
    case None => body
    case Some(t) => t.span(layer, name) { t.current.rowsIn = inRows; body }
  }

  /** Persist a frame read more than once (the engine's own pipelines do
    * the same); a traced call's output is persisted already.
    */
  def keep(df: DataFrame): DataFrame =
    if (counts.containsKey(df)) df else { kept += df; df.persist(StorageLevel.MEMORY_AND_DISK) }

  /** Frame with its [[OutDigest]] observed: row count, a sum of per-row
    * hashes over the exact columns `cols`, and the sums of every double
    * column of `df`, so it is independent of row order and partitioning.
    */
  def observed(df: DataFrame, cols: Seq[String]): (DataFrame, Observation, Seq[String]) = {
    obsId += 1
    val o = Observation(s"digest_$obsId")
    val h = pmod(xxhash64(cols.map(col): _*), lit(1L << 40))
    val doubles = df.schema.fields.filter(_.dataType == DoubleType).map(_.name).toSeq
    val sums = doubles.zipWithIndex.flatMap { case (c, i) =>
      Seq(sum(col(c)).as(s"s$i"), sum(abs(col(c))).as(s"a$i"), sum(col(c) * col(c)).as(s"q$i"))
    }
    (df.observe(o, count(lit(1)).as("n"), (sum(h).as("h") +: sums): _*), o, doubles)
  }

  def digestOf(o: Observation, doubles: Seq[String]): OutDigest = {
    val m = o.get
    def d(k: String) = Option(m(k)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    OutDigest(m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L),
      doubles.zipWithIndex.map { case (c, i) => DoubleSums(c, d(s"s$i"), d(s"a$i"), d(s"q$i")) })
  }

  /** End an output: noop write (timed) or collect (verification), digest
    * recorded under `name` either way. `digestCols` are hashed exactly;
    * double columns, whose last bits may depend on the order Spark adds
    * partial sums in, enter through their sums.
    */
  def out(name: String, df: DataFrame, digestCols: Seq[String]): Unit =
    effect("spark", s"sink:$name") {
      val (d, o, doubles) = observed(df, digestCols)
      sink match {
        case Noop => d.write.format("noop").mode("overwrite").save()
        case Collect => collected(name) = d.collect()
      }
      digests(name) = digestOf(o, doubles)
    }

  /** Collect a frame for the checks in the verification pass only. */
  def inspect(name: String, df: DataFrame): Unit =
    if (sink == Collect) collected(name) = df.collect()

  /** Unpersist newest first, so no cached frame outlives one it reads
    * (uncaching a frame re-plans every cached frame built on it).
    */
  def release(): Unit = {
    kept.reverseIterator.foreach(_.unpersist(blocking = true))
    kept.clear()
    counts.clear()
  }
}

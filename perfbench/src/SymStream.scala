package perfbench

import graft.bars.EventBars
import graft.streaming.StreamingBars
import graft.streaming.StreamingBars.TradeIn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import java.io.File

/** `sym_stream`: keyed trades fed through a `MemoryStream` in fixed-size
  * micro-batches, closed loop (the next batch is added only after
  * `processAllAvailable` returns), into four stateful streams run one after
  * another over the same batch sequence. State commits, per-batch planning
  * and job scheduling dominate; the per-row kernels do little work.
  *
  * Two flush batches end the sequence: one far-future row per symbol
  * (past [[StreamingBars.heartbeatNs]]) decides every CUSUM row still held
  * back and moves the watermark, and a second one fires the OHLCV bar
  * timeouts. Flush rows are left out of every output, and flush batches
  * out of the latency samples and the operation count.
  */
final class SymStream(seed: Long, scale: Double, work: File) extends Workload {
  val name = "sym_stream"
  val rows: Int = math.max(2000, (40000 * scale).toInt)
  val symbols = 64
  val batches = 4
  val volumeThreshold = 50.0
  val ohlcvSec = 60L
  val cusumThreshold = 0.002
  val ewmaSpan = 20

  private var trades: Array[TradeIn] = Array.empty
  private var digest = ""
  private var queryNo = 0
  def inputRows: Long = rows.toLong

  def header: Seq[(String, String)] = Seq("rows" -> rows.toString,
    "symbols" -> symbols.toString, "micro_batches" -> batches.toString,
    "input_digest" -> digest)

  def generate(spark: SparkSession): Unit = {
    val (t, d) = Gen.symTrades(seed, rows, symbols)
    trades = t
    digest = d
    import spark.implicits._
    require(trades.toSeq.toDF().count() == rows)
  }

  private def flush(k: Int): Seq[TradeIn] =
    (0 until symbols).map(s => TradeIn(StreamingBars.heartbeatNs + k * 120000000000L + s,
      rows.toLong + k * symbols + s, 1.0, 1.0, s.toLong))

  /** The data batches, then the two flush batches. */
  private def batchSeq(in: Array[TradeIn]): Seq[Seq[TradeIn]] = {
    val size = (in.length + batches - 1) / batches
    in.toSeq.grouped(size).toSeq :+ flush(0) :+ flush(1)
  }

  def rep(r: Runner): RepResult = streams(r, batchSeq(trades))

  private val outCols: Map[String, Seq[String]] = Map(
    "volume" -> Seq("symbol", "ts", "id", "bar_id", "bar_closed"),
    "ohlcv" -> Seq("bar_ts", "open", "high", "low", "close", "trades"),
    "cusum" -> Seq("symbol", "ts", "id", "isEvent"),
    "ewma" -> Seq("symbol", "ts", "id", "ewma"))

  private def streams(r: Runner, seq: Seq[Seq[TradeIn]]): RepResult = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val defs: Seq[(String, Dataset[TradeIn] => DataFrame, String)] = Seq(
      ("volume", StreamingBars.volumeBarStream(_, volumeThreshold).toDF(), "StreamingBars.volumeBarStream"),
      ("ohlcv", StreamingBars.ohlcvStateStream(_, ohlcvSec).toDF(), "StreamingBars.ohlcvStateStream"),
      ("cusum", StreamingBars.cusumStream(_, cusumThreshold).toDF(), "StreamingBars.cusumStream"),
      ("ewma", StreamingBars.ewmaStream(_, ewmaSpan).toDF(), "StreamingBars.ewmaStream"))
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val dataBatches = seq.size - 2
    val groups = defs.map { case (key, build, call) =>
      queryNo += 1
      val qname = s"perfbench_${key}_$queryNo"
      val err = try {
        r.effect("streaming", call, seq.map(_.size.toLong).sum) {
          val ms = MemoryStream[TradeIn]
          val q = build(ms.toDS()).writeStream.format("memory").queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", new File(work, s"checkpoints/$qname").getAbsolutePath)
            .start()
          // latency and operations count the data batches only; the
          // flush batches are the benchmark's own
          try seq.zipWithIndex.foreach { case (b, i) =>
            val t0 = System.nanoTime()
            ms.addData(b)
            q.processAllAvailable()
            if (i < dataBatches) lat += (System.nanoTime() - t0) / 1e6
          } finally q.stop()
          val real = if (key == "ohlcv") col("bar_ts") < StreamingBars.heartbeatNs
                     else col("ts") < StreamingBars.heartbeatNs
          r.out(s"$key/out", spark.table(qname).where(real), outCols(key))
          // the sink's digest carries the output row count
          r.trace.foreach(_.current.rowsOut = r.digests(s"$key/out").n)
        }
        None
      } catch { case e: Exception => Some(e.toString) }
      finally spark.catalog.dropTempView(qname)
      Group(key, dataBatches, err)
    }
    if (r.sink == Collect) {
      val df = trades.toSeq.toDF()
      r.inspect("batch_volume_ids", EventBars.volumeBarIds(df, volumeThreshold, Seq("symbol"))
        .select("symbol", "ts", "id", "bar_id"))
    }
    RepResult(groups, lat.toSeq)
  }

  def check(out: collection.Map[String, Array[Row]], c: Checks): Unit = {
    val n = trades.length
    val byId = trades.map(t => t.id -> t).toMap
    def idx(rows: Array[Row], f: String) = rows.headOption.map(_.fieldIndex(f)).getOrElse(0)

    val vol = out("volume/out")
    val (vs, vt, vi, vb) = (idx(vol, "symbol"), idx(vol, "ts"), idx(vol, "id"), idx(vol, "bar_id"))
    val streamed = vol.map(r => (r.getLong(vs), r.getLong(vt), r.getLong(vi), r.getLong(vb)))
    val batch = out("batch_volume_ids").map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    c("streamed volume bar ids equal EventBars.volumeBarIds keyed by symbol")(
      streamed.sorted.sameElements(batch.sorted))
    c("every trade streamed exactly once through volume bars")(
      vol.length == n && streamed.map(_._3).distinct.length == n)
    val inVol = trades.groupBy(_.symbol).map { case (s, ts) => s -> ts.map(_.qty).sum }
    val outVol = streamed.groupBy(_._1).map { case (s, rs) => s -> rs.map(x => byId(x._3).qty).sum }
    c("per-symbol volume conserved through the volume bar stream")(
      inVol.keySet == outVol.keySet &&
        inVol.forall { case (s, v) => math.abs(outVol(s) - v) <= 1e-9 * math.max(1.0, v) })

    val bars = out("ohlcv/out")
    val f = bars.headOption.map(_.schema.fieldNames.zipWithIndex.toMap).getOrElse(Map.empty)
    c("ohlcv bars count every trade")(
      bars.map(_.getLong(f("trades"))).sum == n)
    c.close("ohlcv bars conserve volume", bars.map(_.getDouble(f("volume"))).sum,
      trades.map(_.qty).sum)
    c("ohlcv low <= open, close <= high")(bars.forall { b =>
      val (o, h, l, cl) = (b.getDouble(f("open")), b.getDouble(f("high")),
        b.getDouble(f("low")), b.getDouble(f("close")))
      l <= o && o <= h && l <= cl && cl <= h
    })

    val cus = out("cusum/out")
    c("cusum decides every trade exactly once")(
      cus.length == n && cus.map(_.getLong(idx(cus, "id"))).distinct.length == n)
    c("cusum fires on some trades")(cus.exists(_.getBoolean(idx(cus, "isEvent"))))

    val ew = out("ewma/out")
    val range = trades.groupBy(_.symbol).map { case (s, ts) =>
      s -> (ts.map(_.price).min, ts.map(_.price).max) }
    c("ewma emits one value per trade, within its symbol's price range")(
      ew.length == n && ew.forall { r =>
        val (lo, hi) = range(r.getLong(idx(ew, "symbol")))
        val v = r.getDouble(idx(ew, "ewma"))
        v >= lo - 1e-9 && v <= hi + 1e-9
      })
  }

  def corruptions: Seq[(String, Workload.Outputs => Unit)] = Seq(
    "shift one streamed bar id" -> { out =>
      Workload.edit(out, "volume/out", out("volume/out").length / 2)(r =>
        Workload.set(r, "bar_id", r.getLong(r.fieldIndex("bar_id")) + 1))
    },
    "drop one streamed trade" -> { out => out("volume/out") = out("volume/out").tail })
}

package perfbench

import graft.Tables
import graft.bars.{EventBars, TimeBars}
import graft.features.Ewm
import graft.labels.{TripleBarrier, Weights}
import graft.trades.Trades
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}

import java.io.File

/** `series_chain`: one unkeyed trade series through the whole product
  * chain — canonical trades, volume/dollar/time bars, σ and the CUSUM
  * filter, triple-barrier labels and sample weights. Every order-total
  * kernel here runs in a single task. At the default 40k rows the chain's
  * ~85 Spark jobs cost most of a rep, and per-row kernel work is about a
  * sixth of it (see the README).
  */
final class SeriesChain(seed: Long, scale: Double, work: File) extends Workload {
  val name = "series_chain"
  /** At least 10k rows: the series must span well over the vertical
    * barrier, or every event is dropped as too close to the end.
    */
  val rows: Int = math.max(10000, (40000 * scale).toInt)
  val volumeThreshold = 500.0
  val dollarThreshold = 50000.0
  val timeBarSec = 60L
  val halfLifeSec = 60.0
  val sigmaMult = 2.0
  val sigmaFloor = 5e-4
  val vertBarrierSec = 300.0
  val lastWeight = 0.5

  private val dir = new File(work, "series").getAbsolutePath
  private var digest = ""
  def inputRows: Long = rows.toLong

  def header: Seq[(String, String)] =
    Seq("rows" -> rows.toString, "input_digest" -> digest)

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val (ev, d) = Gen.seriesEvents(seed, rows)
    digest = d
    // events schema; the engine reads it back through Tables.events
    ev.toSeq.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    require(Tables.events(spark, dir).count() == rows)
  }

  def rep(r: Runner): RepResult = {
    val t0 = System.nanoTime()
    val err =
      try { chain(r, dir, rows.toLong); None }
      catch { case e: Exception => Some(e.toString) }
    RepResult(Seq(Group("chain", 1, err)), Seq((System.nanoTime() - t0) / 1e6))
  }

  private val barCols = Seq("bar_id", "bar_ts", "open", "high", "low", "close", "trades")

  def chain(r: Runner, in: String, inRows: Long): Unit = {
    val spark = r.spark
    val raw = r.callRows("trades", "Trades.fromEvents", inRows)(
      Trades.fromEvents(Tables.events(spark, in)))
    // the input carries duplicate (ts, id) prints; the sequential scans
    // downstream require unique order keys
    val t = r.call("trades", "Trades.dedupIds", raw)(Trades.dedupIds(raw))
    val vid = r.call("bars", "EventBars.volumeBarIds", t)(
      EventBars.volumeBarIds(t, volumeThreshold))
    val vbars = r.call("bars", "EventBars.ohlcvByBarId", vid)(EventBars.ohlcvByBarId(vid))
    val did = r.call("bars", "EventBars.dollarBarIds", t)(
      EventBars.dollarBarIds(t, dollarThreshold))
    val dbars = r.call("bars", "EventBars.ohlcvByBarId", did)(EventBars.ohlcvByBarId(did))
    val tbars = r.call("bars", "TimeBars.ohlcv", t)(TimeBars.ohlcv(t, timeBarSec))
    val sig = r.call("features", "Ewm.ewmstExact", t)(
      Ewm.ewmstExact(t.withColumn("__lp", log(col("price"))), "__lp", halfLifeSec,
        out = "sigma").drop("__lp"))
    val cus = r.call("bars", "EventBars.cusumEventIds", sig)(
      EventBars.cusumEventIds(sig, "sigma", sigmaMult, sigmaFloor))
    val events = cus.where(col("is_event")).select(col("ts").as("event_ts"),
      col("id").as("event_id"), col("price").as("p0"), col("sigma").as("tgt"))
    // labels are read twice (weights and the class join): persisted, as
    // the engine's own label pipeline does
    val lab = r.keep(r.call("labels", "TripleBarrier.label", t, cus)(
      TripleBarrier.label(t, events, 1.0, 1.0, vertBarrierSec)))
    val ew = r.keep(r.call("weights", "Weights.eventWeights", t, lab)(
      Weights.eventWeights(t, lab)))
    val dec = r.call("weights", "Weights.withTimeDecay", ew)(
      Weights.withTimeDecay(ew, lastWeight))
    val w = r.call("weights", "Weights.withClassBalance", dec, lab) {
      val withLab = dec.join(lab.select(col("event_id").as("eid"), col("label"),
          col("ret"), col("vertical_touch_weight")), col("eid") === col("event_id")).drop("eid")
        .withColumn("base", col("return_attribution") *
          col("vertical_touch_weight") * col("time_decay"))
      val tot = withLab.agg(sum("base").as("__s"), count(lit(1)).as("__n"))
      val normed = withLab.crossJoin(broadcast(tot))
        .withColumn("base_norm", col("base") * col("__n") / col("__s"))
        .drop("__s", "__n", "base")
      Weights.withClassBalance(normed, "base_norm")
    }
    r.out("chain/volume_bars", vbars, barCols)
    r.out("chain/dollar_bars", dbars, barCols)
    r.out("chain/time_bars", tbars, barCols.tail)
    // the digests' double sums cover bar volume and vwap, `ret` and the
    // weights; σ is checked in the verification rep and enters the timed
    // digests through the CUSUM event ids and the barrier touches
    r.out("chain/weights", w, Seq("event_id", "event_ts", "touch_ts", "label"))
    r.inspect("raw_trades", raw.select("ts", "id", "price", "qty"))
    r.inspect("trades", t.select("ts", "id", "price", "qty"))
    r.inspect("volume_ids", vid.select("ts", "id", "bar_id", "bar_closed"))
    r.inspect("dollar_ids", did.select("ts", "id", "bar_id"))
    r.inspect("sigma", sig.select("ts", "id", "sigma"))
    r.inspect("events", events.select("event_ts", "event_id", "p0"))
  }

  def check(out: collection.Map[String, Array[Row]], c: Checks): Unit = {
    val raw = out("raw_trades")
    val trades = out("trades")
    val n = trades.length
    val totalQty = trades.map(_.getDouble(3)).sum
    c("canonical trades keep every generated row")(raw.length == rows)
    c("dedupIds keeps exactly one row per (ts, id)")(
      n == raw.map(r => (r.getLong(0), r.getLong(1))).distinct.length &&
        n == trades.map(r => (r.getLong(0), r.getLong(1))).distinct.length)

    // bars: every trade but the unassigned first one lands in one bar
    def barTotals(key: String, bars: Array[Row], ids: Array[Row], firstUnassigned: Boolean): Unit = {
      val tradesIdx = bars.head.fieldIndex("trades")
      val volIdx = bars.head.fieldIndex("volume")
      val barTrades = bars.map(_.getLong(tradesIdx)).sum
      c(s"$key: bar trade counts sum to the input rows ($barTrades vs $n)")(barTrades == n)
      c.close(s"$key: bar volume sums to the input volume",
        bars.map(_.getDouble(volIdx)).sum, totalQty)
      if (ids != null) {
        val distinct = ids.map(_.getLong(2)).distinct.length
        c(s"$key: one bar per distinct bar id ($distinct ids, ${bars.length} bars)")(distinct == bars.length)
        val seq = ids.sortBy(r => (r.getLong(0), r.getLong(1), r.getLong(2))).map(_.getLong(2))
        c(s"$key: first trade unassigned (-1), ids start at 0")(
          !firstUnassigned || (seq.head == -1L && seq.drop(1).headOption.forall(_ == 0L)))
        c(s"$key: bar ids non-decreasing and contiguous")(
          seq.sliding(2).forall(p => p.length < 2 || p(1) - p(0) == 0L || p(1) - p(0) == 1L))
      }
    }
    barTotals("volume bars", out("chain/volume_bars"), out("volume_ids"), firstUnassigned = true)
    barTotals("dollar bars", out("chain/dollar_bars"), out("dollar_ids"), firstUnassigned = true)
    barTotals("time bars", out("chain/time_bars"), null, firstUnassigned = false)
    // a closed volume bar (not bar 0, seeded by the unassigned row) reached
    // the threshold, and only its closing trade took it there
    val vb = out("volume_ids")
    val qtyById = trades.map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val perBar = vb.filter(_.getLong(2) > 0).groupBy(_.getLong(2))
    c("volume bars: each closed bar reaches the threshold on its last trade")(
      perBar.values.forall { rs =>
        val v = rs.map(r => qtyById(r.getLong(1))).sum
        val closed = rs.exists(_.getBoolean(3))
        !closed || (v >= volumeThreshold - 1e-6 &&
          v - qtyById(rs.filter(_.getBoolean(3)).head.getLong(1)) < volumeThreshold + 1e-6)
      })
    val tb = out("chain/time_bars").map(_.getLong(0)).sorted
    val step = timeBarSec * 1000000000L
    c("time bars: one bar per interval, no gaps")(
      tb.sliding(2).forall(p => p.length < 2 || p(1) - p(0) == step))

    // σ: finite and > 0 after the first timestamp (no Δt before it)
    val sig = out("sigma")
    val firstTs = trades.map(_.getLong(0)).min
    c("sigma finite and > 0 after the first timestamp")(
      sig.filter(_.getLong(0) > firstTs).forall { r =>
        !r.isNullAt(2) && !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite && r.getDouble(2) > 0
      })

    // CUSUM events are trades
    val tradeKeys = trades.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val events = out("events")
    c(s"cusum events (${events.length}) are a subset of the trades")(
      events.nonEmpty && events.forall(r => tradeKeys((r.getLong(0), r.getLong(1), r.getDouble(2)))))

    // labels and weights
    val w = out("chain/weights")
    val f = w.head.schema.fieldNames.zipWithIndex.toMap
    val vertNs = (vertBarrierSec * 1e9).toLong
    c("labels in {-1, 0, 1}")(w.forall(r => Set(-1, 0, 1)(r.getInt(f("label")))))
    c("labels agree with the sign of the touch return")(w.forall { r =>
      val ret = r.getDouble(f("ret")); val l = r.getInt(f("label"))
      (ret <= 0 || l == 1) && (ret >= 0 || l == -1)
    })
    c("event_ts <= touch_ts <= event_ts + vertical barrier")(w.forall { r =>
      val e = r.getLong(f("event_ts")); val t = r.getLong(f("touch_ts"))
      e <= t && t <= e + vertNs
    })
    c("avg_uniqueness in (0, 1]")(w.forall { r =>
      val u = r.getDouble(f("avg_uniqueness")); u > 0 && u <= 1.0 + 1e-12
    })
    c("labeled events are cusum events")(
      w.map(_.getLong(f("event_id"))).toSet.subsetOf(events.map(_.getLong(1)).toSet))
    c.close("normalised weights sum to the number of events",
      w.map(_.getDouble(f("weight"))).sum, w.length.toDouble)
  }

  def corruptions: Seq[(String, Workload.Outputs => Unit)] = Seq(
    "shift one volume bar id" -> { out =>
      // a row inside a bar (same id before and after it) moved to the next bar
      val ids = out("volume_ids").zipWithIndex
        .sortBy { case (r, _) => (r.getLong(0), r.getLong(1)) }
      val i = (1 until ids.length - 1).find { j =>
        ids(j - 1)._1.getLong(2) == ids(j)._1.getLong(2) &&
          ids(j + 1)._1.getLong(2) == ids(j)._1.getLong(2) && ids(j)._1.getLong(2) >= 0
      }.get
      Workload.edit(out, "volume_ids", ids(i)._2)(r => Workload.set(r, "bar_id", r.getLong(2) + 1))
    },
    "drop one volume bar" -> { out => out("chain/volume_bars") = out("chain/volume_bars").tail },
    "flip one label" -> { out =>
      val w = out("chain/weights")
      val i = w.indexWhere(_.getInt(w.head.fieldIndex("label")) == -1)
      Workload.edit(out, "chain/weights", i)(r => Workload.set(r, "label", 1))
    })
}

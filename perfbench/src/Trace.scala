package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed region around a public engine call (or a benchmark-side Spark
  * call, layer `spark`). `trace` is the rep it belongs to; `parent` is the
  * rep's root span.
  */
final case class Span(id: Int, trace: Int, parent: Int, layer: String,
                      name: String, startNs: Long, var endNs: Long = 0L,
                      var rowsIn: Long = 0L, var rowsOut: Long = 0L)

/** Spans plus the job and task metrics a [[Listener]] attributed to them. */
final class Trace(val spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var traceId = 0
  val listener = new Listener
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(listener.streams)

  /** Open a rep: a root span all layer spans of the rep hang under. */
  def rep[T](body: => T): T = {
    traceId += 1
    span("rep", "rep")(body)
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, traceId, parent, layer, name, System.nanoTime())
    spans += s
    stack.push(s)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanProp)
    sc.setLocalProperty(Trace.SpanProp, s.id.toString)
    sc.setJobDescription(s"$layer:$name")
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Trace.SpanProp, prev)
      sc.setJobDescription(stack.headOption.map(p => s"${p.layer}:${p.name}").orNull)
    }
  }

  def current: Span = stack.head

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  /** Write every span, with its jobs and task cost, as JSON lines. */
  def write(f: java.io.File): Unit = {
    drain()
    val l = listener
    val jobs = l.synchronized(l.jobs.values.toSeq).groupBy(_.span)
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val c = l.synchronized(l.cost.get(s.id))
      pw.println(s"""{"id": ${s.id}, "trace": ${s.trace}, "parent": ${s.parent}, """ +
        s""""layer": "${s.layer}", "name": "${s.name}", "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "rows_in": ${s.rowsIn}, "rows_out": ${s.rowsOut}, """ +
        s""""jobs": ${jobs.getOrElse(s.id, Nil).size}, "tasks": ${c.map(_.tasks).getOrElse(0L)}, """ +
        s""""task_cpu_ns": ${c.map(_.cpuNs).getOrElse(0L)}}""")
    } finally pw.close()
  }

  /** Wall time and job count per call name, for the run log. */
  def summary: Seq[String] = {
    drain()
    val jobs = listener.synchronized(listener.jobs.values.toSeq).groupBy(_.span)
    spans.filter(_.layer != "rep").groupBy(s => (s.layer, s.name)).toSeq
      .map { case ((l, n), ss) =>
        (ss.map(s => s.endNs - s.startNs).sum, f"$l%-10s $n%-40s calls=${ss.size}%3d " +
          f"wall_s=${ss.map(s => s.endNs - s.startNs).sum / 1e9}%.3f " +
          s"jobs=${ss.map(s => jobs.getOrElse(s.id, Nil).size).sum}")
      }.sortBy(-_._1).map(_._2)
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(listener.streams)
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val Layers = Seq("spark", "trades", "bars", "features", "labels", "weights",
    "streaming", "text", "dedup")
  /** Layers whose ns_per_row is reported (per-row sequential kernels). */
  val RowLayers = Set("bars", "features", "labels", "weights")
}

/** Attributes jobs, stages and tasks to the span whose id the submitting
  * thread carried in the [[Trace.SpanProp]] local property. Streaming
  * micro-batches run on the query's own thread, which inherits the
  * property set when the query started.
  */
final class Listener extends SparkListener {
  import Listener._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val cost = mutable.HashMap.empty[Int, Cost]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(Trace.SpanProp))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobs(e.jobId) = Job(s, e.time)
    e.stageIds.foreach(stageSpan(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s >= 0) stageSpan(e.stageInfo.stageId) = s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageId, -1)
    val c = cost.getOrElseUpdate(s, new Cost)
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Progress of every micro-batch of every query. */
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Listener.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

object Listener {
  /** A job of span `span`; start and end in epoch ms. */
  final case class Job(span: Int, start: Long, var end: Long = -1L)
  /** Task totals of one span. */
  final class Cost {
    var cpuNs = 0L; var gcMs = 0L; var tasks = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
}

/** Per-layer metrics of the traced reps, from spans and listener totals.
  * Times are per rep (totals divided by the number of traced reps).
  */
object LayerReport {

  /** Total length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def metrics(t: Trace, reps: Int, untracedWallS: Double,
              tracedWallS: Double): Seq[Metric] = {
    t.drain()
    val l = t.listener
    val spans = t.spans.toSeq
    val layerSpans = spans.filter(_.layer != "rep")
    val children = layerSpans.groupBy(_.parent)
    // jobs carry their (driver-clock) start/end in ms
    val jobsBySpan = l.synchronized(l.jobs.values.toSeq).groupBy(_.span)
    val out = mutable.ArrayBuffer.empty[Metric]
    def add(n: String, v: Double, unit: String): Unit = out += Metric(n, v, unit)
    val r = reps.max(1).toDouble
    val msToNs = 1000000L
    var rowLayerCpuNs = 0L
    // spans use System.nanoTime; jobs use epoch ms — rebase job times onto
    // the span clock through one paired reading
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * msToNs
    Trace.Layers.foreach { layer =>
      val ss = layerSpans.filter(_.layer == layer)
      val selfNs = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs) - unionNs(kids)
      }.sum
      val idleNs = ss.map { s =>
        val busy = jobsBySpan.getOrElse(s.id, Nil).filter(_.end >= 0)
          .map(j => (j.start * msToNs + offsetNs, j.end * msToNs + offsetNs))
          .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        (s.endNs - s.startNs) - unionNs(busy)
      }.sum
      val costs = ss.flatMap(s => l.synchronized(l.cost.get(s.id)))
      val cpuNs = costs.map(_.cpuNs).sum
      val taskMs = costs.flatMap(_.taskMs).sorted
      val skew =
        if (taskMs.isEmpty) 0.0
        else taskMs.last.toDouble / math.max(1L, taskMs(taskMs.size / 2)).toDouble
      val rowsIn = ss.map(_.rowsIn).sum
      add(s"$layer.wall_s", selfNs / 1e9 / r, "s")
      add(s"$layer.cpu_s", cpuNs / 1e9 / r, "s")
      add(s"$layer.gc_s", costs.map(_.gcMs).sum / 1e3 / r, "s")
      add(s"$layer.jobs", ss.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum / r, "count")
      add(s"$layer.tasks", costs.map(_.tasks).sum / r, "count")
      add(s"$layer.idle_s", idleNs / 1e9 / r, "s")
      add(s"$layer.shuffle_mb", costs.map(_.shuffleBytes).sum / 1048576.0 / r, "MB")
      add(s"$layer.spill_mb", costs.map(_.spillBytes).sum / 1048576.0 / r, "MB")
      add(s"$layer.rows_out", ss.map(_.rowsOut).sum / r, "rows")
      add(s"$layer.task_skew", skew, "ratio")
      if (Trace.RowLayers(layer)) {
        rowLayerCpuNs += cpuNs
        add(s"$layer.ns_per_row", if (rowsIn > 0) cpuNs.toDouble / rowsIn else 0.0, "ns/row")
      }
    }
    // streaming: per micro-batch progress of the traced reps' queries
    val prog = l.synchronized(l.progress.toSeq).filter(_.durationMs.containsKey("addBatch"))
    def dur(k: String) = Main.median(prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val lastByQuery = prog.groupBy(_.id).values.map(_.maxBy(_.batchId))
    val streamSpans = layerSpans.filter(_.layer == "streaming")
    add("streaming.add_batch_ms", dur("addBatch"), "ms")
    add("streaming.planning_ms", dur("queryPlanning"), "ms")
    add("streaming.wal_commit_ms", dur("walCommit"), "ms")
    add("streaming.state_rows",
      lastByQuery.map(_.stateOperators.map(_.numRowsTotal).sum).sum / r, "rows")
    add("streaming.state_mem_mb", prog.groupBy(_.id).values
      .map(_.map(_.stateOperators.map(_.memoryUsedBytes).sum).max).sum / 1048576.0 / r, "MB")
    add("streaming.micro_batches", prog.size / r, "count")
    add("streaming.jobs_per_batch",
      if (prog.isEmpty) 0.0
      else streamSpans.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum.toDouble / prog.size,
      "count")
    // dedup: candidate yield and the index write/read split
    def named(n: String) = layerSpans.filter(_.name == n)
    def wallS(ss: Seq[Span]) = ss.map(s => s.endNs - s.startNs).sum / 1e9 / r
    val cand = named("Dedup.lshCandidates").map(_.rowsOut).sum
    add("dedup.candidate_pairs", cand / r, "pairs")
    add("dedup.verify_yield",
      if (cand > 0) named("Dedup.jaccardVerify").map(_.rowsOut).sum.toDouble / cand else 0.0, "ratio")
    add("dedup.index_write_s",
      wallS(named("Dedup.writeLshIndex") ++ named("Dedup.appendLshIndexIdempotent")), "s")
    add("dedup.index_read_s", wallS(named("Dedup.incrementalLshPairsFrom")), "s")

    val roots = spans.filter(_.layer == "rep")
    val rootNs = roots.map(s => s.endNs - s.startNs).sum
    val coveredNs = roots.map { root =>
      unionNs(children.getOrElse(root.id, Nil).map(k => (k.startNs, k.endNs)))
    }.sum
    add("spark.unattributed_s", (rootNs - coveredNs) / 1e9 / r, "s")
    // jobs a rep ran outside every layer span
    add("spark.unattributed_jobs",
      roots.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum / r, "count")
    add("trace.span_coverage", if (rootNs > 0) coveredNs.toDouble / rootNs else 0.0, "ratio")
    // task CPU of the row-kernel layers as a share of the traced rep's wall
    add("trace.row_layer_cpu_share",
      if (tracedWallS > 0) rowLayerCpuNs / 1e9 / r / tracedWallS else 0.0, "ratio")
    add("trace.overhead_s", tracedWallS - untracedWallS, "s")
    add("trace.reps", reps.toDouble, "count")
    out.toSeq
  }
}

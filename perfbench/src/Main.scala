package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <series_chain|sym_stream|corpus_dedup> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--scale <f>] [--selftest]
  * }}}
  *
  * A run sets up three times (session start, input generation and a
  * read-back of the inputs) and reports the median as `setup_s`; runs one
  * untimed verification rep whose outputs are collected and checked in
  * plain Scala, which also warms the JVM and Spark's caches; then measures
  * reps for `--seconds`. Every timed rep's output digests must match the
  * verified rep's. `--trace 0` reports the end-to-end metrics;
  * `--trace 1` spends the first half of the time on untraced reps and the
  * second half on traced ones, and reports the per-layer metrics. The last
  * stdout line is one JSON object.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, scale: Double, selftest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", new File(need("work")),
      m.getOrElse("scale", "1").toDouble, a.contains("--selftest"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "series_chain" => new SeriesChain(a.seed, a.scale, a.work)
    case "sym_stream" => new SymStream(a.seed, a.scale, a.work)
    case "corpus_dedup" => new CorpusDedup(a.seed, a.scale, a.work)
    case w => sys.error(s"unknown workload $w")
  }

  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getAbsolutePath)
    val s = graft.Conf.engineDefaults(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0)) }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Digests of every output of a group, keyed by group name. */
  def groupDigests(r: Runner): Map[String, Seq[(String, OutDigest)]] =
    r.digests.toSeq.groupBy(_._1.takeWhile(_ != '/')).map { case (g, ds) => g -> ds.sortBy(_._1) }

  def sameDigests(a: Seq[(String, OutDigest)], b: Seq[(String, OutDigest)]): Boolean =
    a.map(_._1) == b.map(_._1) && a.zip(b).forall { case ((_, x), (_, y)) => x.matches(y) }

  /** Counts operations of a rep; a group fails if it threw or its digests
    * do not match the verified rep's.
    */
  final class Ledger(reference: Map[String, Seq[(String, OutDigest)]], referenceOk: Boolean) {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.LinkedHashSet.empty[String]
    def record(res: RepResult, digests: Map[String, Seq[(String, OutDigest)]]): Unit =
      res.groups.foreach { g =>
        attempted += g.ops
        val (got, want) = (digests.getOrElse(g.name, Nil), reference.getOrElse(g.name, Nil))
        val bad = g.error.orElse(
          if (!referenceOk) Some("verified output failed its checks")
          else if (!sameDigests(got, want))
            Some(s"digest ${got.mkString(",")} != verified ${want.mkString(",")}")
          else None)
        bad.foreach { e => failed += g.ops; errors += s"${g.name}: $e" }
      }
  }

  final case class Timed(wallS: Double, cpuS: Double, batchMs: Seq[Double])

  def timedRep(w: Workload, spark: SparkSession, trace: Option[Trace],
               ledger: Ledger): Timed = {
    // let the previous rep's garbage and Spark's asynchronous shuffle and
    // broadcast cleanup finish outside the timed region
    System.gc()
    Thread.sleep(300)
    val r = new Runner(spark, trace, Noop)
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val res = trace match {
      case Some(t) => t.rep(w.rep(r))
      case None => w.rep(r)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    r.release()
    ledger.record(res, groupDigests(r))
    Timed(wall, cpu, res.batchMs)
  }

  /** Heap in use after a full GC; the sleep lets the context cleaner drop
    * the blocks and broadcasts the first GC released.
    */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    val body = ms.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "0" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val w = workload(a)
    if (a.selftest) { SelfTest.run(w, a); return }

    // --- set-up, three times; the last session stays ---------------------
    var spark: SparkSession = null
    val setupS = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.work)
      w.generate(spark)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"# perfbench workload=${w.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    println(s"# nproc=${Runtime.getRuntime.availableProcessors()} master=local[$cores] " +
      s"shuffle.partitions=$cores jvm=${System.getProperty("java.vm.name")} " +
      s"${System.getProperty("java.version")} spark=${spark.version}")
    println("# " + w.header.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println("# setup cycles_s=" + setupS.map(x => f"$x%.3f").mkString(","))

    // --- verification rep -------------------------------------------------
    def uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val setupEndS = uptimeS
    val vr = new Runner(spark, None, Collect)
    val vres = w.rep(vr)
    val verifyRepEndS = uptimeS
    val checks =
      if (vres.groups.forall(_.error.isEmpty)) Workload.checks(w, vr.collected) else new Checks
    vr.release()
    val reference = groupDigests(vr)
    val referenceOk = vres.groups.forall(_.error.isEmpty) && checks.failed.isEmpty
    val ledger = new Ledger(reference, referenceOk)
    ledger.record(vres, reference)
    checks.failed.foreach(f => println(s"# CHECK FAILED: ${w.name}: $f"))
    println(s"# checks ${if (referenceOk) "passed" else "FAILED"}; digests ${reference.toSeq.sortBy(_._1).flatMap(_._2).map { case (k, d) => s"$k=$d" }.mkString(" ")}")

    // --- measurement ------------------------------------------------------
    val metrics = mutable.ArrayBuffer.empty[Metric]
    def add(n: String, v: Double, u: String): Unit = metrics += Metric(n, v, u)
    val verifyEndS = uptimeS
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    if (!a.trace) {
      val reps = mutable.ArrayBuffer.empty[Timed]
      while (reps.isEmpty || elapsed < a.seconds) reps += timedRep(w, spark, None, ledger)
      val heap = liveHeapMb()
      val batches = reps.flatMap(_.batchMs)
      add("setup_s", median(setupS), "s")
      add("wall_s", median(reps.map(_.wallS).toSeq), "s")
      add("rows_per_s", median(reps.map(r => w.inputRows / r.wallS).toSeq), "1/s")
      add("batch_p50_ms", median(batches.toSeq), "ms")
      add("batch_p90_ms", pct(batches.toSeq, 0.9), "ms")
      add("cpu_s", median(reps.map(_.cpuS).toSeq), "s")
      add("live_heap_mb", heap, "MB")
      println(s"# reps=${reps.size} rep_wall_s=${reps.map(r => f"${r.wallS}%.3f").mkString(",")} " +
        s"batch_samples=${batches.size} batch_ms=${batches.map(b => f"$b%.0f").mkString(",")} " +
        s"ops_failed_frac=${ledger.failed.toDouble / ledger.attempted}")
    } else {
      val plain = mutable.ArrayBuffer.empty[Timed]
      while (plain.isEmpty || elapsed < a.seconds / 2) plain += timedRep(w, spark, None, ledger)
      val t = new Trace(spark)
      val traced = mutable.ArrayBuffer.empty[Timed]
      while (traced.isEmpty || elapsed < a.seconds) traced += timedRep(w, spark, Some(t), ledger)
      metrics ++= LayerReport.metrics(t, traced.size,
        median(plain.map(_.wallS).toSeq), median(traced.map(_.wallS).toSeq))
      t.summary.foreach(l => println(s"# span $l"))
      t.write(new File(a.work, "spans.jsonl"))
      t.close()
      println(s"# untraced_reps=${plain.size} traced_reps=${traced.size} " +
        s"untraced_wall_s=${plain.map(r => f"${r.wallS}%.3f").mkString(",")} " +
        s"traced_wall_s=${traced.map(r => f"${r.wallS}%.3f").mkString(",")} " +
        s"ops_failed_frac=${ledger.failed.toDouble / ledger.attempted}")
    }
    ledger.errors.take(20).foreach(e => println(s"# FAILED OP: $e"))
    metrics.foreach(m => println(f"# ${m.name}%-28s ${m.value}%.6f ${m.unit}"))
    val measureEndS = uptimeS
    spark.stop()
    println(f"# phases_s jvm_uptime: setup_end=$setupEndS%.1f verify_rep_end=$verifyRepEndS%.1f " +
      f"verify_end=$verifyEndS%.1f " +
      f"measure_end=$measureEndS%.1f stopped=$uptimeS%.1f")
    val correct = referenceOk && ledger.failed == 0
    println(json(correct, ledger.attempted, ledger.failed, metrics.toSeq))
  }
}

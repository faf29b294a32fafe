package perfbench

import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File

/** `corpus_dedup`: seeded documents with planted exact duplicates and
  * near-duplicate families, as one base batch and K append batches. The
  * base batch builds the stored LSH index; each append batch probes it (a
  * read) and appends its survivors (a write). Shuffle- and job-heavy, no
  * sequential kernel.
  */
final class CorpusDedup(seed: Long, scale: Double, work: File) extends Workload {
  val name = "corpus_dedup"
  val params: Gen.CorpusParams =
    Gen.CorpusParams(math.max(1000, (3000 * scale).toInt), appendBatches = 1)
  val minQuality = 0.55
  val indexBuckets = 8
  import params.{bands, minhashK => k, shingleN, threshold}

  private var docs: Array[Gen.Doc] = Array.empty
  private var digest = ""
  private val dir = new File(work, "corpus").getAbsolutePath
  private val table = "perfbench_lsh_index"
  private val indexPath = new File(work, "lsh_index").getAbsolutePath
  def inputRows: Long = docs.length.toLong

  def header: Seq[(String, String)] = Seq("docs" -> params.total.toString,
    "base_docs" -> params.baseDocs.toString,
    "append_batches" -> params.appendBatches.toString,
    "docs_per_append" -> params.perAppend.toString,
    "recall_floor" -> f"${params.recallFloor}%.2f",
    "recall_bound_independent_bands" -> f"${params.idealRecall}%.4f", "input_digest" -> digest)

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val (d, h) = Gen.corpus(seed, params)
    docs = d
    digest = h
    (0 to params.appendBatches).foreach { b =>
      docs.filter(_.batch == b).toSeq.toDF().select("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_$b.parquet")
    }
    require(spark.read.parquet(s"$dir/batch_*.parquet").count() == docs.length)
  }

  private val tokCols = Seq("doc_id", "toks")
  private val schema = "doc_id BIGINT, text STRING"

  /** Quality and language filter, then keep-first exact dedup. */
  private def clean(r: Runner, b: Int, in: DataFrame): DataFrame = {
    val scored = r.call("text", "TextOps.qualityColumns+langIdColumns", in)(
      in.select(Seq(col("doc_id"), col("text")) ++ TextOps.qualityColumns(col("text")) ++
          TextOps.langIdColumns(col("text")): _*)
        .where(col("quality_score") >= minQuality && col("pred_lang") === "en")
        .select("doc_id", "text", "quality_score"))
    val ann = r.call("dedup", "Dedup.exactDupAnnotate", scored)(
      Dedup.exactDupAnnotate(scored, "doc_id", "text"))
    r.inspect(s"b$b/cleaned", scored.select("doc_id"))
    r.inspect(s"b$b/exact_dups", ann.where(col("is_dup")).select("doc_id"))
    ann.where(!col("is_dup"))
      .select(col("doc_id"), col("quality_score"), TextOps.wsTokens(col("text")).as("toks"))
  }

  def rep(r: Runner): RepResult = {
    val spark = r.spark
    def read(b: Int) = spark.read.schema(schema).parquet(s"$dir/batch_$b.parquet")
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    def group(name: String)(body: => Unit): Boolean = {
      val err = try { body; None } catch { case e: Exception => Some(e.toString) }
      groups += Group(name, 1, err)
      err.isEmpty
    }
    val baseOk = group("base") {
      val u = clean(r, 0, read(0))
      val cand = r.call("dedup", "Dedup.lshCandidates", u)(
        Dedup.lshCandidates(u, "doc_id", "toks", shingleN, k, bands))
      val ver = r.call("dedup", "Dedup.jaccardVerify", cand, u)(
        Dedup.jaccardVerify(cand, u, "doc_id", "toks", shingleN)
          .where(col("jaccard") >= threshold))
      val comp = r.call("dedup", "Dedup.connectedComponents", ver)(
        Dedup.connectedComponents(ver.select("id_a", "id_b")))
      val best = r.call("dedup", "Dedup.keepBest", u, comp)(
        Dedup.keepBest(u, comp, "doc_id", "quality_score"))
      val surv = r.keep(u.join(best.where(col("keep")).select("doc_id"), "doc_id")
        .select(tokCols.map(col): _*))
      r.out("base/survivors", surv.select("doc_id"), Seq("doc_id"))
      r.inspect("b0/pairs", ver.select("id_a", "id_b"))
      r.inspect("b0/keep_best", best.select("doc_id", "cluster_id", "keep"))
      r.effect("dedup", "Dedup.writeLshIndex") {
        Dedup.writeLshIndex(surv, "doc_id", "toks", shingleN, k, bands, table, indexPath,
          buckets = indexBuckets)
      }
    }
    (1 to params.appendBatches).foreach { b =>
      if (!baseOk) groups += Group(s"append$b", 1, Some("base batch failed"))
      else {
        val t0 = System.nanoTime()
        group(s"append$b") {
          val u = clean(r, b, read(b))
          // the verify step looks up the text of indexed candidates only,
          // so every earlier batch's documents serve as the base side
          val earlier = (0 until b).map(read).reduce(_ unionByName _)
            .select(col("doc_id"), TextOps.wsTokens(col("text")).as("toks"))
          val pairs = r.call("dedup", "Dedup.incrementalLshPairsFrom", u)(
            Dedup.incrementalLshPairsFrom(spark.table(table), earlier, u.select(tokCols.map(col): _*),
              "doc_id", "toks", shingleN, k, bands, threshold))
          val surv = r.keep(u.join(pairs.select(col("id_a").as("doc_id")), Seq("doc_id"), "left_anti")
            .select(tokCols.map(col): _*))
          r.out(s"append$b/survivors", surv.select("doc_id"), Seq("doc_id"))
          r.inspect(s"b$b/pairs", pairs.select("id_a", "id_b"))
          r.effect("dedup", "Dedup.appendLshIndexIdempotent") {
            Dedup.appendLshIndexIdempotent(surv, "doc_id", "toks", shingleN, k, bands,
              table, indexPath, batchId = b.toLong, buckets = indexBuckets)
          }
        }
        lat += (System.nanoTime() - t0) / 1e6
      }
    }
    RepResult(groups.toSeq, lat.toSeq)
  }

  def check(out: collection.Map[String, Array[Row]], c: Checks): Unit = {
    def ids(key: String): Set[Long] = out(key).map(_.getLong(0)).toSet
    val byId = docs.map(d => d.doc_id -> d).toMap
    val survivors = (Seq("base/survivors") ++
      (1 to params.appendBatches).map(b => s"append$b/survivors")).flatMap(ids).toSet

    // every batch: filtered ∪ exact dups ∪ near dups ∪ survivors = input
    (0 to params.appendBatches).foreach { b =>
      val input = docs.filter(_.batch == b).map(_.doc_id).toSet
      val cleaned = ids(s"b$b/cleaned")
      val exact = ids(s"b$b/exact_dups")
      val near =
        if (b == 0) out("b0/keep_best").filter(r => !r.getBoolean(2)).map(_.getLong(0)).toSet
        else out(s"b$b/pairs").map(_.getLong(0)).toSet
      val surv = survivors.intersect(input)
      val removed = Seq(input -- cleaned, exact, near)
      c(s"batch $b: survivors plus removed documents equal the input")(
        (removed :+ surv).map(_.size).sum == input.size &&
          removed.foldLeft(surv)(_ ++ _) == input)
    }
    c("every planted exact duplicate is removed")(
      docs.filter(_.kind == "exact").forall(d => !survivors(d.doc_id)))
    c("every plain document survives")(
      docs.filter(_.kind == "plain").forall(d => survivors(d.doc_id)))

    // verified pairs really are similar: plain-Scala 3-shingle Jaccard
    def shingles(text: String): Set[Seq[String]] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (t.size < shingleN) Set(t) else t.sliding(shingleN).toSet
    }
    val pairs = (0 to params.appendBatches).flatMap(b => out(s"b$b/pairs"))
      .map(r => (r.getLong(0), r.getLong(1)))
    c(s"every verified pair has Jaccard >= $threshold (${pairs.size} pairs)")(pairs.forall {
      case (a, b) =>
        val (sa, sb) = (shingles(byId(a).text), shingles(byId(b).text))
        (sa & sb).size.toDouble / (sa | sb).size >= threshold
    })

    // planted families: one survivor each, and recall over the rest
    val families = docs.filter(_.kind == "family")
      .groupBy(_.origin).map { case (s, vs) => s +: vs.map(_.doc_id).toSeq }
    val kept = families.map(_.count(survivors))
    val removable = families.map(_.size - 1).sum
    val recall = if (removable == 0) 1.0 else families.map(f => f.size - f.count(survivors)).sum.toDouble / removable
    c("every planted family keeps at least one member")(kept.forall(_ >= 1))
    println(f"# dedup family recall $recall%.4f (regression floor ${params.recallFloor}%.2f, " +
      f"independent-band bound ${params.idealRecall}%.4f)")
    c(f"planted-family recall $recall%.4f >= regression floor ${params.recallFloor}%.2f")(
      removable > 0 && recall >= params.recallFloor)
    c("keepBest keeps exactly one document per cluster")(
      out("b0/keep_best").groupBy(_.getLong(1)).values.forall(_.count(_.getBoolean(2)) == 1))
  }

  def corruptions: Seq[(String, Workload.Outputs => Unit)] = Seq(
    "drop one dedup survivor" -> { out => out("base/survivors") = out("base/survivors").tail },
    "keep one planted exact duplicate" -> { out =>
      val dup = docs.find(d => d.kind == "exact" && d.batch == 0).get.doc_id
      val s = out("base/survivors")
      out("base/survivors") = s :+ Workload.set(s.head, "doc_id", dup)
    })
}

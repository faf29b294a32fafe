package perfbench

import graft.streaming.StreamingBars.TradeIn

/** Seeded input generators. Every random draw is `Gen.h(seed, stream, i)`,
  * a splitmix64 hash of the seed, a named draw stream and the row index, and
  * all generation runs on the Spark driver in plain Scala, so the inputs are
  * byte-identical at any core count or partitioning. Each generator also
  * returns a digest of what it produced, printed in the run header.
  */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, stream: Int, i: Long): Long =
    mix(mix(seed * 31L + stream) ^ mix(i))

  /** Uniform in [0, 1). */
  def u(seed: Long, stream: Int, i: Long): Double =
    (h(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** Order-sensitive running digest over longs. */
  final class Digest {
    private var acc = 0x243F6A8885A308D3L
    def add(x: Long): Unit = acc = mix(acc ^ x)
    def add(x: Double): Unit = add(java.lang.Double.doubleToLongBits(x))
    def add(s: String): Unit = add(s.hashCode.toLong)
    def hex: String = f"$acc%016x"
  }

  // --- series_chain: one unkeyed trade series in the `events` schema -----

  final case class Event(event_id: Long, ts: Long, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** First trade time: whole µs, 20.123457 s past a minute boundary, so no
    * trade sits on a time-bar grid point (the first grid point is the open
    * boundary and would belong to no bar).
    */
  val t0Ns = 1700000000123457000L

  /** A random walk on a 0.01 tick grid starting at 100.00 (steps −1/0/+1
    * tick with probability 1/4, 1/2, 1/4, reflected above 1.00). Gaps are
    * exponential with an 80 ms mean in whole µs; 15% of gaps are 0, which
    * makes ts ties. 0.2% of rows repeat the previous row exactly, a
    * duplicate `(ts, id)` print.
    */
  def seriesEvents(seed: Long, n: Int): (Array[Event], String) = {
    val out = new Array[Event](n)
    val d = new Digest
    var ts = t0Ns
    var ticks = 10000L
    var id = 0L
    var i = 0
    while (i < n) {
      if (i > 0 && u(seed, 1, i) < 0.002) out(i) = out(i - 1)
      else {
        if (i > 0) {
          val g = u(seed, 2, i)
          if (g >= 0.15) ts += 1000L * (1L + (-math.log(u(seed, 3, i) + 1e-12) * 80000.0).toLong)
          val s = u(seed, 4, i)
          ticks += (if (s < 0.25) -1L else if (s < 0.75) 0L else 1L)
          if (ticks < 100L) ticks = 200L - ticks
        }
        id += 1
        out(i) = Event(id, ts, 7L, "trade", ticks / 100.0, "")
      }
      val e = out(i)
      d.add(e.event_id); d.add(e.ts); d.add(e.value)
      i += 1
    }
    (out, d.hex)
  }

  // --- sym_stream: keyed trades, one random walk per symbol --------------

  /** `n` trades over `symbols` symbols in global (ts, id) order. Symbol
    * choice is mildly skewed (u^1.5), qty is 1..5.75 in 0.25 steps, and
    * each symbol walks its own 0.01 tick grid from 50.00.
    */
  def symTrades(seed: Long, n: Int, symbols: Int): (Array[TradeIn], String) = {
    val out = new Array[TradeIn](n)
    val ticks = Array.fill(symbols)(5000L)
    val d = new Digest
    var ts = t0Ns
    var i = 0
    while (i < n) {
      ts += 1000L * (1L + (u(seed, 11, i) * 20000.0).toLong)
      val sym = math.min(symbols - 1, (symbols * math.pow(u(seed, 12, i), 1.5)).toInt)
      val s = u(seed, 13, i)
      ticks(sym) += (if (s < 0.25) -1L else if (s < 0.75) 0L else 1L)
      if (ticks(sym) < 100L) ticks(sym) = 200L - ticks(sym)
      val qty = 1.0 + (h(seed, 14, i) >>> 1) % 20 * 0.25
      out(i) = TradeIn(ts, i.toLong, ticks(sym) / 100.0, qty, sym.toLong)
      d.add(ts); d.add(sym.toLong); d.add(out(i).price); d.add(qty)
      i += 1
    }
    (out, d.hex)
  }

  // --- corpus_dedup: documents with planted duplicates --------------------

  /** One generated document with its planted ground truth. `kind` is
    * `plain`, `seed` (a family's first member), `family` (a variant of the
    * seed `origin`), `exact` (a copy of the plain document `origin`) or
    * `junk` (built to fail the quality and language filter).
    */
  final case class Doc(doc_id: Long, text: String, batch: Int,
                       kind: String, origin: Long)

  final case class CorpusParams(docs: Int, appendBatches: Int) {
    val baseDocs: Int = docs / 2
    val perAppend: Int = (docs - baseDocs) / appendBatches
    def total: Int = baseDocs + perAppend * appendBatches
    def batchOf(i: Int): Int =
      if (i < baseDocs) 0 else 1 + (i - baseDocs) / perAppend
    val minTokens = 40
    val maxTokens = 60
    /** A family variant substitutes this many tokens of its seed. */
    val edits = 1
    val shingleN = 3
    val minhashK = 16
    val bands = 8
    val threshold = 0.5

    /** Lowest 3-shingle Jaccard between two members of one family (the
      * seed or two variants): each substituted token changes at most
      * `shingleN` shingles of the shortest document, and two variants
      * differ by at most both their edits.
      */
    def minVariantJaccard: Double = {
      val s = (minTokens - shingleN + 1).toDouble
      val changed = (2 * edits * shingleN).toDouble
      (s - changed) / (s + changed)
    }

    /** Probability that MinHash LSH proposes a pair at Jaccard `j` when
      * its `bands` bands of k/bands minima are independent.
      */
    def candidateProb(j: Double): Double =
      1.0 - math.pow(1.0 - math.pow(j, minhashK / bands), bands)

    /** Recall floor for planted families: a regression guard chosen from
      * measured runs, not a derived bound. The bound the generator's
      * parameters give, [[idealRecall]] at independent bands, is not met
      * by the engine: its permutations `(a·h + b) mod (2^61 − 1)` with
      * a, h < 2^31 wrap at most once, so the minima are far from
      * independent (most come from the shingle with the smallest hash).
      * Over seeds 1–60 at the default size the measured recall was
      * 0.815–1.0, mean 0.931, standard deviation 0.034; the floor is the
      * mean less five standard deviations, rounded down.
      */
    val recallFloor = 0.75
    /** The independent-band recall bound at the weakest planted similarity. */
    def idealRecall: Double = candidateProb(minVariantJaccard)
  }

  private val stop = Array("the", "and", "of", "to", "a", "in", "is", "an")

  /** Content words: 4–9 lowercase letters, so none collides with a
    * stopword of any language profile (all of them are ≤ 3 letters).
    */
  private def word(seed: Long, w: Int): String = {
    val len = 4 + (h(seed, 21, w) >>> 1) % 6
    val sb = new StringBuilder
    var j = 0
    while (j < len) { sb += ('a' + (h(seed, 22, w * 16L + j) >>> 1) % 26).toChar; j += 1 }
    sb.toString
  }

  /** Documents of 40–60 tokens: "the" (so the English language-ID wins),
    * then words from a 20k-word vocabulary with a stopword after every
    * ~25th content word (never two stopwords in a row, so unrelated
    * documents almost never share a 3-shingle). Planted shape, by
    * document index i (ids are i):
    *  - 3% junk: digit and punctuation tokens only;
    *  - 6% exact copies of an earlier document, with doubled whitespace
    *    (identical after normalisation);
    *  - families: every 40th base document seeds a family; the base holds
    *    one variant of it and each append batch one more with probability
    *    1/2, each with one substituted token (never the leading "the"). No append batch holds two
    *    members of one family: the incremental probe only compares a batch
    *    against the index, so a family is found through its indexed member.
    */
  def corpus(seed: Long, p: CorpusParams): (Array[Doc], String) = {
    val vocab = Array.tabulate(20000)(w => word(seed, w))
    def tokens(i: Long): Array[String] = {
      val len = p.minTokens + ((h(seed, 23, i) >>> 1) % (p.maxTokens - p.minTokens + 1)).toInt
      val out = new Array[String](len)
      out(0) = "the"
      var j = 1
      while (j < len) {
        val r = h(seed, 24, i * 64 + j) >>> 1
        out(j) =
          if (!stop.contains(out(j - 1)) && r % 25 == 0) stop((r / 25 % stop.length).toInt)
          else vocab((r % vocab.length).toInt)
        j += 1
      }
      out
    }
    def junk(i: Long): Array[String] =
      Array.tabulate(p.minTokens) { j =>
        val r = h(seed, 25, i * 64 + j) >>> 1
        if (r % 3 == 0) "!!" else (r % 100000).toString
      }
    val n = p.total
    val toks = new Array[Array[String]](n)
    val docs = new Array[Doc](n)
    val seeds = (0 until p.baseDocs by 40).toArray
    val seedSet = seeds.toSet
    // family variants: seed s gets one variant in the base (at s + 20 when
    // inside the base) and one in each append batch at a hashed position
    val variantOf = scala.collection.mutable.HashMap.empty[Int, Int]
    seeds.foreach { s =>
      if (s + 20 < p.baseDocs) variantOf(s + 20) = s
      (1 to p.appendBatches).foreach { b =>
        if (u(seed, 26, s * 64L + b) < 0.5) {
          val lo = p.baseDocs + (b - 1) * p.perAppend
          val pos = lo + ((h(seed, 27, s * 64L + b) >>> 1) % p.perAppend).toInt
          if (!variantOf.contains(pos)) variantOf(pos) = s
        }
      }
    }
    val d = new Digest
    var i = 0
    while (i < n) {
      val r = u(seed, 28, i)
      val (t, kind, origin) =
        if (variantOf.contains(i)) {
          val s = variantOf(i)
          val base = toks(s).clone()
          (0 until p.edits).foreach { e =>
            val pos = 1 + ((h(seed, 30, i * 8L + e) >>> 1) % (base.length - 1)).toInt
            base(pos) = vocab(((h(seed, 31, i * 8L + e) >>> 1) % vocab.length).toInt)
          }
          (base, "family", s.toLong)
        } else if (seedSet.contains(i)) (tokens(i), "seed", -1L)
        else if (r < 0.03) (junk(i), "junk", -1L)
        else if (r < 0.09 && i > 0) {
          // an earlier plain document (outside any family), so the copy
          // is always found by an identical-band match; falls back to a
          // plain document when there is none yet
          var o = ((h(seed, 32, i) >>> 1) % i).toInt
          var tries = 0
          while (docs(o).kind != "plain" && tries < i) {
            o = (o + 1) % i; tries += 1
          }
          if (tries < i) (toks(o), "exact", o.toLong) else (tokens(i), "plain", -1L)
        } else (tokens(i), "plain", -1L)
      toks(i) = t
      val text =
        if (kind == "exact") t.mkString("  ") else t.mkString(" ")
      docs(i) = Doc(i.toLong, text, p.batchOf(i), kind, origin)
      d.add(i.toLong); d.add(text)
      i += 1
    }
    (docs, d.hex)
  }
}

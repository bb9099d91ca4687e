package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909 — the classic word-frequency formulation): greedy
  * merge steps where each step promotes the corpus's most frequent
  * adjacent symbol pair to a new symbol.
  *
  * Exact + engine-portable by construction:
  *  - pair frequencies are INTEGER sums over the word-frequency table
  *    (positional adjacent pairs, the reference algorithm's counts);
  *  - the winner is (count DESC, pair ASC) — a binary-collation total
  *    order both Spark and DuckDB share, so ties break identically;
  *  - every symbol is ONE character: merge `i` mints the private-use
  *    codepoint U+E000+i, which turns "apply a merge" into a literal
  *    left-to-right non-overlapping `replace` — exactly the reference
  *    algorithm's in-word merge walk, and exactly what SQL `replace`
  *    does, so a DuckDB recomputation hash-matches (q126's oracle).
  *
  * 100 TB shape: the corpus text is scanned ONCE, distributed, into
  * the word-frequency table (the classic BPE state — its size is the
  * corpus VOCABULARY, not the corpus), which is collected to the
  * driver once. The merge loop then runs on the driver over that
  * table with incremental pair counts ([[learnMerges]]), so a merge
  * costs in proportion to the words containing its pair and no Spark
  * job: training submits the same jobs for 4 steps as for 400. The
  * driver holds the vocabulary and its pair postings — memory in
  * proportion to the distinct word forms times their length, the
  * state single-process BPE trainers hold too.
  */
object BpeTrainer {

  /** One greedy merge: `token` is the merged text (base characters,
    * fully expanded), `freq` its adjacent-pair count when chosen, and
    * `pair` the exact two-symbol form it replaced (symbols are single
    * chars — earlier merges' minted codepoints included), which is
    * what [[tokenize]] replays.
    */
  final case class Merge(step: Int, token: String, freq: Long, pair: String)

  /** The word-frequency table — BPE's training state: one corpus scan,
    * whitespace split, keeping plain `[a-z]{2,20}` word forms (the
    * regex is the portability contract with the oracle; byte-level
    * alphabets would need per-byte symbols instead). Output:
    * `(seq string, cnt bigint)` where `seq` starts as the word itself
    * — every character one symbol.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    Spread(docs).select(explode(split(col(textCol), "\\s+")).as("w"))
      .where(col("w").rlike("^[a-z]{2,20}$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w").as("seq"), col("cnt"))

  /** First private-use codepoint; merge step `i` (1-based) mints
    * `(SymBase + i - 1).toChar`. 0xE000..0xF8FF gives 6400 merges —
    * past that the trainer refuses rather than colliding with real
    * text (which the `[a-z]` word filter excludes anyway).
    */
  private[operators] val SymBase = 0xE000

  /** Train `steps` greedy merges. Stops early when no pair remains
    * (every surviving word fully merged to one symbol).
    */
  def train(spark: SparkSession, docs: DataFrame, steps: Int,
            textCol: String = "text"): Seq[Merge] = {
    require(steps >= 1 && steps <= 6400,
      s"BPE merge steps must be in [1, 6400]: $steps")
    val vocab = wordCounts(docs, textCol).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    learnMerges(vocab, steps)
  }

  /** The greedy merge loop over a collected word-frequency table.
    *
    * Incremental pair counts (the HF tokenizers / SentencePiece
    * trainer shape): `counts` holds every adjacent pair's positional
    * frequency, `postings` the words each pair occurs in, and a
    * max-heap ranks pairs by (count DESC, pair ASC) with lazy
    * deletion (an entry is live only while its count is the pair's
    * current count). A merge rewrites only the words posted under its
    * pair: each one's old pairs are subtracted, the left-to-right
    * non-overlapping replace walk runs, and its new pairs are added
    * back. The merged pair's count is then 0 — the walk leaves no
    * occurrence of it, since the minted symbol matches neither half.
    *
    * A pair `xy` is keyed `x << 16 | y`; unsigned key order is the
    * two-char string order, which is also the binary (UTF-8) order
    * Spark and DuckDB compare with, because every symbol is `[a-z]`
    * or U+E000..U+F8FF (no surrogates).
    */
  private[operators] def learnMerges(vocab: Seq[(String, Long)], steps: Int): Seq[Merge] = {
    import scala.collection.mutable
    val syms = vocab.map(_._1.toCharArray).toArray
    val lens = syms.map(_.length)
    val freq = vocab.map(_._2).toArray
    val counts = mutable.HashMap.empty[Int, Long]
    val postings = mutable.HashMap.empty[Int, mutable.HashSet[Int]]
    val rank: Ordering[(Long, Int)] = (a, b) => {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else Integer.compareUnsigned(b._2, a._2)
    }
    val heap = mutable.PriorityQueue.empty[(Long, Int)](rank)
    def key(w: Int, i: Int): Int = (syms(w)(i) << 16) | syms(w)(i + 1)
    def addPairs(w: Int, sign: Long, touched: mutable.Set[Int]): Unit = {
      var i = 0
      while (i < lens(w) - 1) {
        val k = key(w, i)
        counts(k) = counts.getOrElse(k, 0L) + sign * freq(w)
        if (sign > 0) postings.getOrElseUpdate(k, mutable.HashSet.empty[Int]) += w
        touched += k
        i += 1
      }
    }
    def push(touched: Iterable[Int]): Unit = touched.foreach { k =>
      val c = counts(k)
      if (c > 0) heap.enqueue((c, k)) else counts.remove(k)
    }

    val init = mutable.HashSet.empty[Int]
    syms.indices.foreach(addPairs(_, 1L, init))
    push(init)

    val merges = Seq.newBuilder[Merge]
    val expansion = mutable.Map.empty[Char, String]
    var step = 1
    while (step <= steps && heap.nonEmpty) {
      val (c, k) = heap.dequeue()
      if (counts.get(k).contains(c)) {
        val (a, b) = ((k >>> 16).toChar, (k & 0xFFFF).toChar)
        val z = (SymBase + step - 1).toChar
        val token = expansion.getOrElse(a, a.toString) + expansion.getOrElse(b, b.toString)
        expansion(z) = token
        merges += Merge(step, token, c, s"$a$b")
        val touched = mutable.HashSet.empty[Int]
        postings.remove(k).get.foreach { w =>
          val s = syms(w)
          // postings are never pruned: an earlier merge may have
          // consumed this word's occurrences of the pair
          if ((0 until lens(w) - 1).exists(i => s(i) == a && s(i + 1) == b)) {
            addPairs(w, -1L, touched)
            var i = 0
            var j = 0
            while (i < lens(w)) {
              if (i + 1 < lens(w) && s(i) == a && s(i + 1) == b) { s(j) = z; i += 2 }
              else { s(j) = s(i); i += 1 }
              j += 1
            }
            lens(w) = j
            addPairs(w, 1L, touched)
          }
        }
        push(touched)
        step += 1
      }
    }
    merges.result()
  }

  /** [[train]] as a DataFrame `(step int, token string, freq bigint)`
    * — the q126 result shape (and what a vocab catalog would persist).
    */
  def trainDF(spark: SparkSession, docs: DataFrame, steps: Int,
              textCol: String = "text"): DataFrame = {
    import spark.implicits._
    train(spark, docs, steps, textCol)
      .map(m => (m.step, m.token, m.freq)).toDF("step", "token", "freq")
  }

  /** Per-text BPE TOKEN COUNT under learned merges — the token-budget
    * input a trained tokenizer implies: whitespace words in the
    * trainer's `[a-z]{2,20}` alphabet fold through the merge replaces
    * (each surviving symbol = one token) and sum; other word forms
    * contribute nothing (they're outside the trained alphabet, the
    * same contract as [[wordCounts]]). A pure projection — the
    * corpus-wide encode is ONE scan, merges fused into whole-stage
    * codegen, no join against a vocab table.
    */
  def tokenCount(text: Column, merges: Seq[Merge]): Column =
    aggregate(
      transform(
        filter(split(text, "\\s+"), w => w.rlike("^[a-z]{2,20}$")),
        w => length(merges.foldLeft(w) { (c, m) =>
          replace(c, lit(m.pair), lit((SymBase + m.step - 1).toChar.toString))
        }).cast("long")),
      lit(0L), (acc, n) => acc + n)

  /** The matching word count (how many words the encode covered). */
  def wordCount(text: Column): Column =
    size(filter(split(text, "\\s+"), w => w.rlike("^[a-z]{2,20}$"))).cast("long")

  /** Tokenize a word column with learned merges: fold the replaces in
    * training order (the exact training walk), then expand each
    * surviving symbol back to its token text. Output `array<string>`
    * whose concatenation is the input word — a pure projection,
    * usable inside any scan.
    */
  def tokenize(word: Column, merges: Seq[Merge]): Column = {
    val reps = merges.map(m => (m, (SymBase + m.step - 1).toChar.toString))
    val folded = reps.foldLeft(word) { case (c, (m, z)) =>
      replace(c, lit(m.pair), lit(z))
    }
    val expMap = map(reps.flatMap { case (m, z) =>
      Seq(lit(z), lit(m.token)) }: _*)
    filter(
      transform(split(folded, ""),
        ch => coalesce(element_at(expMap, ch), ch)),
      t => length(t) > 0) // split("") may emit boundary empties
  }
}

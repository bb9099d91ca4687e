package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-style (SentencePiece-flavored, Kudo 2018, arXiv:1804.10959)
  * subword tokenizer: a FIXED piece vocabulary scored from the corpus,
  * applied by greedy longest-match segmentation.
  *
  * The classic unigram trainer's EM loop is float math; what this
  * implementation keeps exact (and therefore DuckDB-oracle-able, the
  * same discipline that made BPE training exact in
  * [[BpeTrainer]]) is the deterministic variant:
  *  - candidate pieces are every substring of length 2..maxLen of the
  *    corpus's word forms, weighted by exact INTEGER word counts;
  *  - the vocabulary is the top-K pieces by (weight DESC, piece ASC) —
  *    a binary-collation total order Spark and DuckDB share;
  *  - segmentation is greedy longest-match left-to-right over the
  *    piece set, single-character fallback (every char is implicitly
  *    in the vocab at length 1) — Viterbi under unit piece costs
  *    degenerates to exactly this walk for counting purposes.
  *
  * Word alphabet is [[BpeTrainer.wordCounts]]'s `[a-z]{2,20}` contract
  * (the engine-portability boundary with the oracle).
  *
  * 100 TB shape: training scans the corpus ONCE into the word-frequency
  * table (vocabulary-sized state, like BPE's), explodes it to weighted
  * substrings (≤ maxLen·|word| pieces per DISTINCT word form, never per
  * occurrence), and one hash aggregation + TakeOrdered yields the
  * vocabulary; the only driver traffic is the top-K rows (a bounded
  * collect). Scoring is a PURE PROJECTION: the
  * piece set inlines as per-length literal arrays and the greedy walk
  * runs as native `aggregate`/`transform` higher-order expressions —
  * one corpus scan, zero joins, zero windows, no UDF.
  */
object UnigramTokenizer {

  /** A vocabulary piece and its exact substring weight (sum of the
    * containing words' counts, one per occurrence position).
    */
  final case class Piece(piece: String, weight: Long)

  /** Exact integer substring weights of every piece of length
    * `minLen..maxLen` over the word-frequency table `(seq, cnt)` —
    * `(piece, weight)`, one explode + one hash agg.
    */
  private def candidateWeights(wf: DataFrame, minLen: Int, maxLen: Int): DataFrame =
    wf.select(
        explode(filter(flatten(transform(
          sequence(lit(1), length(col("seq"))),
          i => transform(sequence(lit(minLen), lit(maxLen)),
            l => when(i + l - lit(1) <= length(col("seq")),
              substr(col("seq"), i, l))))),
          p => p.isNotNull)).as("piece"),
        col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("weight"))

  /** Train the top-`topK` piece vocabulary on `docs`. One corpus scan
    * (the word-frequency table), one substring explode over DISTINCT
    * word forms, one hash agg + TakeOrdered(topK).
    */
  def trainPieces(spark: SparkSession, docs: DataFrame, topK: Int,
                  maxLen: Int = 6, textCol: String = "text"): Seq[Piece] = {
    require(topK >= 1 && topK <= 100000,
      s"unigram piece vocab size must be in [1, 100000]: $topK")
    require(maxLen >= 2 && maxLen <= 20,
      s"unigram maxLen must be in [2, 20]: $maxLen")
    val wf = BpeTrainer.wordCounts(docs, textCol) // (seq, cnt): distinct word forms
    candidateWeights(wf, 2, maxLen)
      .orderBy(col("weight").desc, col("piece").asc)
      .limit(topK) // plans as TakeOrdered; driver traffic = topK rows
      .collect().map(r => Piece(r.getString(0), r.getLong(1))).toSeq
  }

  /** Greedy longest-match piece count of one word under the inlined
    * vocabulary: a single left-to-right `aggregate` over the character
    * positions; at each unconsumed position the longest piece length
    * whose literal array contains the substring wins, else one
    * character is consumed as a fallback piece.
    */
  private def greedyCount(word: Column, byLen: Map[Int, Seq[String]]): Column = {
    val lens = byLen.keys.toSeq.sorted.reverse // longest-match-first
    aggregate(
      sequence(lit(1), length(word)),
      struct(lit(0).as("n"), lit(1).as("next")),
      (acc, i) => {
        val matchLen = coalesce(lens.map { l =>
          when(array_contains(array(byLen(l).map(lit): _*),
            substr(word, i, lit(l))), lit(l))
        } :+ lit(1): _*)
        when(i < acc.getField("next"), acc)
          .otherwise(struct((acc.getField("n") + lit(1)).as("n"),
            (i + matchLen).as("next")))
      },
      acc => acc.getField("n"))
  }

  /** Per-text greedy piece count under a trained vocabulary — one
    * projection over the whitespace words in the trainer's alphabet
    * (non-matching word forms contribute nothing, [[BpeTrainer]]'s
    * contract); usable inside any scan.
    */
  def tokenCount(text: Column, pieces: Seq[Piece]): Column = {
    val byLen = pieces.map(_.piece).groupBy(_.length)
    aggregate(
      filter(split(text, "\\s+"), w => w.rlike("^[a-z]{2,20}$")),
      lit(0L),
      (acc, w) => acc + greedyCount(w, byLen).cast("long"))
  }

  /** The matching word count (how many words the segmentation covered). */
  def wordCount(text: Column): Column = BpeTrainer.wordCount(text)

  // ----- EM refinement (Kudo 2018 §3.2, the hard-EM / Viterbi variant)

  /** The EM-trained vocabulary: `pieces` carry FINAL Viterbi usage
    * counts (exact integers), `losses` the per-iteration corpus cost
    * in MICRO-NATS (scaled-integer negative log-likelihood — see
    * [[CostScale]]; non-increasing up to quantization by hard-EM
    * construction, suite-pinned).
    */
  final case class EmResult(pieces: Seq[Piece], losses: Seq[Long])

  /** Fixed-point scale for piece costs: a cost is
    * `round(-ln(p) * CostScale)` micro-nats as a Long. Round 16 ran
    * the DP on raw doubles, which made q136 rows-only; integer costs
    * (the repo's SURVEY §5 exactness doctrine — the same move that
    * made q43/q01 exact) let DuckDB replay the whole EM loop
    * bit-for-bit: IEEE double division/multiplication round
    * identically everywhere, `ln` agrees to ~1 ulp, and the 1e-9
    * relative slack that survives the *1e6 quantization cannot flip a
    * `round` except on a knife-edge ~1e-9 wide — while every
    * DOWNSTREAM comparison (DP min, usage sums, losses) is pure
    * integer math with no accumulation of float error at all.
    */
  private val CostScale = 1e6

  /** Cost assigned to a single-character piece Viterbi never used —
    * finite (so the DP arithmetic stays well-defined) but high enough
    * that any real piece wins (real costs top out near 50 nats =
    * 5e7 micro-nats; a 20-char word of these stays 1e9, far under
    * this); it is exactly the MLE's p=0 for decision purposes,
    * because a zero-usage char is by definition never needed for
    * coverage. Long arithmetic is overflow-safe: 20 chars at this
    * cost is 2e13 « 2^63.
    */
  private val UnusedCharCost = 1000000000000L

  /** EM refinement of the greedy baseline ([[trainPieces]] = the exact
    * oracle-able sibling): seed piece probabilities from the integer
    * substring weights, then iterate
    *  - E-step: Viterbi-segment every DISTINCT word form under the
    *    current FIXED-POINT piece costs (`round(-ln p * 1e6)`
    *    micro-nats, [[CostScale]]), weighted by exact word counts;
    *  - M-step: p(piece) = usage / total usage from the E-step's exact
    *    INTEGER usage sums (derived on the driver); pieces with zero
    *    usage are pruned (single characters stay, at [[UnusedCharCost]],
    *    for coverage).
    * Hard EM's likelihood is non-increasing by construction (up to the
    * ±0.5 micro-nat per piece quantization). The DP, the usage sums
    * and the losses are all INTEGER math, so the loop is
    * oracle-hashable (q136): DuckDB replays seed → 3×(Viterbi DP as a
    * recursive CTE + integer usage M-step) and must agree exactly.
    * The one float in the loop, `-ln p` itself, is computed once per
    * piece per iteration and quantized immediately — see [[CostScale]]
    * for why cross-engine `ln` agreement survives the rounding.
    *
    * 100 TB shape: one corpus scan into the persisted word-frequency
    * table (vocabulary-sized, the BPE/unigram training state); each EM
    * iteration is ONE projection + integer hash-agg over distinct word
    * forms — the Viterbi DP runs inside the projection as native
    * aggregate/transform HOFs (≤ |word|·maxLen map probes per word,
    * zero joins, no UDF), the piece cost table rides the plan as one
    * map LITERAL (vocab-bounded), and per-iteration driver traffic is
    * the vocab-sized usage table. Segmentation work tracks VOCABULARY
    * size, not corpus size — the Zipf argument that made greedy q134's
    * distinct-form walk win at sf1.
    *
    * Contract (ADVICE r16): `topK` bounds only the MULTI-CHAR seed
    * pool; the result is every piece with nonzero final Viterbi usage
    * — up to topK multi-char seeds plus all used single characters —
    * and may therefore exceed topK entries.
    */
  def trainPiecesEm(docs: DataFrame, topK: Int,
                    iters: Int = 3, maxLen: Int = 6,
                    textCol: String = "text"): EmResult = {
    require(topK >= 1 && topK <= 100000,
      s"unigram piece vocab size must be in [1, 100000]: $topK")
    require(maxLen >= 2 && maxLen <= 20,
      s"unigram maxLen must be in [2, 20]: $maxLen")
    require(iters >= 1 && iters <= 100, s"EM iterations must be in [1, 100]: $iters")
    val wf = BpeTrainer.wordCounts(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      wf.count() // materialize: the ONLY corpus-text scan
      // seed probabilities from the exact substring weights — the
      // greedy trainer's candidate scores (chars included, length 1)
      val multi = candidateWeights(wf, 2, maxLen)
        .orderBy(col("weight").desc, col("piece").asc)
        .limit(topK).collect().map(r => r.getString(0) -> r.getLong(1))
      val chars = candidateWeights(wf, 1, 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      var costs = costsOf((multi ++ chars).toMap)
      val losses = Seq.newBuilder[Long]
      var pieces = Seq.empty[Piece]
      for (_ <- 1 to iters) {
        val costMap = typedlit(costs)
        // fwd materializes in its own projection: HOF lambdas are not
        // CSE'd (round 15's O(words²) lesson) — cost and backtrace
        // must read ONE computed struct, not re-run the DP
        val seg = wf
          .select(col("seq"), col("cnt"),
            viterbiForward(col("seq"), costMap, maxLen).as("fwd"))
          .select(col("cnt"),
            viterbiBacktrace(col("seq"), col("fwd")).as("pieces"))
        // E-step usage: exact integer sums → the deterministic state.
        // ONE job per iteration (r19, guide §1.2): the loop used to
        // persist seg and run a second sum(cost·cnt) job for the loss,
        // but a word's DP cost IS the sum of its chosen pieces' costs,
        // so Σ_words cost·cnt = Σ_pieces costs(p)·usage(p) — exact
        // integer identity, derived on the driver from the usage rows
        // under THIS iteration's cost map (every chosen piece is a
        // costMap key by construction of the DP's candidate set).
        val usage = seg.select(explode(col("pieces")).as("piece"), col("cnt"))
          .groupBy("piece").agg(sum("cnt").as("usage"))
          .orderBy(col("usage").desc, col("piece").asc)
          .collect().map(r => r.getString(0) -> r.getLong(1))
        // an EMPTY word table sums to 0 over no usage rows — a corpus
        // with no alphabet words trains an empty vocab at loss 0
        losses += usage.iterator.map { case (p, u) => costs(p) * u }.sum
        pieces = usage.map { case (p, u) => Piece(p, u) }.toSeq
        // M-step: MLE from usage; zero-usage multi-char pieces prune
        costs = costsOf(usage.toMap)
      }
      EmResult(pieces, losses.result())
    } finally wf.unpersist(blocking = false)
  }

  /** Fixed-point `round(-ln(usage/total) * 1e6)` micro-nat piece costs
    * from exact integer usage, plus every single character not in
    * `usage` at [[UnusedCharCost]] (coverage: the DP must always have
    * a length-1 candidate). The oracle computes the identical
    * expression in SQL: `CAST(round(-ln(usage/total) * 1000000) AS
    * BIGINT)` — Math.round and DuckDB round() agree (half-up) on the
    * non-negative values -ln p takes.
    */
  private def costsOf(usage: Map[String, Long]): Map[String, Long] = {
    val total = usage.values.sum.toDouble
    val scored = usage.map { case (p, c) =>
      p -> math.round(-math.log(c.toDouble / total) * CostScale)
    }
    scored ++ ('a' to 'z').map(_.toString)
      .filterNot(scored.contains).map(_ -> UnusedCharCost)
  }

  /** Viterbi forward pass over one word: returns
    * `struct(costs array<bigint>, choice array<int>)` where
    * `costs(i+1)` is the best micro-nat cost of the first `i`
    * characters and `choice(i)` the winning piece length ending at
    * position `i`. Pure integer DP — no float accumulation.
    * Ties break (cost ASC, length DESC) — array_min's struct order
    * over (cost, -length), deterministic on every engine.
    */
  private[operators] def viterbiForward(word: Column, costMap: Column, maxLen: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(typedlit(Seq(0L)).as("costs"),
        typedlit(Seq.empty[Int]).as("choice")),
      (acc, i) => {
        val cands = filter(
          transform(sequence(lit(1), lit(maxLen)), l => {
            val c = element_at(costMap, substr(word, i - l + lit(1), l))
            when(l <= i && c.isNotNull,
              struct(
                (element_at(acc.getField("costs"), i - l + lit(1)) + c).as("cost"),
                (-l).as("negl")))
          }),
          x => x.isNotNull)
        val best = array_min(cands)
        struct(
          concat(acc.getField("costs"),
            array(best.getField("cost"))).as("costs"),
          concat(acc.getField("choice"),
            array(-best.getField("negl"))).as("choice"))
      },
      acc => acc)

  /** Backtrace of [[viterbiForward]]'s choice array into the chosen
    * pieces — one aggregate of at most |word| steps walking `pos`
    * back through the winning lengths.
    */
  private[operators] def viterbiBacktrace(word: Column, fwd: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).as("pos"),
        typedlit(Seq.empty[String]).as("pieces")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val l = element_at(fwd.getField("choice"), pos)
        when(pos <= lit(0), acc)
          .otherwise(struct(
            (pos - l).as("pos"),
            concat(acc.getField("pieces"),
              array(substr(word, pos - l + lit(1), l))).as("pieces")))
      },
      acc => acc.getField("pieces"))

  /** [[trainPiecesEm]]'s final vocabulary as a DataFrame
    * `(piece string, usage bigint)` in (usage DESC, piece ASC) order —
    * the q136 result shape. Fixed-point costs make the whole loop
    * integer-exact, so this is oracle-hashable (the DuckDB oracle
    * replays the EM loop as unrolled recursive CTEs).
    */
  def trainPiecesEmDF(spark: SparkSession, docs: DataFrame, topK: Int,
                      iters: Int = 3, maxLen: Int = 6,
                      textCol: String = "text"): DataFrame = {
    import spark.implicits._
    trainPiecesEm(docs, topK, iters, maxLen, textCol).pieces
      .map(p => (p.piece, p.weight)).toDF("piece", "usage")
  }

  /** Corpus-wide greedy piece counts: `(idCol, n_words, n_pieces)`.
    * The greedy walk runs once per DISTINCT word form and joins back
    * to the per-(doc, word) occurrence counts — Zipf makes distinct
    * word forms a small fraction of occurrences, so this beats the
    * pure one-scan [[tokenCount]] projection 3.2× at sf1 (13.7 → 4.3 s
    * forced, identical totals) and widens with corpus size: the walk's
    * cost saturates at the vocabulary while occurrences keep growing.
    * Costs one keyed shuffle; the per-(doc, word) pre-aggregation
    * bounds hot-word fan-in, and docs with no in-alphabet words keep a
    * (0, 0) row via the id-spine left join (the [[NgramLm.scoreDocs]]
    * shape). [[tokenCount]] stays the right tool INSIDE a wider
    * projection (e.g. pack-by-length), where a join cannot reach.
    */
  def scoreDocs(docs: DataFrame, pieces: Seq[Piece],
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byLen = pieces.map(_.piece).groupBy(_.length)
    val perDocWord = Spread.medium(docs)
      .select(col(idCol), explode(NgramLm.words(col(textCol))).as("w"))
      .groupBy(idCol, "w").agg(count(lit(1)).as("c"))
    val seg = perDocWord.select("w").distinct()
      .select(col("w"), greedyCount(col("w"), byLen).cast("long").as("np"))
    val agg = perDocWord.join(seg, Seq("w"))
      .groupBy(idCol).agg(sum("c").as("n_words"),
        sum(col("c") * col("np")).as("n_pieces"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }
}

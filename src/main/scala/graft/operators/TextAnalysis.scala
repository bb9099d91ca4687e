package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, LangId, NormalizeText, StopwordHits}

/** Text-analysis operators for training-data pipelines over a
  * `documents(doc_id, text, lang, source, n_chars)` table.
  *
  * Everything here is built from codegen'd native functions (length /
  * regexp / split / transform / aggregate) and graftbridge kernels — no
  * UDFs — so each operator is a pure projection: zero shuffles, scales
  * linearly with input bytes, and fuses with surrounding projections in
  * one whole-stage-codegen pass.
  *
  * Case folding goes through the graftbridge kernels ([[normalize]],
  * [[langId]], [[stopwordHits]], built on
  * [[org.apache.spark.sql.graftbridge.CaseFold]]), never through
  * Spark's `lower` / `upper` / `initcap`: the first of those in a JVM
  * builds ICU's title-case table (~1.5 s, ~2.7 MB kept for the JVM's
  * life) that lowercasing never reads. The kernels' output is
  * byte-identical to Spark's `lower`.
  */
object TextAnalysis {

  /** Whitespace-delimited tokens (regexp keeps DuckDB-oracle parity). */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: letter runs, digit runs, or single non-space
    * symbols — a cheap proxy for tokenizer load.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]"), lit(0)))

  /** Matched-char count via length difference — no per-char arrays. */
  def countMatches(text: Column, regex: String): Column =
    length(text) - length(regexp_replace(text, regex, ""))

  /** Quality-score feature columns (length / punctuation / digit /
    * uppercase / whitespace ratios, mean word length). Ratios guard
    * against empty text with nullif.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val chars = length(text).cast("double")
    val toks = tokens(text)
    def ratio(n: Column) = round(n.cast("double") / nullif(chars, lit(0.0)), 4)
    Seq(
      "n_chars_obs" -> length(text).cast("long"),
      "n_tokens" -> size(toks).cast("long"),
      "mean_word_len" -> round(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          nullif(size(toks).cast("double"), lit(0.0)), 4),
      "punct_ratio" -> ratio(countMatches(text, "[!-/:-@\\[-`{-~]")),
      "digit_ratio" -> ratio(countMatches(text, "[0-9]")),
      "upper_ratio" -> ratio(countMatches(text, "[A-Z]")),
      "space_ratio" -> ratio(countMatches(text, "\\s")))
  }

  /** Gopher-style repetition/quality document gate (Rae et al. 2021,
    * arXiv:2112.11446 appendix A — the public rule set, adapted to the
    * word-level rules that are engine-portable): word count bounds,
    * mean word length bounds, alphabetic-word ratio floor, symbol
    * (#/ellipsis)-to-word ratio ceiling, and a distinct-stopword
    * floor. Every ratio is double-accumulated and rounded to 4 digits
    * BEFORE the threshold compare (the q25-proven portable form), and
    * the stopword floor counts membership of each fixed list word —
    * integer math. Pure projection: fuses with the scan, one pass.
    *
    * Returns feature columns + one 0/1 flag per rule + the combined
    * `pass` flag.
    */
  def gopherRules(text: Column, minWords: Long = 30, maxWords: Long = 100000)
      : Seq[(String, Column)] = {
    val toks = tokens(text)
    val nWords = size(toks).cast("long")
    val nD = nullif(size(toks).cast("double"), lit(0.0))
    val meanLen = round(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nD, 4)
    val alphaRatio = round(
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / nD, 4)
    val symRatio = round(
      (countMatches(text, "#") + countMatches(text, "\\.\\.\\."))
        .cast("double") / nD, 4)
    val stopHits = ColumnBridge.column(StopwordHits(ColumnBridge.expression(text),
      stopwords("en"), distinct = true)).cast("long")
    val rWords = (nWords >= minWords && nWords <= maxWords).cast("int")
    val rMean = (meanLen >= 3.0 && meanLen <= 10.0).cast("int")
    val rAlpha = (alphaRatio >= 0.8).cast("int")
    val rSym = (symRatio <= 0.1).cast("int")
    val rStop = (stopHits >= 1L).cast("int")
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanLen,
      "alpha_ratio" -> alphaRatio,
      "sym_ratio" -> symRatio,
      "stop_hits" -> stopHits,
      "r_words" -> rWords,
      "r_mean" -> rMean,
      "r_alpha" -> rAlpha,
      "r_sym" -> rSym,
      "r_stop" -> rStop,
      "pass" -> (rWords * rMean * rAlpha * rSym * rStop))
  }

  /** Tiny per-language stopword lists for the heuristic language ID.
    * Deliberately small, public-knowledge words; the mechanism (not the
    * list) is the operator.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "dans", "une"),
    "es" -> Seq("el", "los", "las", "es", "en", "que", "por", "una"),
    "pt" -> Seq("o", "os", "das", "em", "que", "uma", "para", "com"))

  /** Count of the lowercased text's tokens hitting a stopword list
    * (one fold and one split, [[StopwordHits]]).
    */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    ColumnBridge.column(StopwordHits(ColumnBridge.expression(text), words, distinct = false))

  /** Heuristic language ID: argmax over per-language stopword hits,
    * ties to the lexicographically larger language code; "und" when
    * nothing hits. Pure projection: one fold and one split for every
    * language ([[LangId]]).
    */
  def langId(text: Column): Column =
    ColumnBridge.column(LangId(ColumnBridge.expression(text), stopwords.toSeq.sortBy(_._1)))

  /** PII scrub patterns → replacement tags, applied in order. Kept to
    * portable character-class regexes (no lookarounds) so the same
    * patterns run on any engine.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+?[0-9][0-9()\\-. ]{7,}[0-9]" -> "<PHONE>",
    "[0-9]{6,}" -> "<NUM>")

  /** Redact emails / phone-like runs / long digit strings. A pure
    * codegen'd projection (chained regexp_replace) — the standard
    * pre-training PII scrub pass, linear in input bytes.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (re, tag)) => regexp_replace(acc, re, tag) }

  /** Count of PII matches removed by [[redactPii]] (tag occurrences in
    * the redacted text).
    */
  def piiCount(text: Column): Column = {
    val red = redactPii(text)
    piiPatterns.map { case (_, tag) =>
      (length(red) - length(regexp_replace(red, java.util.regex.Pattern.quote(tag), ""))) /
        lit(tag.length)
    }.reduce(_ + _).cast("long")
  }

  /** Normalized text used by dedup + fingerprints: lowercase, collapsed
    * whitespace, trimmed — `trim(regexp_replace(lower(text), '\\s+', ' '))`
    * byte for byte, in one walk ([[NormalizeText]]).
    */
  def normalize(text: Column): Column =
    ColumnBridge.column(NormalizeText(ColumnBridge.expression(text)))

  /** 64-bit fingerprint of normalized text. xxhash64 is Spark-native,
    * codegen'd, 8 bytes/doc — the right dedup key at 100 TB (vs 32-byte
    * hex sha strings).
    */
  def fingerprint(text: Column): Column = xxhash64(normalize(text))

  /** Hex md5 fingerprint (oracle-comparable across engines). */
  def fingerprintMd5(text: Column): Column = md5(normalize(text).cast("binary"))

  /** All word n-grams of `text` (duplicates kept, token order) as ONE
    * codegen'd projection — [[org.apache.spark.sql.graftbridge.WordGrams]]
    * computes every n-window join in a single byte-level pass, so the
    * gram stage fuses with the scan: no posexplode + lead-window (which
    * shuffled the exploded token stream on the doc id) and no
    * interpreted array lambdas (a lambda formulation measured ~4×
    * slower per token — and quadratic when the token array stayed an
    * inline expression; see the note below where it used to live).
    */
  def wordGramArray(text: Column, n: Int = 2): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordGrams}
    ColumnBridge.column(WordGrams(ColumnBridge.expression(text), n))
  }

  /** Sorted DISTINCT xxhash64 values of `text`'s word n-grams — the
    * decontamination join key stage as a pure projection (one 8-byte
    * hash per distinct gram, no gram strings kept, no dedup shuffle).
    */
  def wordGramHashArray(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordGramHashes}
    ColumnBridge.column(WordGramHashes(ColumnBridge.expression(text), n))
  }

  /** Corpus-wide word-bigram counts: the gram stage is the codegen'd
    * [[wordGramArray]] projection (shuffle-free), leaving ONE keyed
    * shuffle — the count aggregation with map-side partial aggs.
    */
  def wordBigramCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Spread.medium(docs).select(explode(wordGramArray(normalize(col(textCol)), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))

  /** Top-k TF-IDF terms per document: token explode → (doc, token) tf
    * → token document-frequency → score = tf · ln(N/df) → per-doc rank
    * window. Ranking uses the ROUNDED score (+token tiebreak) so the
    * ordering is reproducible across engines/libm implementations. Two
    * aggregations + one window, all keyed shuffles; the corpus size N
    * rides along as a broadcast one-row cross join (no driver action).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", k: Int = 3): DataFrame = {
    val toks = Spread.medium(docs).select(col(idCol).as("id"), explode(tokens(normalize(col(textCol)))).as("tok"))
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("dfc"))
    val n = docs.agg(count(lit(1)).as("n"))
    // dfreq is vocabulary-sized (sublinear in corpus bytes) — broadcast
    // it so the full (doc, token, tf) table never shuffles on the
    // token key, where "the"/"and" are pathologically hot. (If the
    // vocabulary ever outgrew the broadcast threshold, salt the hot
    // tokens instead — never hash-partition raw text tokens.)
    val scored = tf.join(broadcast(dfreq), Seq("tok")).crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n").cast("double") / col("dfc")), 4))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("score").desc, col("tok"))))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("tok"), col("score"))
  }

  /** BM25 retrieval scores for a fixed query-term set — the ranking
    * function a corpus-search / data-selection pipeline uses where
    * TF-IDF ([[tfidfTopTerms]]) is the per-document profile. Okapi
    * BM25 with the standard robust idf: ln(1 + (N − df + ½)/(df + ½)).
    *
    * Scale shape: ONE token explode + ONE doc-keyed aggregation
    * computes the doc length and every query-term frequency together
    * (per-term conditional sums — separate dl/tf subtrees would scan
    * and explode the corpus twice, since the differing filters defeat
    * exchange reuse); per-term document frequencies and Σdl reduce
    * from that per-doc table and broadcast back; the final score is a
    * FIXED-ORDER sum over per-term columns — a plain `sum` over a
    * (doc, term) stream accumulates doubles in partition order and is
    * not reproducible across engines or runs.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
           idCol: String = "doc_id", textCol: String = "text",
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val terms = queryTerms.distinct.sorted
    def tfCol(i: Int) = s"__tf$i"
    val toks = Spread.medium(docs).select(col(idCol).as("id"),
      explode(tokens(normalize(col(textCol)))).as("tok"))
    val perDoc = toks.groupBy("id").agg(
      count(lit(1)).as("dl"),
      terms.zipWithIndex.map { case (tm, i) =>
        sum(when(col("tok") === tm, 1L).otherwise(0L)).as(tfCol(i))
      }: _*)
    val statAggs = sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i => sum((col(tfCol(i)) > 0).cast("long")).as(s"__df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
      .crossJoin(docs.agg(count(lit(1)).as("n"))) // pruned count-only scan
    val scored = perDoc
      .where(terms.indices.map(i => col(tfCol(i)) > 0).reduceLeft(_ || _))
      .crossJoin(broadcast(stats))
    def termScore(i: Int) = {
      val tf = col(tfCol(i)); val dfc = col(s"__df$i")
      log(lit(1.0) + (col("n") - dfc + lit(0.5)) / (dfc + lit(0.5))) *
        (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl") / (col("sum_dl").cast("double") / col("n"))))
    }
    val total = terms.indices.map(termScore).reduceLeft(_ + _)
    scored.select(col("id"), round(total, 4).as("bm25"))
  }

  /** Character-level Shannon entropy per document (bits/char) plus
    * distinct-char stats — the "is this real prose or noise/binary
    * spill" quality signal (very low entropy = repeated filler, very
    * high = random bytes). H = log2(n) − (Σ c·log2 c)/n over the
    * normalized text's char frequencies.
    *
    * Scale shape: one explode + two aggregations, both keyed on the doc
    * id (char frequencies are per-doc — nothing shuffles on the char
    * key). The Σ c·log2 c accumulation is summed as DECIMAL(38,18):
    * a double sum's result depends on accumulation order (partition
    * races, engine differences) — the decimal sum is exact and
    * order-independent, so the query hashes identically across engines.
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chars = Spread.medium(docs).select(col(idCol).as("id"),
        explode(split(normalize(col(textCol)), "")).as("ch"))
      .where(col("ch") =!= "")
    chars.groupBy("id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum("c").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum((col("c") * log2(col("c"))).cast("decimal(38,18)")).as("__sum_clog"))
      .select(col("id"), col("n_chars"), col("n_distinct_chars"),
        round(log2(col("n_chars").cast("double")) -
          col("__sum_clog").cast("double") / col("n_chars"), 4).as("entropy_bits"))
  }

  /** Corpus vocabulary builder: per-token total term count and
    * document frequency over normalized whitespace tokens, thresholded
    * at `minDocFreq` (drops hapax noise / OCR junk) and cut to the
    * global `topK` by (term_count desc, token) — the word-frequency
    * table tokenizer training and stopword selection start from.
    *
    * Scale shape: two hash aggregations — (token, doc) then token —
    * with map-side partial aggregation at both (the first bounds any
    * token's fan-in by its doc frequency, so a stop-word's billions of
    * occurrences pre-combine per partition instead of converging on
    * one reducer); the global top-K plans as TakeOrdered (distributed
    * heap-k), never a single-partition full sort. The (count desc,
    * token) key is a total order, so the cut is deterministic.
    */
  def vocab(
      docs: DataFrame,
      topK: Int = 100,
      minDocFreq: Long = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Spread.medium(docs)
      .select(col(idCol).as("_id"),
        explode(tokens(normalize(col(textCol)))).as("tok"))
      .groupBy(col("tok"), col("_id"))
      .agg(count(lit(1)).as("_tf"))
      .groupBy(col("tok"))
      .agg(sum(col("_tf")).as("term_count"), count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") >= minDocFreq)
      .orderBy(col("term_count").desc, col("tok"))
      .limit(topK)

  // (a lambda-based wordNgrams used to live here — deleted in round 15:
  // its slice(toks, i+1, n) re-evaluated the inline tokens(normalize())
  // once PER ELEMENT (no CSE inside transform lambdas), O(words²·regex)
  // per document — 114 s forced at sf1 vs ~1 s for the codegen'd
  // [[wordGramArray]] every production path already uses)

  /** Repetition signals (Gopher-style quality filters): per-document
    * duplicate-token ratio and the fraction of all bigrams taken by the
    * single most frequent bigram — high values mark boilerplate /
    * keyword-stuffed documents a pretraining filter drops.
    *
    * Token-level stats are a pure projection on the token array; the
    * top-bigram fraction explodes the codegen'd [[wordGramArray]]
    * projection and aggregates per document (keyed shuffles on the doc
    * id only — bigram strings never shuffle corpus-wide, and the
    * former lead-window shuffle is gone).
    */
  def repetitionSignals(docs0: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docs = Spread.medium(docs0)
    val toks = tokens(normalize(col(textCol)))
    val proj = docs.select(col(idCol).as("id"),
      size(toks).cast("long").as("n_tokens"),
      round(lit(1.0) - size(array_distinct(toks)).cast("double") /
        nullif(size(toks).cast("double"), lit(0.0)), 4).as("dup_token_ratio"))
    val bi = docs
      .select(col(idCol).as("id"),
        explode(wordGramArray(normalize(col(textCol)), 2)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(
        round(max("cnt").cast("double") / sum("cnt"), 4).as("top_bigram_frac"))
    proj.join(bi, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"), col("dup_token_ratio"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Distinct 64-bit hashes of the k-char shingles of normalized text —
    * the MinHash input. Computed by hashing substrings directly inside
    * one projection: no explode, no shingle strings kept around.
    */
  def shingleHashes(text: Column, k: Int = 5): Column = {
    val t = normalize(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
        i => xxhash64(t.substr(i, lit(k)))))
  }
}

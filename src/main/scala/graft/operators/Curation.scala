package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus curation for LLM training data — the composed filter a
  * pretraining pipeline runs over raw documents: quality gates
  * (token-count bounds), language allow-list, then exact-duplicate
  * collapse keeping the smallest id per normalized-text fingerprint.
  *
  * Shape at scale: features + language ID + fingerprint are ONE
  * codegen'd projection fused with the scan (no UDFs); the gate and
  * the dedup keeper are one `min_by(struct(...), when(gate, doc_id))`
  * hash aggregation on the fingerprint — ONE evaluation of the text
  * kernels, ONE shuffle, and map-side partial aggregation, so a
  * mass-duplicated boilerplate fingerprint collapses to one row per
  * map task instead of funneling every duplicate to a single reducer
  * (the skew a row_number window would create, and exactly the
  * corpus shape — template-heavy crawl data — this operator targets).
  * The earlier groupBy+semi-join formulation evaluated the heavy
  * projection twice. Near-dup removal composes on top via
  * [[Dedup.minhashLsh]] output ids when the corpus warrants it.
  */
object Curation {

  val defaultLangs: Seq[String] = TextAnalysis.stopwords.keys.toSeq.sorted

  def curate(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Long = 20,
      maxTokens: Long = 1000000,
      langs: Seq[String] = defaultLangs): DataFrame = {
    val t = col(textCol)
    // Spread: tokenCount+langId+md5 are the corpus pass's whole cost —
    // serial on a single-split scan (opt guide §2.5; see [[Spread]])
    val featured = Spread(docs).select(
      col(idCol).as("doc_id"),
      TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
      TextAnalysis.langId(t).as("lang_pred"),
      TextAnalysis.fingerprintMd5(t).as("fp"))
    // The gate lives INSIDE the keeper aggregate: min_by ignores null
    // orderings, so each fingerprint keeps its minimal PASSING id and a
    // fingerprint with no passing doc keeps null. A `where` on the
    // features would be pushed below the Spread exchange and run the
    // kernels twice, once on the unsplit scan (see [[Spread]]).
    val gate = col("n_tokens").between(minTokens, maxTokens) &&
      col("lang_pred").isin(langs: _*)
    featured
      .groupBy(col("fp"))
      .agg(min_by(struct(col("doc_id"), col("n_tokens"), col("lang_pred")),
        when(gate, col("doc_id"))).as("__keep"))
      .where(col("__keep").isNotNull)
      .select(col("__keep.doc_id").as("doc_id"),
        col("__keep.n_tokens").as("n_tokens"),
        col("__keep.lang_pred").as("lang_pred"))
  }

  /** Benchmark decontamination: flag training documents that share any
    * word n-gram with an evaluation set (the standard n-gram-overlap
    * decontamination a pretraining pipeline runs before training).
    * Returns one row per contaminated training doc with the number of
    * distinct contaminated n-grams and of distinct eval docs hit.
    *
    * Shape at scale: the eval side is benchmarks — thousands of docs,
    * not billions — so its distinct (gram, eval_id) table is BROADCAST
    * and the training corpus joins map-side: the n-gram stream of the
    * 100 TB side never shuffles. Per-doc distinct grams keep the join
    * input at one row per (doc, gram), and the final count-distinct
    * aggregation is keyed on the training doc id.
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8): DataFrame =
    gramHashes(train, idCol, textCol, n)
      .join(broadcast(gramHashes(eval, idCol, textCol, n).withColumnRenamed("id", "eval_id")),
        Seq("gh"))
      .groupBy(col("id").as(idCol))
      .agg(countDistinct(col("gh")).as("n_bad_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))

  /** Scored decontamination report: per TRAIN doc, how much of it
    * overlaps the eval suite — distinct-gram total, matched count, and
    * the overlap fraction — instead of [[decontaminate]]'s
    * matched-only flag. The fraction is what a contamination POLICY
    * thresholds on (drop at ≥X%, review below), and the report is the
    * audit artifact a release ships with.
    *
    * Same 100 TB shape as [[decontaminate]]: the train side is one
    * scan-fused gram-hash projection + explode, the eval gram set
    * broadcasts (swap in the bloom variant upstream when the suite
    * outgrows a broadcast), and the only shuffle is the final
    * groupBy(id) — a LEFT join keeps unmatched grams so total and
    * matched counts come out of ONE aggregation, no second pass.
    */
  def contaminationScore(
      train: DataFrame,
      eval: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8): DataFrame =
    gramHashes(train, idCol, textCol, n)
      .join(broadcast(gramHashes(eval, idCol, textCol, n)
          .select(col("gh")).distinct().withColumn("_hit", lit(1))),
        Seq("gh"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_matched"))
      .withColumn("overlap",
        round(col("n_matched").cast("double") / col("n_grams"), 6))

  /** (id, xxhash64(n-gram)) distinct per doc — ONE codegen'd
    * projection ([[TextAnalysis.wordGramHashArray]] computes the
    * sorted distinct gram-hash set in a single byte-level pass) plus
    * an explode: no lead-window shuffle of the exploded token stream,
    * no dropDuplicates aggregation — the gram stage fuses with the
    * scan, so the 100 TB side of a decontamination join is a map-only
    * pass until the (broadcast) join itself. Joining on the 64-bit
    * hash instead of the string admits a collision only at
    * p ≈ |grams|²/2^65 — immaterial below ~10^8 distinct grams per doc
    * pair comparison.
    */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String, n: Int) =
    Spread.medium(df).select(col(idCol).as("id"),
      explode(TextAnalysis.wordGramHashArray(
        TextAnalysis.normalize(col(textCol)), n)).as("gh"))

  /** [[decontaminate]]'s 100 TB-shape variant: the eval side becomes a
    * BLOOM FILTER instead of a broadcast hash table — ~10 bits per
    * eval gram at 1% fpp vs 8+ bytes per key for the exact join's
    * broadcast, which is the difference between shipping ~125 MB and
    * ~1 GB per executor once the eval suite reaches 10^8 grams. The
    * trade is one-sided: NO false negatives (every truly contaminated
    * doc is flagged — the property decontamination must not lose),
    * false flags at ≤ fpp per clean gram. Returns (id, n_flagged
    * grams); treat flagged docs as drop candidates, or pipe them into
    * the exact [[decontaminate]] for confirmation at a fraction of the
    * corpus.
    *
    * `shards` (0 = auto): eval suites past the session's
    * runtime-bloom caps build SHARDED — one cap-compliant filter per
    * `pmod(gh, k)` bucket (auto picks the smallest power-of-two k that
    * fits; explicit values force it). Same total bits, same one-sided
    * error; the probe dispatches on the shard of each gram hash.
    */
  def decontaminateBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      fpp: Double = 0.01,
      shards: Int = 0): DataFrame = {
    import org.apache.spark.sql.graftbridge.BloomFunctions
    val evalG = gramHashes(eval, idCol, textCol, n)
    // sizing needs the distinct-gram count — one aggregation over the
    // (small) eval side; the corpus pays nothing for it
    val nGrams = evalG.count().max(1L)
    val k = if (shards > 0) shards else autoShards(train.sparkSession, nGrams, fpp)
    if (k <= 1) {
      val bloom = evalG.agg(
        BloomFunctions.bloomAgg(col("gh"), nGrams, fpp).as("bf")).head().getAs[Array[Byte]](0)
      gramHashes(train, idCol, textCol, n)
        .where(BloomFunctions.mightContain(lit(bloom), col("gh")))
        .groupBy(col("id").as(idCol))
        .agg(count(lit(1)).as("n_flagged_grams"))
    } else {
      // SHARDED build for eval suites past the session's runtime-bloom
      // caps (Spark SILENTLY degrades fpp past them — BloomFunctions
      // refuses instead): shard grams by pmod(gh, k), build one
      // cap-compliant filter per shard in a SINGLE aggregation (each
      // executor partial holds k small filters; total serialized bytes
      // equal the unsharded sizing), probe through the matching shard.
      // xxhash64 grams spread uniformly, so each shard sees ~n/k items;
      // the 1.2 headroom keeps a shard's realized fpp at the target
      // even at ±20% imbalance, and the 64-item floor keeps tiny shards
      // out of the saturation regime (a filter sized for ~1 item gets
      // ~44 hash functions — a couple of extra items then sets nearly
      // every bit and the shard flags everything). One-sided error is
      // preserved per shard: no false negatives, composition with the
      // exact confirm stage still equals the exact answer.
      val perShard = perShardSizing(nGrams, k)
      val built = evalG.groupBy(pmod(col("gh"), lit(k.toLong)).as("shard"))
        .agg(BloomFunctions.bloomAgg(col("gh"), perShard, fpp).as("bf"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      // a shard with NO eval grams has no filter (null blob): nothing
      // can match it. ONE dispatch expression holds all k blobs — a
      // per-shard when() chain made the plan/codegen O(k) deep (ADVICE
      // r16; ~1024-deep CASE at the shard bound), where this is O(1)
      // with each blob deserialized once per executor.
      val blobs: Seq[Array[Byte]] =
        (0L until k.toLong).map(s => built.getOrElse(s, null))
      val probe = BloomFunctions.shardedMightContain(blobs,
        pmod(col("gh"), lit(k.toLong)), col("gh"))
      gramHashes(train, idCol, textCol, n)
        .where(probe)
        .groupBy(col("id").as(idCol))
        .agg(count(lit(1)).as("n_flagged_grams"))
    }
  }

  /** Smallest shard count whose per-shard sizing fits the session's
    * runtime-bloom-filter caps (with the build's 1.2 headroom), so the
    * default call path NEVER hits Spark's silent clamp: 1 below the
    * caps (identical to the historical single-filter build), growing
    * only when the eval suite genuinely exceeds them. Bounded at 1024
    * shards — past that (≳4·10^9 grams under default caps) raise the
    * caps instead of deepening the probe's shard dispatch.
    */
  /** Per-shard expectedItems: mean load + 20% imbalance headroom,
    * floored at 64 (see the saturation note in the sharded build). */
  private def perShardSizing(nGrams: Long, k: Int): Long =
    ((nGrams / k + 1) * 6 / 5).max(64L)

  private def autoShards(spark: org.apache.spark.sql.SparkSession,
                         nGrams: Long, fpp: Double): Int = {
    import org.apache.spark.sql.graftbridge.BloomFunctions
    val conf = spark.sessionState.conf
    val maxItems = conf.getConf(
      org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits = conf.getConf(
      org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    def fits(k: Int): Boolean = {
      val perShard = perShardSizing(nGrams, k)
      perShard <= maxItems && BloomFunctions.numBits(perShard, fpp) <= maxBits
    }
    var k = 1
    while (!fits(k) && k < 1024) k *= 2
    require(fits(k),
      s"decontaminateBloom: $nGrams eval grams at fpp=$fpp cannot fit the session's " +
        "runtime-bloom-filter caps even at 1024 shards — raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/.maxNumBits")
    k
  }

  /** Passage-level exact dedup: split each document into fixed-size
    * token chunks and collapse identical chunks across the corpus
    * (the chunk-granularity pass pipelines run after doc-level dedup —
    * boilerplate headers/footers repeat across otherwise-distinct
    * docs). Returns duplicated chunks only: (chunk_hash, n_occurrences,
    * first_doc).
    *
    * One explode + one hash aggregation on the 16-byte chunk hash;
    * map-side partial aggregation applies, chunk text never shuffles.
    */
  def chunkDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkTokens: Int = 20): DataFrame = {
    // _toks is MATERIALIZED by its own projection before the lambda:
    // slice(toks, i·k+1, …) with an inline tokens(normalize(text))
    // would re-run the regex split once per chunk element (Spark does
    // not CSE inside transform lambdas) — O(chunks·textlen) per doc
    val chunks = transform(
      sequence(lit(0), ((size(col("_toks")) - 1) / chunkTokens).cast("int")),
      i => concat_ws(" ", slice(col("_toks"), i * chunkTokens + 1, lit(chunkTokens))))
    Spread.medium(docs).select(col(idCol).as("id"),
        TextAnalysis.tokens(TextAnalysis.normalize(col(textCol))).as("_toks"))
      .select(col("id"), explode(chunks).as("chunk"))
      .where(col("chunk") =!= "")
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("id")).as("first_doc"))
      .where(col("n_occurrences") > 1)
  }

  /** CCNet/RefinedWeb-style BOILERPLATE REMOVAL: segment each document
    * into fixed `chunkTokens`-word windows, count each segment's
    * DOCUMENT frequency across the corpus, and strip the segments
    * appearing in more than `maxDocFreq` distinct documents — the
    * navigation menus, cookie banners and license footers that repeat
    * across otherwise-distinct pages. Returns one row per non-empty
    * document: (id, clean_text = surviving segments in original order,
    * n_removed). Reference scope: drune has no text curation; this is
    * the training-data line-dedup pass (ccnet's dedup + RefinedWeb's
    * line-wise filter re-expressed over fixed windows).
    *
    * Scale shape: one explode + one hash aggregation over 8-byte
    * segment hashes finds the boilerplate SET — which is tiny by
    * construction (only segments crossing the threshold) — and
    * BROADCASTS it back against the exploded stream as a left join;
    * reassembly shuffles each doc's surviving segments once
    * (order-restored via array_sort on (pos, seg) structs). Segment
    * text reaches the docfreq aggregation as hashes only.
    */
  def removeBoilerplate(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkTokens: Int = 10,
      maxDocFreq: Int = 2): DataFrame = {
    require(chunkTokens >= 1 && maxDocFreq >= 1,
      "removeBoilerplate needs chunkTokens >= 1 and maxDocFreq >= 1")
    // _toks materialized before the lambda — same re-evaluation trap
    // as chunkDedup above (slice over an inline tokens() inside the
    // transform would re-split the text once per segment)
    val segs = transform(
      sequence(lit(0), ((size(col("_toks")) - 1) / chunkTokens).cast("int")),
      i => concat_ws(" ", slice(col("_toks"), i * chunkTokens + 1, lit(chunkTokens))))
    val exploded = Spread.medium(docs)
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(TextAnalysis.normalize(col(textCol))).as("_toks"))
      .select(col("id"), posexplode(segs).as(Seq("pos", "seg")))
      .where(col("seg") =!= "")
      .withColumn("h", xxhash64(col("seg")))
    val boiler = exploded.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") > maxDocFreq)
      .select(col("h"), lit(true).as("__boiler"))
    exploded.join(broadcast(boiler), Seq("h"), "left")
      .groupBy(col("id").as(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("pos"), col("seg"))))),
          s => s.getField("seg")), " ").as("clean_text"),
        sum(when(col("__boiler").isNotNull, 1L).otherwise(0L)).as("n_removed"))
  }

  /** Deterministic hash-based stratified sampling — the training-mix
    * downsampler: each language keeps `rates(lang)` percent of its
    * documents, selected by a multiplicative hash of the id (Knuth's
    * 2654435761 mod 2^32, high bits → bucket 0–99), so the sample is
    * reproducible across runs and engines with NO rand() and no
    * per-group shuffling: the operator is a pure filter that fuses with
    * the scan and preserves partitioning.
    *
    * Output contract: the input columns PLUS `bucket` (the 0–99 hash
    * bucket the row landed in) — kept deliberately as the sampling
    * diagnostic/audit column. Fails fast if the input already has a
    * `bucket` column rather than silently overwriting it.
    */
  def stratifiedSample(
      docs: DataFrame,
      rates: Map[String, Int],
      idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    require(!docs.columns.map(_.toLowerCase).contains("bucket"),
      "input already has a 'bucket' column — rename it before sampling")
    // id folded below 2^20 BEFORE the multiply so a·id stays < 2^52:
    // no long overflow at any id scale (ANSI-safe), same bucket on any
    // engine. High bits of the 32-bit product → bucket (low bits of a
    // multiplicative hash are the weak ones).
    val bucket = ((pmod(col(idCol), lit(1000003L)) * lit(2654435761L))
      .mod(lit(4294967296L)) / lit(42949673L)).cast("long")
    val rate = rates.foldLeft(lit(0)) { case (acc, (lg, r)) =>
      when(col(langCol) === lg, lit(r)).otherwise(acc)
    }
    docs.withColumn("bucket", bucket).where(col("bucket") < rate)
  }

  /** Domain-mixture resampling: thin each domain so the kept corpus
    * matches a target mixture (the data-mixing step a pretraining
    * pipeline runs after curation — DoReMi-style weights executed as a
    * deterministic filter). `targets` are integer percents per domain
    * value (e.g. en→40, de→15, …); domains absent from `targets` are
    * dropped entirely.
    *
    * The plan: from the per-domain counts n_d (one k-row aggregate —
    * k = #domains, a bounded probe set), the largest total S
    * achievable with the exact target proportions WITHOUT upsampling
    * is min_d floor(n_d·100/w_d); each domain's keep rate is then
    * ceil(100·target_d/n_d) with target_d = floor(w_d·S/100). All
    * integer math, so the whole plan is engine-portable; the actual
    * thinning is [[stratifiedSample]]'s multiplicative id hash — a
    * pure filter that preserves input partitioning, no per-domain
    * sort or window. Counts land within ±1 bucket-percent of the
    * target (hash thinning is approximate by design — the
    * 100 TB-shaped trade, same as [[graft.operators.Clustering.balancedSample]]).
    *
    * Output: (idCol, domainCol, bucket) for the kept rows.
    */
  def mixtureSample(
      docs: DataFrame,
      targets: Seq[(String, Long)],
      idCol: String = "doc_id",
      domainCol: String = "lang"): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty positive integer weights")
    val counts = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targets.filter { case (d, _) => counts.getOrElse(d, 0L) > 0L }
    require(present.nonEmpty, s"no target domain present in column $domainCol")
    // largest total with exact proportions and no upsampling
    val s = present.map { case (d, w) => counts(d) * 100L / w }.min
    val rateOf = present.map { case (d, w) =>
      val target = w * s / 100L
      d -> math.min(100L, (100L * target + counts(d) - 1L) / counts(d))
    }
    val rate = rateOf.foldLeft(lit(0L)) { case (acc, (d, r)) =>
      when(col(domainCol) === d, lit(r)).otherwise(acc)
    }
    val bucket = ((pmod(col(idCol), lit(1000003L)) * lit(2654435761L))
      .mod(lit(4294967296L)) / lit(42949673L)).cast("long")
    docs.select(col(idCol), col(domainCol), bucket.as("bucket"))
      .where(col("bucket") < rate)
  }

  /** Full corpus curation including NEAR-duplicate removal: the exact
    * [[curate]] pass first (quality gate + language filter + exact-dup
    * keeper), then MinHash/LSH near-dup pairs are resolved to
    * connected components ([[Dedup.nearDupGroups]]) and only each
    * group's minimal id survives. The complete pretraining-corpus
    * filter: every stage is bucketed/keyed — no all-pairs step at any
    * scale.
    *
    * The curate result is PERSISTED for the composition (it feeds the
    * LSH corpus filter, and the final anti-join) — without it the
    * text-kernel projection re-runs once per consumer, which at 100 TB
    * is two extra full corpus passes. Released before returning
    * (materialize-then-unpersist, the repo-wide operator contract); the
    * returned result is eagerly materialized like the other Dedup
    * operators'.
    */
  def curateNearDup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Long = 20,
      maxTokens: Long = 1000000,
      langs: Seq[String] = defaultLangs,
      threshold: Double = 0.8,
      pairsOf: DataFrame => DataFrame = null): DataFrame = {
    val kept = curate(docs, idCol, textCol, minTokens, maxTokens, langs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keptDocs = docs.join(kept.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    // pairsOf swaps the near-dup pair source (default: MinHash LSH at
    // `threshold`) — e.g. an exact all-pairs Jaccard verifier, which
    // makes the whole curate→group→drop pipeline oracle-checkable. The
    // returned frame must be materialized (checkpoint or persisted)
    // like minhashLsh's, and carry (id_a, id_b).
    val pairs =
      if (pairsOf != null) pairsOf(keptDocs)
      else Dedup.minhashLsh(keptDocs, idCol, textCol, threshold = threshold)
    val groups = Dedup.nearDupGroups(pairs) // eager — pairs releasable now
    Dedup.releaseCheckpoint(pairs)
    val losers = groups.where(col("doc_id") =!= col("group_id")).select(col("doc_id"))
    val out = Dedup.materializeAndRelease(kept.join(losers, Seq("doc_id"), "left_anti"), kept)
    Dedup.releaseCheckpoint(groups)
    out
  }

  /** Temperature-rebalanced language mix (the UNIMAX/mC4-style
    * resampling a multilingual pretraining run uses): sampling weight
    * p_l ∝ (tokens_l)^α, α<1 up-weighting low-resource languages.
    * Returns per-language doc/token counts and the normalized weight.
    *
    * One aggregation keyed on language (token counts sum exactly as
    * longs); the denominator Σ(tokens_l)^α is a FIXED-ORDER sum over
    * the declared language columns — pow() doubles summed in row order
    * would differ across engines/partitionings.
    */
  def languageMix(
      docs: DataFrame,
      langs: Seq[String],
      alpha: Double = 0.3,
      langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    require(langs.nonEmpty, "languageMix needs at least one language")
    val ls = langs.distinct.sorted // a duplicated entry would double-count in the denominator
    val stats = Spread.medium(docs).where(col(langCol).isin(ls: _*))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val denomTerms = ls.map { lg =>
      pow(coalesce(max(when(col(langCol) === lg, col("n_tokens"))), lit(0L)).cast("double"), lit(alpha))
    }
    val denom = stats.agg(denomTerms.reduceLeft(_ + _).as("__denom"))
    stats.crossJoin(broadcast(denom))
      .select(col(langCol), col("n_docs"), col("n_tokens"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("__denom"), 6).as("sample_weight"))
  }

  /** Token-budget selection: keep documents per group (language /
    * source), in deterministic id order, until the group's token
    * budget is exhausted — how a training mix is assembled to a target
    * size. One window (running token sum partitioned by group) — a
    * single shuffle keyed on the group column; the cumulative sum is
    * computed stream-wise within each partition, no second pass.
    */
  def tokenBudget(
      docs: DataFrame,
      budgetPerGroup: Long,
      groupCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(idCol)
    Spread.medium(docs).select(col(idCol), col(groupCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .where(col("cum_tokens") <= budgetPerGroup)
  }

  /** Sliding-window chunking with overlap: split each document into
    * `windowTokens`-token windows advancing by `strideTokens` (the
    * context-window prep for RAG indexing / long-doc training — the
    * overlap keeps every `windowTokens − strideTokens`-token span
    * intact in at least one chunk, so no sentence is lost to a chunk
    * boundary). Tokens are [[TextAnalysis.normalize]]d whitespace
    * tokens — the same tokenization as [[chunkDedup]], so overlap
    * chunks feed the dedup/boilerplate passes directly.
    *
    * Windows per doc: 1 when n ≤ W, else ⌈(n−W)/S⌉+1 — the last
    * window may be short but every token is covered; an empty doc
    * yields one empty chunk (total function, callers filter). Shape
    * at scale: a single codegen'd projection + explode fused with the
    * scan — no shuffle, no window, no UDF; output size is n/S tokens
    * per input token, the inherent cost of overlap.
    *
    * Output: (idCol, chunk_idx, chunk).
    */
  def chunkOverlap(
      docs: DataFrame,
      windowTokens: Int = 20,
      strideTokens: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1: $windowTokens")
    require(strideTokens >= 1 && strideTokens <= windowTokens,
      s"strideTokens must be in [1, windowTokens]: $strideTokens")
    val toks = TextAnalysis.tokens(TextAnalysis.normalize(col(textCol)))
    Spread.medium(docs).select(col(idCol), toks.as("_toks"))
      .select(col(idCol),
        // ceil((n-W)/S)+1 in pure int math (n>W in that branch, so
        // the truncating cast IS floor) — engine-portable
        when(size(col("_toks")) <= windowTokens, lit(1))
          .otherwise(((size(col("_toks")) - windowTokens + strideTokens - 1)
            / strideTokens).cast("int") + 1).as("_nc"),
        col("_toks"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), col("_nc") - 1),
        i => concat_ws(" ",
          slice(col("_toks"), i * strideTokens + 1, lit(windowTokens))))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))
  }

  /** Deterministic global shuffle for training export: assign every
    * document a `shard` and a within-shard `sort_key` from the same
    * portable multiplicative hash family as [[leakageSplit]]'s bucket
    * (pure integer math — reproducible across engines and runs, no
    * RNG state). A trainer export then writes
    * `repartition(col("shard")).sortWithinPartitions("sort_key", id)`
    * — globally pseudo-random order, byte-identical on every rerun,
    * with no global sort and no single-partition window anywhere (the
    * formulation a `orderBy(rand())` export gets wrong twice: it's
    * nondeterministic AND a full sort).
    *
    * One codegen'd projection fused with the scan; all input columns
    * survive.
    */
  def shardAssign(
      docs: DataFrame,
      nShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val h = (pmod(col(idCol), lit(1000003L)) * lit(2654435761L)).mod(lit(4294967296L))
    docs.withColumn("sort_key", h.cast("long"))
      .withColumn("shard", pmod(col("sort_key"), lit(nShards.toLong)).cast("int"))
  }

  /** Leakage-safe train/eval split: assign every document to a split
    * such that ALL members of a duplicate / near-duplicate group land
    * on the SAME side — the contamination guard a pretraining pipeline
    * needs before carving out a held-out set (a near-copy of an eval
    * document sitting in train silently inflates the benchmark;
    * splitting doc-wise cannot prevent it, only group-wise can).
    *
    * `groups` is (idCol, group_id) from [[Dedup.nearDupGroups]] — or
    * any grouping with the min-id-label invariant; docs absent from it
    * (no duplicate anywhere) are their own singleton group. The split
    * decision hashes the GROUP id, never the doc id, so co-members
    * inherit one verdict by construction — no straddle is possible,
    * not just unlikely. The hash is the repo's engine-portable
    * multiplicative bucket ([[stratifiedSample]]'s formula): bucket
    * 0..99 from the group id, `bucket < trainPct` → train.
    *
    * Shape at scale: one left join docs⟕groups on the id. The groups
    * side is the LSH-bounded paired-doc set — orders of magnitude
    * smaller than the corpus on real crawl data — so AQE broadcasts
    * it; everything after the join is a pure projection (no shuffle,
    * no window). Group-size bias is inherent and documented: the
    * doc-level train fraction drifts from `trainPct` by the mass of
    * large groups landing on one side (the price of zero leakage).
    *
    * Output: (idCol, group_id — the doc's own id for singletons,
    * bucket, split).
    */
  def leakageSplit(
      docs: DataFrame,
      groups: DataFrame,
      trainPct: Int = 90,
      idCol: String = "doc_id"): DataFrame = {
    require(trainPct >= 1 && trainPct <= 99,
      s"trainPct must be in [1, 99]: $trainPct")
    val gkey = coalesce(col("group_id"), col(idCol))
    val bucket = ((pmod(gkey, lit(1000003L)) * lit(2654435761L))
      .mod(lit(4294967296L)) / lit(42949673L)).cast("long")
    docs.select(col(idCol))
      .join(groups.select(col(idCol), col("group_id")), Seq(idCol), "left")
      .select(col(idCol), gkey.as("group_id"), bucket.as("bucket"),
        when(bucket < trainPct, lit("train")).otherwise(lit("eval"))
          .as("split"))
  }
}

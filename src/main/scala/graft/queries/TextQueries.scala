package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Clustering, Curation, Dedup, IncrementalDedup, Packing, Similarity, TextAnalysis => TA}

/** Text analysis, deduplication and similarity-search queries
  * (SURVEY.md §2, q24–q35) over the `documents` and `embeddings`
  * tables. Oracles exist where DuckDB can express the same semantics;
  * LSH-based operators are rows-only checked (driver records the
  * weaker check) and covered by ScalaTest instead.
  */
object TextQueries {

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  /** Session-scoped at-ingest artifacts (signature stores, ANN
    * indexes, coded corpora): built once per (data dir, kind) by
    * `init` into a fresh scratch root, reused by every later call —
    * the single-JVM stand-in for "the corpus pays this when it lands,
    * queries never do", the same cost model q44's persisted quantizer
    * follows. computeIfAbsent makes concurrent first calls safe.
    */
  private val ingestArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ingestArtifact(key: String, prefix: String)(init: String => Unit): String =
    ingestArtifacts.computeIfAbsent(key, _ => {
      val r = RelationalQueries.scratchRoot(prefix)
      init(r)
      r
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q24: token counting — whitespace + BPE-ish subword proxy.
    "q24_tokencount" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")),

    // q25: quality-score features, all in one projection.
    "q25_textquality" -> ((s, dir) => {
      val feats = TA.qualityFeatures(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }),

    // q104: Gopher-rules composite quality gate — word-count bounds,
    // mean-word-length bounds, alpha-word floor, symbol ceiling,
    // distinct-stopword floor; features + per-rule flags + pass, all
    // in one scan-fused projection. Oracle recomputes every rule from
    // first principles.
    "q104_gopher" -> ((s, dir) => {
      val feats = TA.gopherRules(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }),

    // q26: heuristic language ID — per-language stopword hits + argmax.
    "q26_langid" -> ((s, dir) => {
      val hits = TA.stopwords.toSeq.sortBy(_._1).map { case (lg, ws) =>
        TA.stopwordHits(col("text"), ws).as(s"${lg}_hits")
      }
      t(s, dir, "documents")
        .select((col("doc_id") +: hits) :+ TA.langId(col("text")).as("lang_pred"): _*)
        .orderBy("doc_id")
    }),

    // q27: md5 document fingerprint of normalized text.
    "q27_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TA.fingerprintMd5(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // q28: top-50 word bigrams — posexplode + lead window (codegen'd),
    // then one count shuffle and a bounded top-k.
    "q28_ngrams" -> ((s, dir) =>
      TA.wordBigramCounts(t(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(50)),

    // q37: top-3 TF-IDF terms per document.
    "q37_tfidf" -> ((s, dir) =>
      TA.tfidfTopTerms(t(s, dir, "documents"), k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")),

    // q39: composed corpus curation — quality gate + language filter +
    // exact-dedup keeper as one operator (the pretraining-data filter).
    "q39_curate" -> ((s, dir) =>
      Curation.curate(t(s, dir, "documents"), minTokens = 20)
        .orderBy("doc_id")),

    // q29: exact dedup on normalized-text fingerprint (md5 variant for
    // oracle parity; the engine path uses 8-byte xxhash64).
    "q29_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(TA.fingerprintMd5(col("text")).as("fingerprint"))
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("dup_count"))
        .orderBy("keeper_id")),

    // q113: quality-aware exact dedup — keep the LONGEST raw copy per
    // duplicate group (ties → smallest id), not the smallest id. One
    // max_by hash aggregation; no window sort, no join-back.
    "q113_dedup_best" -> ((s, dir) =>
      Dedup.exactBest(t(s, dir, "documents"), score = col("n_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("dup_count"))
        .orderBy("doc_id")),

    // q119: CROSS-DOC DUPLICATED-SUBSTRING SPANS (round 13) — exact
    // substring dedup's scoring signal: per document, the characters
    // covered by length-50 windows occurring verbatim in >= 2 distinct
    // documents (window explode → (gram, doc)-bounded distinct-doc
    // count → semi join → per-doc interval merge via one running-max
    // window pass — never per-position rows). Exact (gram-keyed) mode
    // under the oracle; `hashed = true` is the 8-byte-key 100 TB
    // shuffle shape. DuckDB reproduces the closed form with
    // generate_series + substr + the same interval-merge window.
    "q119_substring_dup" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), n = 50)
        .orderBy("doc_id")),

    // q120: SPAN-LEVEL DEDUP TRANSFORM (round 13) — q119's companion
    // that APPLIES the cut: characters covered by cross-doc duplicated
    // 50-windows are removed and the survivors re-concatenate in order
    // (gaps-and-islands in window functions → one interval array per
    // doc → codegen'd higher-order `aggregate` fold slicing the text;
    // no UDF, no per-position rows). The oracle rebuilds the same
    // strings in DuckDB (string_agg over the interval gaps) — a hash
    // over the full cleaned TEXT, so one mis-sliced byte anywhere
    // poisons the row.
    "q120_span_dedup" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), n = 50)
        .orderBy("doc_id")),

    // q30: MinHash + LSH banding near-dup candidate pairs (rows-only:
    // the permutation family is not SQL-portable).
    // Band geometry stays at the tuned 16×8 default (LSH threshold
    // ≈0.71): overriding to 32×4 (t≈0.42) blew candidate volume up
    // ~1000× on this template-heavy corpus in round 1.
    "q30_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), threshold = 0.8)
        .orderBy("id_a", "id_b")),

    // q31: SimHash near-dup pairs via 16-bit band buckets + hamming.
    "q31_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 8)
        .orderBy("id_a", "id_b")),

    // q32: exact n-gram Jaccard verification of RAW LSH candidates.
    // Measured at sf0.1 (round 4): the former est≥0.5 signature
    // prefilter kept ALL 625k candidate pairs (the 16×8 band geometry
    // already selects at t≈0.71, so every banded pair estimates ≥0.5) —
    // it cost two signature joins and pruned nothing. Raw candidates
    // (2.4 s vs 4.4 s for the filtered set) feed the merge-scan
    // verifier directly and cannot drop a pair whose exact Jaccard
    // passes. jaccardVerify persists the pair set once (candIds probe +
    // verify join) and releases it before returning.
    "q32_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val candidates = Dedup.minhashCandidatePairs(docs)
      Dedup.jaccardVerify(docs, candidates, threshold = 0.7)
        .orderBy("id_a", "id_b")
    }),

    // q33: embedding-cosine near-dup pairs within hyperplane buckets.
    "q33_embed_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDup(t(s, dir, "embeddings"), dim = 64,
        threshold = 0.30, planes = 6)
        .orderBy("id_a", "id_b")),

    // q85: q33's near-dup operator in EXACT mode — planes=0 puts the
    // whole (id-capped) corpus into ONE bucket, so the LSH bucketing,
    // skew-capped pair generation and cosine verify must reproduce the
    // exact all-pairs answer, which IS SQL-expressible: the DuckDB
    // oracle computes every vec_id<1024 pair's double-accumulated
    // cosine directly (the q79/q76 conversion trick applied to the
    // near-dup family — its first member under a full hash check).
    "q85_embed_neardup_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 1024)
      Similarity.embeddingNearDup(emb, dim = 64, threshold = 0.30,
          planes = 0, maxBucket = 4000)
        .orderBy("id_a", "id_b")
    }),

    // q34: brute-force cosine top-k (exact ANN baseline) for a 10-probe
    // set; probe side broadcast, corpus scanned once.
    "q34_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBrute(emb, emb.where(col("vec_id") < 10), k = 10)
        .orderBy("probe_id", "rank")
    }),

    // q35: LSH-bucketed approximate NN with multi-probe (rows-only:
    // approximate recall is verified against brute force in ScalaTest).
    "q35_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annLsh(emb, emb.where(col("vec_id") < 10), dim = 64, k = 10, planes = 8)
        .orderBy("probe_id", "rank")
    }),

    // q99: k-means cluster-mass profile — every vector assigned to its
    // nearest centroid (native NearestCentroid kernel, one scan, zero
    // shuffles before the k-row agg). Centroids are the zero-iteration
    // fixed quantizer (k lowest-id vectors) so the WHOLE assignment is
    // SQL-portable and oracle-hashed; the Lloyd-trained variant of the
    // same kernel is exercised (rows-only) by q44's quantizer.
    "q99_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Clustering.clusterStats(emb, Clustering.fixedCentroids(emb, k = 8))
        .orderBy("cluster")
    }),

    // q100: cluster-balanced downsample — each cluster thinned to
    // ~32 rows by the deterministic multiplicative-hash bucket (pure
    // filter; no per-cluster window sort, so no k-partition skew at
    // scale). Assignment + rate math + hash are all integer/portable,
    // so the full pipeline is oracle-hashed.
    "q100_cluster_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Clustering.balancedSample(emb, Clustering.fixedCentroids(emb, k = 8),
          perCluster = 32)
        .orderBy("vec_id")
    }),

    // q101: sequence packing — concatenate-then-chop bin assignment via
    // a DISTRIBUTED PREFIX SUM (range partition → per-partition totals
    // → broadcast offsets → streaming local cumsum), never a
    // single-partition global window. Fully integer → oracle-hashed.
    "q101_seq_pack" -> ((s, dir) =>
      Packing.sequencePack(t(s, dir, "documents"), seqLen = 512)
        .orderBy("doc_id")),

    // q102: SemDeDup — k-means clusters bound the near-dup quadratic,
    // then within-cluster cosine pairs drop every vector with a
    // lower-id neighbor ≥ threshold. Fixed (zero-iteration) centroids +
    // the q85 double-cosine formulation keep the WHOLE pipeline
    // SQL-portable → oracle-hashed end-to-end, production machinery
    // (kernel assignment, bounded_collect pair generation, anti-join).
    "q102_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // size-adaptive k (fixed ~250-vector clusters): the SemDeDup
      // quadratic stays LINEAR in corpus size; same formula as the
      // oracle's adaptiveKSql, so the hash gate covers it at any SF
      val k = adaptiveK(emb.count())
      Clustering.semDedup(emb, Clustering.fixedCentroids(emb, k = k),
          threshold = 0.30)
        .orderBy("vec_id")
    }),

    // q103: domain-mixture resampling — per-lang counts → the largest
    // total achievable at the target mixture without upsampling →
    // per-domain integer keep rates executed as the multiplicative-hash
    // filter. All integer math → oracle-hashed.
    "q103_domain_mix" -> ((s, dir) =>
      Curation.mixtureSample(t(s, dir, "documents"),
          Seq("en" -> 40L, "de" -> 15L, "fr" -> 15L, "es" -> 15L, "zh" -> 15L))
        .orderBy("doc_id")),

    // q111: LEAKAGE-SAFE train/eval split — near-dup groups (q94's
    // exact-mode pair machinery → connected components) hash to a
    // split as a GROUP, so a near-copy of an eval doc can never sit in
    // train. Production flow (bucketPairs → jaccardVerify →
    // nearDupGroups → group-keyed multiplicative bucket) under the
    // oracle hash end-to-end; singletons split on their own id.
    "q111_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 512)
      val banded = docs.select(lit(0).as("band"), lit(0L).as("key"),
        col("doc_id").as("id"))
      val pairs = Dedup.bucketPairs(banded, Seq("band", "key"), "id",
        maxBucket = 1 << 20)
      val groups = Dedup.nearDupGroups(
        Dedup.jaccardVerify(docs, pairs, threshold = 0.7))
      Curation.leakageSplit(docs, groups, trainPct = 90)
        .orderBy("doc_id")
    }),

    // q116: deterministic global shuffle for trainer export — shard +
    // portable-hash sort key as one scan-fused projection (no sort, no
    // window, no RNG); the export repartitions by shard and sorts
    // within partitions only.
    "q116_shard_assign" -> ((s, dir) =>
      Curation.shardAssign(t(s, dir, "documents"), nShards = 16)
        .select(col("doc_id"), col("lang"), col("sort_key"), col("shard"))
        .orderBy("doc_id")),

    // q79: q35's LSH operator in EXACT mode — planes=2 with hamming-2
    // multi-probe covers all 2^2 buckets, so the hyperplane bucketing,
    // probe expansion (single + pair bit flips) and bucket join must
    // reproduce brute-force top-k exactly under q34's oracle hash (the
    // q70/q76 conversion trick applied to LSH).
    "q79_lsh_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annLsh(emb, emb.where(col("vec_id") < 10), dim = 64, k = 10,
          planes = 2, multiProbeBits = 2)
        .orderBy("probe_id", "rank")
    }),

    // q44: IVF-Flat ANN — coarse-quantizer lists + nprobe search
    // (rows-only: Lloyd means are float-order dependent; recall is
    // verified against brute force in ScalaTest). The quantizer is the
    // DURABLE at-ingest artifact: persisted once to a warehouse parquet
    // path, so even a fresh session (new JVM, in-memory catalog) runs
    // zero Lloyd passes when the artifact exists — the query itself is
    // one corpus scan for the nprobe-list search.
    "q44_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // Artifact keyed by the source dataset's (length, mtime)
      // fingerprint and rooted at the ABSOLUTE warehouse dir:
      // regenerated test data must invalidate the stored quantizer
      // (stale centroids would silently degrade recall past the
      // rows-only gate), and a cwd-relative path would split the
      // artifact across working directories.
      val src = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
      val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
      val sum = fs.getContentSummary(src)
      val fp = java.lang.Long.toHexString(
        sum.getLength ^ fs.getFileStatus(src).getModificationTime)
      val prefix = "graft_ivf_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      val artifact = s"$wh/${prefix}_${fp}_nlist8"
      // GC superseded fingerprints: each data regeneration would
      // otherwise orphan the previous artifact in the warehouse
      // forever. Match the EXACT artifact name shape by basename —
      // a loose prefix match would sweep concurrent trainers' live
      // __train_ tmp dirs (breaking ivfCentroidsPath's race protocol),
      // and comparing full qualified path strings is scheme-fragile.
      val artifactName = s"${prefix}_${fp}_nlist8"
      val artifactRe = s"^${java.util.regex.Pattern.quote(prefix)}_[0-9a-f]+_nlist8$$".r
      val whPath = new org.apache.hadoop.fs.Path(wh)
      val whFs = whPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (whFs.exists(whPath)) whFs.listStatus(whPath)
        .filter(st => artifactRe.matches(st.getPath.getName) &&
          st.getPath.getName != artifactName)
        .foreach(st => whFs.delete(st.getPath, true))
      val cents = Similarity.ivfCentroidsPath(s, artifact, emb, nlist = 8, iters = 2)
      Similarity.ivfAnn(emb, emb.where(col("vec_id") < 10), cents,
          k = 10, nprobe = 4, idCol = "vec_id", vecCol = "embedding")
        .orderBy("probe_id", "rank")
    }),

    // q46: near-dup pair set resolved to connected-component groups
    // (min-label propagation over the verified MinHash/LSH pairs).
    "q46_dedup_groups" -> ((s, dir) =>
      Dedup.nearDupGroups(
          Dedup.minhashLsh(t(s, dir, "documents"), threshold = 0.8))
        .orderBy("doc_id")),

    // q93: the LSH text-dedup machinery in EXACT ALL-PAIRS mode — a
    // constant band key puts the whole 500-doc corpus into ONE bucket,
    // so bucketPairs' bounded-collect pair generation and
    // jaccardVerify's ShingleSet merge-scan kernel must reproduce the
    // exact all-pairs character-5-gram Jaccard answer, which IS
    // SQL-expressible: DuckDB computes every pair's |∩|/|∪| over
    // distinct shingle substrings directly (the q79/q85 exact-mode
    // closure applied to the TEXT LSH family — its q30/q32 machinery
    // under a full hash check for the first time). Output is the id
    // pair set only: the jaccard double's 4-digit rounding is
    // engine-divergent at representation edges, the pair SET is not.
    "q93_jaccard_exact" -> ((s, dir) => {
      // doc_id < 512 caps the all-pairs corpus at a constant size
      // across SFs (the q85 `vec_id < 1024` trick): at sf0.1 the table
      // is 5000 docs and an uncapped all-pairs would be 12.5M verifies
      val docs = t(s, dir, "documents").where(col("doc_id") < 512)
      val banded = docs.select(lit(0).as("band"), lit(0L).as("key"),
        col("doc_id").as("id"))
      val pairs = Dedup.bucketPairs(banded, Seq("band", "key"), "id",
        maxBucket = 1 << 20)
      Dedup.jaccardVerify(docs, pairs, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // q94: q46's connected-component grouping over the EXACT pair set
    // of q93 — min-label group resolution (union-find fast path AND
    // the distributed propagation it must equal) pinned against a
    // DuckDB recursive-CTE reachability oracle: group_id = min node
    // reachable from each paired doc.
    "q94_dedup_groups_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 512)
      val banded = docs.select(lit(0).as("band"), lit(0L).as("key"),
        col("doc_id").as("id"))
      val pairs = Dedup.bucketPairs(banded, Seq("band", "key"), "id",
        maxBucket = 1 << 20)
      Dedup.nearDupGroups(Dedup.jaccardVerify(docs, pairs, threshold = 0.7))
        .orderBy("doc_id")
    }),

    // q95: q50's full curate→near-dup-drop pipeline with the EXACT
    // all-pairs verifier as pair source — quality filter, language
    // gate, exact-dup collapse, THEN exact-Jaccard groups collapse to
    // their minimal id: the complete curation pipeline under the
    // oracle hash end-to-end (q50 itself stays LSH, rows-only).
    "q95_curate_neardup_exact" -> ((s, dir) =>
      Curation.curateNearDup(t(s, dir, "documents").where(col("doc_id") < 512),
          minTokens = 20,
          pairsOf = kept => {
            val banded = kept.select(lit(0).as("band"), lit(0L).as("key"),
              col("doc_id").as("id"))
            Dedup.jaccardVerify(kept,
              Dedup.bucketPairs(banded, Seq("band", "key"), "id", 1 << 20),
              threshold = 0.7)
          })
        .orderBy("doc_id")),

    // q97: q69's INCREMENTAL near-dup machinery under the ORACLE
    // hash — the q93 exact-mode trick applied to the store path. A
    // fresh signature store initializes from the capped corpus
    // (doc_id < 512, % 10 != 0), then dedupeDeltaExact runs the
    // PRODUCTION delta flow — snapshot pinning, broadcast band-key
    // collision join, bounded bucket collects, delta×corpus +
    // delta-internal pair generation, survivor anti-join — with two
    // seams: a constant band key (all-pairs candidates) and exact
    // n-gram Jaccard as the verifier. The result is the exact
    // delta-touching pair set, which the DuckDB all-pairs formulation
    // reproduces restricted to pairs with a % 10 == 0 side. q69
    // itself stays on MinHash agreement, rows-only.
    "q97_incremental_neardup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 512)
      val root = RelationalQueries.scratchRoot("graft_q97")
      IncrementalDedup.initStore(s, docs.where(pmod(col("doc_id"), lit(10)) =!= 0), root)
      IncrementalDedup.dedupeDeltaExact(
          s, docs.where(pmod(col("doc_id"), lit(10)) === 0), root, docs)
        .pairs.select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // q96: q31's SimHash pairing machinery under the ORACLE hash. The
    // md5-portable 60-bit signature (simhashPortable — md5 is the one
    // hash Spark and DuckDB compute bit-identically) feeds the SAME
    // simhashPairsFrom banding / bounded-bucket pairing / hamming
    // verify path q31 runs, at maxHamming=3 where the 4×16-bit band
    // split is pigeonhole-LOSSLESS: the banded output EQUALS exact
    // all-pairs hamming ≤ 3, which the DuckDB oracle reproduces from
    // first principles (shingle md5 → 60-bit parse → sign-sum bits →
    // all-pairs popcount). doc_id < 512 caps the oracle's all-pairs
    // side at a constant size across SFs (the q93/q85 trick). q31
    // itself stays on the production xxhash64 kernel, rows-only.
    "q96_simhash_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 512)
      Dedup.simhashPairsFrom(Dedup.simhashPortable(docs), maxHamming = 3,
          maxBucket = 1 << 20)
        .orderBy("id_a", "id_b")
    }),

    // q40: benchmark decontamination — training docs sharing any word
    // 8-gram with the (deterministic doc_id % 7 = 0) eval split.
    "q40_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.decontaminate(
          docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(7)) === 0))
        .orderBy("doc_id")
    }),

    // q80: q40's decontamination at the 100 TB broadcast shape — a
    // BLOOM prefilter (~10 bits/gram at 1% fpp vs 8+ bytes/key for the
    // exact broadcast table) flags candidate docs with NO false
    // negatives, then the exact operator confirms on just the flagged
    // fraction of the corpus. Because the bloom's error is one-sided,
    // the composition must EQUAL the exact q40 answer — which is
    // exactly what the shared oracle hashes. The raw prefilter's
    // fp-rate bound is pinned separately in TextSuite.
    "q80_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val eval = docs.where(pmod(col("doc_id"), lit(7)) === 0)
      val flagged = Curation.decontaminateBloom(train, eval, fpp = 0.01)
        .select(col("doc_id"))
      Curation.decontaminate(train.join(flagged, Seq("doc_id"), "left_semi"), eval)
        .orderBy("doc_id")
    }),

    // q114: corpus vocabulary — top-20 tokens by term count (ties by
    // token) at doc-freq ≥ 2; two partial-agg shuffles + TakeOrdered.
    "q114_vocab" -> ((s, dir) =>
      TA.vocab(t(s, dir, "documents"), topK = 20, minDocFreq = 2)),

    // q115: scored decontamination — per train doc the 8-gram total,
    // eval-matched count, and overlap fraction (the threshold a
    // contamination policy acts on); q40's split, LEFT-join variant.
    "q115_contamination_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val eval = docs.where(pmod(col("doc_id"), lit(7)) === 0)
      Curation.contaminationScore(train, eval).orderBy("doc_id")
    }),

    // q41: Gopher-style repetition signals per document.
    "q41_repetition" -> ((s, dir) =>
      TA.repetitionSignals(t(s, dir, "documents"))
        .orderBy("doc_id")),

    // q42: PII redaction — the corpus carries no PII, so a
    // deterministic contact line is appended per doc and the scrub
    // (email/phone/digit-run → tags, chained codegen'd regexp_replace)
    // is verified by count + redacted-text hash.
    "q42_pii" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" contact: user"), col("doc_id"), lit("@example.com"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TA.piiCount(aug).as("n_pii"),
          md5(TA.redactPii(aug).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // q45: passage-level exact dedup — duplicated 20-token chunks.
    "q45_chunk_dedup" -> ((s, dir) =>
      Curation.chunkDedup(t(s, dir, "documents"), chunkTokens = 20)
        .orderBy("chunk_hash")),

    // q112: sliding-window chunking with overlap — 20-token windows
    // advancing by 10 (RAG / context-window prep; every 10-token span
    // survives a chunk boundary intact). One scan-fused
    // projection+explode, no shuffle.
    "q112_chunk_overlap" -> ((s, dir) =>
      Curation.chunkOverlap(t(s, dir, "documents"),
          windowTokens = 20, strideTokens = 10)
        .orderBy("doc_id", "chunk_idx")),

    // q90: CCNet/RefinedWeb-style boilerplate removal — 10-token
    // segments appearing in MORE THAN 2 distinct documents (menus,
    // footers, shared template text) are stripped and the survivors
    // reassemble in original order. The docfreq pass aggregates 8-byte
    // hashes (segment text never shuffles); the boilerplate set —
    // 15 segments on this corpus — broadcasts back against the
    // exploded stream.
    "q90_boilerplate" -> ((s, dir) =>
      Curation.removeBoilerplate(t(s, dir, "documents"),
          chunkTokens = 10, maxDocFreq = 2)
        .orderBy("doc_id")),

    // q47: deterministic hash-based stratified sampling per language
    // (training-mix downsampling; multiplicative hash, no rand()).
    "q47_sample" -> ((s, dir) =>
      Curation.stratifiedSample(t(s, dir, "documents"),
          rates = Map("en" -> 10, "de" -> 25, "es" -> 25, "fr" -> 25, "zh" -> 50))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")),

    // q50: full curation incl. near-dup removal — exact curate pass,
    // then LSH near-dup groups collapse to their minimal id (rows-only:
    // the group structure is LSH-derived).
    "q50_curate_neardup" -> ((s, dir) =>
      Curation.curateNearDup(t(s, dir, "documents"), minTokens = 20)
        .orderBy("doc_id")),

    // q59: temperature-rebalanced language mix (α=0.3) — per-language
    // sampling weights for a multilingual training run; fixed-order
    // denominator keeps the pow() sum engine-reproducible.
    "q59_lang_mix" -> ((s, dir) =>
      Curation.languageMix(t(s, dir, "documents"),
          langs = Seq("de", "en", "es", "fr", "zh"))
        .orderBy("lang")),

    // q58: char-entropy quality signal — low-entropy (filler) and
    // high-entropy (noise) docs are what a corpus filter drops; the
    // Σ c·log2(c) term sums as decimal so the result is
    // accumulation-order-independent (hashable cross-engine).
    "q58_entropy" -> ((s, dir) =>
      TA.charEntropy(t(s, dir, "documents"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // q57: BM25 retrieval scoring against a fixed query — the
    // corpus-search/selection ranking primitive (idf broadcast, one
    // token explode, fixed-order per-term sum for engine-reproducible
    // doubles).
    "q57_bm25" -> ((s, dir) =>
      TA.bm25(t(s, dir, "documents"), Seq("spark", "stream", "vector"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("bm25").desc, col("doc_id"))),

    // q49: token-budget selection — keep documents per language (in
    // deterministic id order) until the language's token budget is
    // exhausted: one running-sum window per language partition. The
    // "assemble a training mix to a token budget" primitive.
    "q49_token_budget" -> ((s, dir) =>
      Curation.tokenBudget(t(s, dir, "documents"), budgetPerGroup = 2000)
        .orderBy("doc_id")),

    // q68: INCREMENTAL exact dedup through the persisted fingerprint
    // store — the 90% corpus initializes the store once, the 10% delta
    // batch anti-joins it (thin hash column only, never corpus text),
    // survivors append as ONE O(delta) versioned commit, and the
    // oracle-checked output is the STORE's own answer to "what did
    // this batch admit" (changesSince) — the full cross-batch ingest
    // loop under the hash gate.
    // q123: INCREMENTAL SUBSTRING-SPAN scoring (round 13) — q119's
    // scale path: the even docs' distinct 50-grams persist once as a
    // versioned gram store, then the odd docs (the "ingest batch")
    // score their duplicated-span coverage against corpus+batch with
    // ONE columnar scan of stored keys — corpus text never rescanned.
    // Exact (string-gram) store here so DuckDB reproduces the closed
    // form: a delta window is duplicated iff its gram lives in >= 2
    // distinct docs of the UNION (the store decomposition is
    // equivalence-pinned in IncrementalDedupSuite).
    // corpus/delta take an EIGHTH each (%8 slices): the oracle surface
    // is exact 50-char STRING keys, and the sf1 bench construction
    // (10 identical copies of every doc) flags every window — at the
    // %2 split that made q123 the whole bench's top cost (40 s at sf1)
    // for no extra semantic coverage. The slice keeps the full
    // store-init → score → admit loop under the hash at bounded volume.
    "q123_incremental_spans" -> ((s, dir) => {
      val root = RelationalQueries.scratchRoot("graft_q123")
      val docs = t(s, dir, "documents")
      IncrementalDedup.initGramStore(s, docs.where(col("doc_id") % 8 === 0), root,
        params = IncrementalDedup.GramParams(window = 50, hashed = false))
      IncrementalDedup.spanDelta(s, docs.where(col("doc_id") % 8 === 1), root)
        .scores.orderBy("doc_id")
    }),

    // q126: BPE TOKENIZER TRAINING (round 14) — 8 greedy merge steps
    // over the documents table's word-frequency state. Every pair
    // frequency is an exact integer sum and the winner's tie-break is
    // a binary string order, so the DuckDB oracle recomputes the
    // IDENTICAL merge table with an unrolled 8-step replace walk
    // (single-char symbols make "apply a merge" a literal SQL replace
    // on both engines). Corpus text is scanned once, distributed, into
    // the vocabulary table; the merge loop runs on the driver over
    // that collected table with incremental pair counts, so the job
    // count does not grow with the steps (BpeTrainerSuite pins it).
    "q126_bpe" -> ((s, dir) =>
      graft.operators.BpeTrainer.trainDF(s, t(s, dir, "documents"), steps = 8)
        .orderBy("step")),

    // q127: BPE ENCODE at corpus scale (round 14) — train 8 merges on
    // the %4==0 slice, then count every document's BPE tokens in ONE
    // projection scan (merge replaces fused by codegen; no vocab-table
    // join). The oracle retrains the same slice with the unrolled
    // walk and re-applies the replace chain per word — training AND
    // application both under the hash.
    "q127_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrainer.train(
        s, docs.where(col("doc_id") % 4 === 0), steps = 8)
      // Spread (r18): the fused merge-replace chain is the scan's whole
      // cost — serial on the single-split bench input (guide §2.5)
      graft.operators.Spread(docs).select(col("doc_id"),
        graft.operators.BpeTrainer.wordCount(col("text")).as("n_words"),
        graft.operators.BpeTrainer.tokenCount(col("text"), merges).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // q135: CCNET-STYLE QUALITY BUCKETING (round 15) — the step CCNet
    // runs after LM scoring: split the corpus into head/middle/tail
    // thirds by LM score (training recipes then sample buckets at
    // different rates). Score = exact integer mean bigram
    // micro-probability ×1000; cutoffs = the ceil(N/3)-th and
    // ceil(2N/3)-th largest scores via a histogram-bounded window
    // (never a per-doc global window); ties share a bucket. Everything
    // integer → oracle rebuilds LM, scores, and buckets identically.
    "q135_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.NgramLm.trainBigrams(
        docs.where(col("doc_id") % 4 === 0), minCount = 2L)
      graft.operators.NgramLm.bucketByScore(
          graft.operators.NgramLm.scoreDocs(docs, lm))
        .orderBy("doc_id")
    }),

    // q134: UNIGRAM (SentencePiece-style) GREEDY SEGMENTATION
    // (round 15) — the BPE sibling: a piece vocabulary scored by
    // exact integer substring weights on the %4==0 slice (top-48 by
    // weight DESC, piece ASC), then every document's greedy
    // longest-match piece count. The walk (native aggregate/transform
    // HOFs over inlined per-length literal arrays, no UDF) runs once
    // per DISTINCT word form and joins back to per-(doc, word) counts
    // — 3.2× the one-scan projection at sf1, widening with scale
    // (Zipf: distinct forms saturate, occurrences don't). The oracle
    // rebuilds the identical vocabulary and replays the greedy walk
    // as a recursive CTE over distinct word forms — training AND
    // segmentation both hashed.
    "q134_unigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pieces = graft.operators.UnigramTokenizer.trainPieces(
        s, docs.where(col("doc_id") % 4 === 0), topK = 48)
      graft.operators.UnigramTokenizer.scoreDocs(docs, pieces).orderBy("doc_id")
    }),

    // q136: UNIGRAM EM REFINEMENT (round 16; ORACLE-HASHED since
    // round 17) — Kudo's hard-EM/Viterbi loop (arXiv:1804.10959 §3.2)
    // on top of q134's exact greedy baseline: 3 iterations of
    // Viterbi-segment (native HOF DP per DISTINCT word form, piece
    // costs as ONE map literal) + integer usage M-step over the %4==0
    // slice. Round 17 made the costs FIXED-POINT micro-nats
    // (round(-ln p * 1e6) as BIGINT — SURVEY §5's integer-exactness
    // doctrine), so the DP, usage sums and losses are all integer
    // math and the DuckDB oracle replays the whole loop exactly:
    // seed → 3 × (Viterbi as a recursive CTE + usage M-step),
    // MATERIALIZED CTEs to keep the iteration chain from inlining
    // exponentially. The suite still pins non-increasing loss (up to
    // quantization), determinism, and coverage conservation.
    "q136_unigram_em" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.UnigramTokenizer.trainPiecesEmDF(
        s, docs.where(col("doc_id") % 4 === 0), topK = 48, iters = 3)
    }),

    // q130: PACK BY LEARNED TOKENIZER LENGTHS (round 14) — the real
    // pre-training shard layout: train 8 BPE merges on the %4==0
    // slice, then sequence-pack the WHOLE corpus by each document's
    // BPE token count instead of the whitespace proxy. The length
    // expression evaluates inside sequencePack's sizing scan (one
    // corpus read), and the bin assignment is the same distributed
    // two-pass prefix sum — no global window. Training, encode, and
    // packing are all exact integers → oracle-hashed end-to-end.
    "q130_bpe_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrainer.train(
        s, docs.where(col("doc_id") % 4 === 0), steps = 8)
      Packing.sequencePack(docs, seqLen = 256,
          lengthCol = graft.operators.BpeTrainer.tokenCount(col("text"), merges))
        .orderBy("doc_id")
    }),

    // q128: COUNT-BASED BIGRAM LM TRAINING (round 14) — the reference
    // LM a CCNet-style quality filter scores against. Two hash
    // aggregations over the exploded bigram stream + one margin join;
    // minCount=2 prunes the hapax tail (what makes the scoring-side
    // LM broadcastable). Exact integer counts + integer
    // micro-probabilities land the whole model under the oracle.
    "q128_ngram_lm" -> ((s, dir) =>
      graft.operators.NgramLm.trainBigrams(
        t(s, dir, "documents").where(col("doc_id") % 4 === 0), minCount = 2L)
        .orderBy("w1", "w2")),

    // q129: LM QUALITY SCORING (round 14) — every document scored
    // under the slice-trained LM: bigram coverage (n_found/n_bigrams
    // = 1 − OOV rate) and exact integer probability mass. One corpus
    // scan exploded to bigrams, one join against the pruned LM, one
    // per-doc re-aggregation; the oracle retrains AND rescores.
    "q129_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.NgramLm.trainBigrams(
        docs.where(col("doc_id") % 4 === 0), minCount = 2L)
      graft.operators.NgramLm.scoreDocs(docs, lm).orderBy("doc_id")
    }),

    "q68_incremental_dedup" -> ((s, dir) => {
      val root = RelationalQueries.scratchRoot("graft_q68")
      val docs = t(s, dir, "documents")
      val v1 = IncrementalDedup.initExactStore(s, docs.where(col("doc_id") % 10 =!= 0), root)
      IncrementalDedup.exactDelta(s, docs.where(col("doc_id") % 10 === 0), root)
      graft.pipeline.VersionedTable.changesSince(s, root, v1)
        .select(col("keeper_id").as("doc_id"), col("fingerprint"))
        .orderBy("doc_id")
    }),

    // q69: INCREMENTAL near-dup dedup against the persisted MinHash
    // signature store (rows-only: the permutation family is not
    // SQL-portable; IncrementalDedupSuite pins exact equivalence to
    // the batch operator restricted to delta-touching pairs). The
    // delta's text is the only text scanned — the corpus side is two
    // columnar passes over its stored 1 KB signatures. The store is
    // an AT-INGEST artifact (the corpus pays its signature pass when
    // it lands, not per query), so it initializes once per session —
    // same artifact pattern as q44's quantizer; append=false keeps
    // the query read-only against it, so re-runs are idempotent.
    "q69_incremental_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = ingestArtifact(s"$dir/q69", "graft_q69") { r =>
        IncrementalDedup.initStore(s, docs.where(col("doc_id") % 10 =!= 0), r)
      }
      IncrementalDedup.dedupeDelta(s, docs.where(col("doc_id") % 10 === 0), root,
          append = false)
        .pairs.orderBy("id_a", "id_b")
    }),

    // q70: INCREMENTAL ANN index — 90% of the embeddings build the
    // IVF index (quantizer trained + persisted, lists committed as a
    // list_id-partitioned versioned table), the 10% delta appends by
    // centroid assignment only (O(delta) commit, no Lloyd pass, no
    // index read), and the search runs against the PERSISTED index.
    // nprobe = nlist makes the search exhaustive, so the whole
    // init → append → search loop must reproduce brute-force cosine
    // top-k exactly — which the driver hash-checks against the same
    // DuckDB oracle as q34.
    // Index build + delta append are INGEST-time work (once per
    // corpus, like q44's persisted quantizer) — cached per session so
    // the measured query is what a deployment pays per search. The
    // full init → append → search loop still runs on the first call
    // (and end-to-end in IncrementalAnnSuite).
    "q70_incremental_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = ingestArtifact(s"$dir/q70", "graft_q70") { r =>
        graft.operators.IncrementalAnn.initIndex(
          s, emb.where(col("vec_id") % 10 =!= 0), r, nlist = 16, iters = 2)
        graft.operators.IncrementalAnn.appendDelta(
          s, emb.where(col("vec_id") % 10 === 0), r)
      }
      graft.operators.IncrementalAnn.search(
        s, root, emb.where(col("vec_id") < 10), k = 10, nprobe = 16)
        .orderBy("probe_id", "rank")
    }),

    // q74: the multimodal metadata pipeline under the oracle gate —
    // synthetic asset table (deterministic, replicated by the oracle
    // from range()), resize planning, bounded frame sampling, and
    // content dedup by sha-256 digest (bytes never shuffle, only their
    // hash). Duplicates are planted via asset_id % 100 so dedup has
    // real groups. The stubbed DECODE path (mapPartitions batch loop)
    // is not SQL-replicable and stays pinned by MultimodalSuite.
    "q74_multimodal" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val assets = Multimodal.syntheticAssets(s, 300)
        .withColumn("bytes", sha2((col("asset_id") % 100).cast("string"), 256).cast("binary"))
      val resized = Multimodal.resizePlan(assets, maxSide = 256)
      val frames = Multimodal.frameSamplePlan(resized, everyMs = 2000)
        .groupBy("asset_id").agg(count(lit(1)).as("n_frames"))
      val dedup = Multimodal.dedupByContent(assets)
      resized.where(col("modality") === "video")
        .withColumn("content_hash", sha2(col("bytes"), 256))
        .join(frames, Seq("asset_id"))
        .join(dedup, Seq("content_hash"))
        .select(col("asset_id"), col("modality"),
          col("target_width"), col("target_height"),
          col("n_frames"), col("keeper_id"), col("dup_count"))
        .orderBy("asset_id")
    }),

    // q73: IVF-PQ compressed-scan ANN — the corpus is searched from
    // m-byte PQ codes (32× less scan I/O than the float vectors) via
    // per-probe ADC lookup tables, then the ADC top-`rerank` re-ranked
    // exactly by id. Quantizer training AND corpus encoding are
    // at-ingest work: the codes persist once per session as a
    // list_id-PARTITIONED parquet table (the IVF-PQ index layout — a
    // search with partition pruning reads nprobe/nlist of the m-byte
    // codes and nothing else), so the measured query is codes scan +
    // ADC + point-read re-rank. Rows-only: quantization is
    // approximate by design; recall floors and an exact-mode
    // equivalence are pinned in PqSuite.
    "q73_ivfpq_ann" -> ((s, dir) => {
      import graft.operators.ProductQuantizer
      val emb = t(s, dir, "embeddings")
      val coarse = Similarity.ivfCentroidsCached(s"$dir/q73", emb, nlist = 8, iters = 2)
      val cb = ProductQuantizer.trainCached(
        s"$dir/q73", emb, dim = 64, m = 8, ksub = 16, iters = 2)
      val codesPath = ingestArtifact(s"$dir/q73codes", "graft_q73") { r =>
        ProductQuantizer.encodeCorpus(emb, coarse, cb)
          .write.partitionBy("list_id").parquet(r)
      }
      ProductQuantizer.ivfPqAnnCoded(
          s.read.parquet(codesPath),
          emb.select(col("vec_id"), col("embedding").as("vec")),
          emb.where(col("vec_id") < 10), coarse, cb,
          k = 10, nprobe = 4, rerank = 80)
        .orderBy("probe_id", "rank")
    }),

    // q76: the SAME persisted IVF-PQ index as q73, searched in exact
    // mode (nprobe = nlist, rerank = corpus size) — every list probed,
    // every ADC candidate re-ranked from the float vectors, so the
    // encode → ADC → re-rank chain must reproduce brute-force cosine
    // top-k EXACTLY and sits under the driver's q34 oracle hash (the
    // q70 conversion trick applied to PQ). This pins the whole PQ
    // plumbing — centroid assignment, code layout, LUT arithmetic
    // ordering, tie-breaks — not just the recall floor PqSuite checks.
    "q76_ivfpq_exact" -> ((s, dir) => {
      import graft.operators.ProductQuantizer
      val emb = t(s, dir, "embeddings")
      val coarse = Similarity.ivfCentroidsCached(s"$dir/q73", emb, nlist = 8, iters = 2)
      val cb = ProductQuantizer.trainCached(
        s"$dir/q73", emb, dim = 64, m = 8, ksub = 16, iters = 2)
      val codesPath = ingestArtifact(s"$dir/q73codes", "graft_q73") { r =>
        ProductQuantizer.encodeCorpus(emb, coarse, cb)
          .write.partitionBy("list_id").parquet(r)
      }
      ProductQuantizer.ivfPqAnnCoded(
          s.read.parquet(codesPath),
          emb.select(col("vec_id"), col("embedding").as("vec")),
          emb.where(col("vec_id") < 10), coarse, cb,
          k = 10, nprobe = 8, rerank = emb.count().toInt)
        .orderBy("probe_id", "rank")
    }))

  private val toksSql = """regexp_extract_all(text, '\S+')"""
  private val normSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** Exact n-gram decontamination, shared by q40 (exact broadcast
    * join) and q80 (bloom prefilter + exact confirm — identical
    * answer because the bloom's error is one-sided).
    */
  private lazy val decontaminateSql: String =
    s"""WITH tk AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
       |grams AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk) - 6),
       |      i -> array_to_string(list_slice(tk, i, i + 7), ' '))) AS gram
       |  FROM tk),
       |tr AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 7 <> 0),
       |ev AS (SELECT DISTINCT doc_id AS eval_id, gram FROM grams WHERE doc_id % 7 = 0)
       |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_bad_grams,
       |  count(DISTINCT ev.eval_id) AS n_eval_docs
       |FROM tr JOIN ev ON tr.gram = ev.gram
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Brute-force cosine top-k oracle, shared by q34 (direct brute
    * force) and q70 (incremental IVF index searched exhaustively).
    */
  private val knnBruteSql =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |probes AS (SELECT vec_id AS probe_id, embedding AS pv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT probe_id, e.vec_id,
      |    round(
      |      list_sum(list_transform(range(1, len(pv) + 1), i -> pv[i]::DOUBLE * embedding[i]::DOUBLE))
      |      / nullif(sqrt(list_sum(list_transform(range(1, len(pv) + 1), i -> pv[i]::DOUBLE * pv[i]::DOUBLE)))
      |             * sqrt(list_sum(list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))), 0), 4) AS sim
      |  FROM probes, e WHERE probe_id <> e.vec_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT probe_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin

  private def hitsSql(lang: String): String = {
    val words = TextQueries.wordsList(lang)
    s"len(list_filter(regexp_extract_all(lower(text), '\\S+'), x -> list_contains([$words], x)))"
  }
  private def wordsList(lang: String): String =
    graft.operators.TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")

  /** Curation keeper set (q39's semantics) as reusable CTEs ending in
    * `keep(doc_id, n_tokens, lang_pred)` — shared by q39 and q95.
    */
  private def curateKeepCtes(docsFrom: String = "documents") =
    s"""f AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |    md5($normSql) AS fp,
       |    ${hitsSql("de")} AS de_hits, ${hitsSql("en")} AS en_hits,
       |    ${hitsSql("es")} AS es_hits, ${hitsSql("fr")} AS fr_hits,
       |    ${hitsSql("pt")} AS pt_hits
       |  FROM $docsFrom),
       |lp AS (SELECT *, list_max([
       |    {'hits': de_hits, 'lang': 'de'}, {'hits': en_hits, 'lang': 'en'},
       |    {'hits': es_hits, 'lang': 'es'}, {'hits': fr_hits, 'lang': 'fr'},
       |    {'hits': pt_hits, 'lang': 'pt'}]) AS best FROM f),
       |feats AS (SELECT doc_id, n_tokens, fp,
       |    CASE WHEN struct_extract(best, 'hits') > 0
       |         THEN struct_extract(best, 'lang') ELSE 'und' END AS lang_pred FROM lp),
       |flt AS (SELECT * FROM feats
       |  WHERE n_tokens BETWEEN 20 AND 1000000
       |    AND lang_pred IN ('de', 'en', 'es', 'fr', 'pt')),
       |k AS (SELECT fp, min(doc_id) AS doc_id FROM flt GROUP BY 1),
       |keep AS (SELECT flt.doc_id AS doc_id, n_tokens, lang_pred
       |  FROM flt JOIN k ON flt.fp = k.fp AND flt.doc_id = k.doc_id)""".stripMargin

  /** Exact all-pairs character-5-gram Jaccard over `docsFrom`'s
    * (doc_id, text) rows, ending in `p(id_a, id_b)` = pairs whose
    * 4-rounded Jaccard ≥ 0.7 — the SQL mirror of ShingleSet +
    * sortedIntersectCountL + the rounded-threshold filter. Pairs with
    * zero shared shingles have Jaccard 0 and are correctly absent from
    * the shingle self-join.
    */
  private def exactPairCtes(docsFrom: String): String =
    s"""d AS (SELECT doc_id, $normSql AS t FROM $docsFrom),
       |pos AS (SELECT doc_id, t,
       |        unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i FROM d),
       |sh AS (SELECT DISTINCT doc_id, substr(t, i, 5) AS s FROM pos),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |p AS (SELECT id_a, id_b FROM it
       |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |      WHERE round(c::DOUBLE / (sa.n + sb.n - c), 4) >= 0.7)""".stripMargin

  /** Connected components over `p` by recursive reachability: `reach
    * (src, dst)` = dst reachable from src; group_id = min(dst).
    */
  private val groupCtes =
    """e AS (SELECT id_a AS u, id_b AS v FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |reach AS (
      |  SELECT u AS src, u AS dst FROM (SELECT DISTINCT u FROM e)
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.dst)""".stripMargin

  /** DuckDB mirror of [[graft.operators.Dedup.simhashPortable]] +
    * exact all-pairs hamming ≤ 3 (== the lossless 4-band output):
    * per-shingle md5, first 15 hex chars parsed to a 60-bit BIGINT
    * (unrolled strpos-per-digit — DuckDB has no conv()), per-bit ±1
    * sign sums, then popcount of XOR over the capped all-pairs.
    */
  private val simhashExactSql: String = {
    val hexParse = (1 to 15).map(i =>
      s"((strpos('0123456789abcdef', substr(m, $i, 1)) - 1)::BIGINT << ${4 * (15 - i)})")
      .mkString(" + ")
    val bitSums = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val sigExpr = (0 until 60).map(b =>
      s"CASE WHEN b$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $normSql AS t FROM documents WHERE doc_id < 512),
       |pos AS (SELECT doc_id, t, unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i FROM d),
       |hx AS (SELECT doc_id, md5(substr(t, i, 5)) AS m FROM pos),
       |hh AS (SELECT doc_id, $hexParse AS h FROM hx),
       |bits AS (SELECT doc_id, $bitSums FROM hh GROUP BY 1),
       |sig AS (SELECT doc_id, $sigExpr AS simhash FROM bits)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared assignment CTEs for the q99/q100/q102 oracles: fixed
    * centroids = the k lowest-vec_id rows (cid = ordinal in id order,
    * mirroring Clustering.fixedCentroids), cosine in double
    * accumulation (the q85 formulation), argmax via row_number ordered
    * (sim DESC NULLS LAST, cid DESC) — null sims lose to any real and
    * ties go to the larger cluster id, the NearestCentroid kernel's
    * exact contract. `kSql` is the centroid-count expression — q102
    * passes the SIZE-ADAPTIVE form (see [[adaptiveKSql]]) so its
    * cluster-bounded quadratic stays linear in corpus size.
    */
  /** q102's centroid count, identically in SQL and Scala: fixed target
    * cluster size 250 keeps SemDeDup's per-cluster pair volume
    * CONSTANT as the corpus grows (pairs = n x 125, linear — at k=8
    * forever, a 10x corpus is 100x pairs; the sf1 bench showed exactly
    * that curve). The floor of 8 keeps sf0.01/sf0.1 byte-identical to
    * the fixed-k era.
    */
  private val adaptiveKSql = "greatest(8, (SELECT count(*) FROM embeddings) // 250)"
  private[queries] def adaptiveK(n: Long): Int = math.max(8L, n / 250L).toInt

  private def kmeansAssignCtes(kSql: String = "8") =
    s"""c AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS ce
      |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $kSql)),
      |scored AS (
      |  SELECT v.vec_id, c.cid,
      |    list_sum(list_transform(range(1, len(v.embedding) + 1), i -> v.embedding[i]::DOUBLE * c.ce[i]::DOUBLE))
      |    / nullif(sqrt(list_sum(list_transform(range(1, len(v.embedding) + 1), i -> v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)))
      |           * sqrt(list_sum(list_transform(range(1, len(c.ce) + 1), i -> c.ce[i]::DOUBLE * c.ce[i]::DOUBLE))), 0) AS sim
      |  FROM embeddings v CROSS JOIN c),
      |assigned AS (
      |  SELECT vec_id, cid AS cluster,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, cid DESC) AS rk
      |  FROM scored)""".stripMargin

  /** q126's oracle: the BPE merge loop unrolled to `k` steps of pure
    * SQL. Each step: positional pair counts over the word table (one
    * lateral range unnest), the (count DESC, pair ASC) winner, a
    * literal `replace` applying it with the step's minted private-use
    * symbol `chr(0xE000+step-1)`, and the winner's expansion back to
    * base characters via the earlier steps' tokens. Mirrors
    * [[graft.operators.BpeTrainer.train]] decision-for-decision.
    */
  /** The unrolled merge-walk CTEs (w0..w_k, p_i, b_i) shared by the
    * q126 training oracle and the q127 encode oracle. `docFilter` is
    * appended to the training corpus' FROM clause.
    */
  private def bpeStepCtes(k: Int, docFilter: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    parts += ("w0 AS (SELECT w AS seq, CAST(count(*) AS BIGINT) AS cnt FROM (" +
      s"SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents$docFilter) " +
      "WHERE regexp_full_match(w, '[a-z]{2,20}') GROUP BY w)")
    for (i <- 1 to k) {
      parts += (s"p$i AS (SELECT substr(seq, u.pos, 2) AS pair, sum(cnt) AS c " +
        s"FROM w${i - 1}, unnest(range(1, length(seq))) AS u(pos) GROUP BY 1)")
      parts += s"b$i AS (SELECT pair, c FROM p$i ORDER BY c DESC, pair ASC LIMIT 1)"
      parts += (s"w$i AS (SELECT replace(seq, (SELECT pair FROM b$i), " +
        s"chr(${0xE000 + i - 1})) AS seq, cnt FROM w${i - 1})")
    }
    parts.result()
  }

  private def bpeOracleSql(k: Int): String = {
    val parts = Seq.newBuilder[String]
    parts ++= bpeStepCtes(k, "")
    val sel = Seq.newBuilder[String]
    for (i <- 1 to k) {
      val tok = (1 until i).foldLeft(s"(SELECT pair FROM b$i)") { (acc, j) =>
        s"replace($acc, chr(${0xE000 + j - 1}), (SELECT token FROM mm$j))"
      }
      parts += (s"mm$i AS (SELECT $i AS step, $tok AS token, " +
        s"CAST((SELECT c FROM b$i) AS BIGINT) AS freq)")
      sel += s"SELECT step, token, freq FROM mm$i"
    }
    "WITH " + parts.result().mkString(",\n") + "\n" +
      sel.result().mkString(" UNION ALL ") + "\nORDER BY step"
  }

  /** q127's oracle: retrain on the slice, then per document fold every
    * in-alphabet word through the same replace chain and sum surviving
    * symbol counts (each symbol is one char, so token count = length).
    */
  private def bpeEncodeOracleSql(k: Int): String = {
    val repl = (1 to k).foldLeft("w") { (acc, i) =>
      s"replace($acc, (SELECT pair FROM b$i), chr(${0xE000 + i - 1}))"
    }
    "WITH " + bpeStepCtes(k, " WHERE doc_id % 4 = 0").mkString(",\n") + ",\n" +
      "enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      s"CAST(sum(length($repl)) AS BIGINT) AS n_toks FROM (" +
      "SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents) " +
      "WHERE regexp_full_match(w, '[a-z]{2,20}') GROUP BY doc_id)\n" +
      "SELECT d.doc_id, CAST(coalesce(e.n_words, 0) AS BIGINT) AS n_words, " +
      "CAST(coalesce(e.n_toks, 0) AS BIGINT) AS n_bpe_tokens " +
      "FROM documents d LEFT JOIN enc e USING (doc_id) ORDER BY d.doc_id"
  }

  /** q130's oracle: the q127 encode (retrain + replace-chain token
    * counts) feeding the q101 pack closed form — a window prefix sum
    * is fine HERE because DuckDB runs at oracle scale; the Spark side
    * is the distributed two-pass prefix sum.
    */
  private def bpePackOracleSql(k: Int, seqLen: Long): String = {
    val repl = (1 to k).foldLeft("w") { (acc, i) =>
      s"replace($acc, (SELECT pair FROM b$i), chr(${0xE000 + i - 1}))"
    }
    "WITH " + bpeStepCtes(k, " WHERE doc_id % 4 = 0").mkString(",\n") + ",\n" +
      "enc AS (SELECT doc_id, " +
      s"CAST(sum(length($repl)) AS BIGINT) AS n_toks FROM (" +
      "SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents) " +
      "WHERE regexp_full_match(w, '[a-z]{2,20}') GROUP BY doc_id),\n" +
      "len AS (SELECT d.doc_id, CAST(coalesce(e.n_toks, 0) AS BIGINT) AS n_tokens " +
      "FROM documents d LEFT JOIN enc e USING (doc_id)),\n" +
      "pk AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER (" +
      "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt " +
      "FROM len)\n" +
      s"SELECT doc_id, n_tokens, CAST(strt // $seqLen AS BIGINT) AS bin, " +
      s"CAST(strt % $seqLen AS BIGINT) AS bin_offset FROM pk ORDER BY doc_id"
  }

  /** q136's oracle: replay the FIXED-POINT unigram EM loop
    * ([[graft.operators.UnigramTokenizer.trainPiecesEm]]) in DuckDB.
    * Seed costs from the greedy trainer's integer substring weights,
    * then `iters` unrolled rounds of (Viterbi DP as a recursive CTE
    * over positions, carrying the costs/choice arrays exactly like
    * the Spark HOF DP + backtrace + integer usage M-step). All
    * comparisons/sums are BIGINT micro-nats; the only float is
    * `round(-ln p * 1e6)` which both engines quantize identically
    * (see CostScale's scaladoc). Non-recursive CTEs are MATERIALIZED:
    * DuckDB inlines CTEs per reference, and the per-iteration chain
    * (usage_k feeds costs_{k+1} feeds seg_{k+1}) otherwise re-expands
    * the whole prefix — 27 s at sf0.001 inlined vs 0.1 s
    * materialized at sf0.01.
    */
  private def q136OracleSql(iters: Int, topK: Int): String = {
    val unused = "1000000000000"
    def costs(k: Int, from: String): String =
      s"""costs$k AS MATERIALIZED (
         |  SELECT piece, CAST(round(-ln(CAST(${if (k == 1) "weight" else "usage"} AS DOUBLE) /
         |           (SELECT CAST(sum(${if (k == 1) "weight" else "usage"}) AS DOUBLE) FROM $from)) * 1000000) AS BIGINT) AS cost
         |  FROM $from
         |  UNION ALL
         |  SELECT chr(CAST(r AS INTEGER)) AS piece, CAST($unused AS BIGINT) AS cost
         |  FROM range(97, 123) AS t(r)
         |  WHERE chr(CAST(r AS INTEGER)) NOT IN (SELECT piece FROM $from))""".stripMargin
    def iterSql(k: Int): String =
      s"""pc$k AS (
         |  SELECT x.w, x.pos, x.l, c$k.cost
         |  FROM (SELECT w, u.pos, v.l, substr(w, CAST(u.pos - v.l + 1 AS BIGINT), CAST(v.l AS BIGINT)) AS piece
         |        FROM wf,
         |          LATERAL (SELECT unnest(range(1, length(w) + 1)) AS pos) u,
         |          LATERAL (SELECT unnest(range(1, 7)) AS l) v
         |        WHERE v.l <= u.pos) x
         |  JOIN costs$k c$k ON c$k.piece = x.piece),
         |pcl$k AS MATERIALIZED (
         |  SELECT w, pos, list(struct_pack(l := l, cost := cost)) AS cands
         |  FROM pc$k GROUP BY 1, 2),
         |seg$k AS (
         |  SELECT w, c, CAST(1 AS BIGINT) AS pos, [CAST(0 AS BIGINT)] AS costs,
         |         CAST([] AS BIGINT[]) AS choice
         |  FROM wf
         |  UNION ALL
         |  SELECT w, c, pos + 1,
         |         list_append(costs, struct_extract(bb, 't')),
         |         list_append(choice, -struct_extract(bb, 'negl'))
         |  FROM (
         |    SELECT s0.w, s0.c, s0.pos, s0.costs, s0.choice,
         |      list_min(list_transform(p.cands, x ->
         |        struct_pack(t := s0.costs[CAST(s0.pos - struct_extract(x, 'l') + 1 AS BIGINT)]
         |                         + struct_extract(x, 'cost'),
         |                    negl := -struct_extract(x, 'l')))) AS bb
         |    FROM seg$k s0 JOIN pcl$k p ON p.w = s0.w AND p.pos = s0.pos
         |    WHERE s0.pos <= length(s0.w))),
         |bt$k AS (
         |  SELECT w, c, choice, CAST(length(w) AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS pieces
         |  FROM seg$k WHERE pos > length(w)
         |  UNION ALL
         |  SELECT w, c, choice, pos - choice[CAST(pos AS BIGINT)],
         |         list_append(pieces, substr(w, CAST(pos - choice[CAST(pos AS BIGINT)] + 1 AS BIGINT),
         |                                    CAST(choice[CAST(pos AS BIGINT)] AS BIGINT)))
         |  FROM bt$k WHERE pos > 0),
         |usage$k AS MATERIALIZED (
         |  SELECT piece, CAST(sum(c) AS BIGINT) AS usage FROM (
         |    SELECT c, unnest(pieces) AS piece FROM bt$k WHERE pos = 0) GROUP BY 1)""".stripMargin
    val body = (1 to iters).map { k =>
      costs(k, if (k == 1) "seed" else s"usage${k - 1}") + ",\n" + iterSql(k)
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |wf AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS w
       |    FROM documents WHERE doc_id % 4 = 0)
       |  WHERE regexp_full_match(w, '[a-z]{2,20}') GROUP BY 1),
       |cand AS (
       |  SELECT unnest(flatten(list_transform(range(1, length(w) + 1), i ->
       |           list_transform(range(2, least(6, length(w) - i + 1) + 1), l ->
       |             substr(w, i, l))))) AS piece,
       |         c
       |  FROM wf),
       |multi AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS weight FROM cand GROUP BY 1
       |  ORDER BY weight DESC, piece LIMIT $topK),
       |chars AS (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS weight FROM (
       |    SELECT unnest(list_transform(range(1, length(w) + 1), i ->
       |             substr(w, i, 1))) AS piece, c
       |    FROM wf) GROUP BY 1),
       |seed AS MATERIALIZED (SELECT piece, weight FROM multi UNION ALL SELECT piece, weight FROM chars),
       |$body
       |SELECT piece, usage FROM usage$iters ORDER BY usage DESC, piece ASC""".stripMargin
  }

  def oracle: Map[String, String] = Map(

    "q136_unigram_em" -> q136OracleSql(3, 48),

    "q130_bpe_pack" -> bpePackOracleSql(8, 256),

    "q126_bpe" -> bpeOracleSql(8),

    "q127_bpe_encode" -> bpeEncodeOracleSql(8),

    // q129's LM + scoring CTEs, then the CCNet bucket math: integer
    // mean-micro-prob score, histogram + desc running sum (distinct
    // scores only — no peers, so RANGE vs ROWS frames agree), cutoffs
    // as the k-th largest scores, ties share a bucket
    "q135_ccnet_buckets" ->
      """WITH ws AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'),
        |                     w -> regexp_full_match(w, '[a-z]{2,20}')) AS ws
        |  FROM documents WHERE doc_id % 4 = 0),
        |bi AS (
        |  SELECT ws[u.i] AS w1, ws[u.i + 1] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM ws, unnest(range(1, len(ws))) AS u(i) GROUP BY 1, 2),
        |m AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1),
        |lm AS (
        |  SELECT b.w1, b.w2,
        |    CAST(round(b.c12 * 1000000.0 / m.c1) AS BIGINT) AS p_micro
        |  FROM bi b JOIN m USING (w1) WHERE b.c12 >= 2),
        |dws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                             w -> regexp_full_match(w, '[a-z]{2,20}')) AS ws
        |  FROM documents),
        |dbi AS (
        |  SELECT doc_id, ws[u.i] AS w1, ws[u.i + 1] AS w2
        |  FROM dws, unnest(range(1, len(ws))) AS u(i)),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams
        |        FROM dbi GROUP BY 1),
        |fnd AS (SELECT doc_id, CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
        |        FROM dbi JOIN lm USING (w1, w2) GROUP BY 1),
        |sc AS (
        |  SELECT d.doc_id,
        |    CASE WHEN coalesce(t.n_bigrams, 0) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(coalesce(f.sum_p_micro, 0) * 1000 // t.n_bigrams AS BIGINT)
        |    END AS score
        |  FROM documents d
        |  LEFT JOIN tot t USING (doc_id) LEFT JOIN fnd f USING (doc_id)),
        |hist AS (SELECT score, count(*) AS c FROM sc GROUP BY 1),
        |cum AS (SELECT score, sum(c) OVER (ORDER BY score DESC) AS cum FROM hist),
        |nn AS (SELECT count(*) AS n FROM sc),
        |c1 AS (SELECT max(score) AS v FROM cum, nn WHERE cum >= (n + 2) // 3),
        |c2 AS (SELECT max(score) AS v FROM cum, nn WHERE cum >= (2 * n + 2) // 3)
        |SELECT sc.doc_id, sc.score,
        |  CASE WHEN sc.score >= (SELECT v FROM c1) THEN 'head'
        |       WHEN sc.score >= (SELECT v FROM c2) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc ORDER BY sc.doc_id""".stripMargin,

    // unigram piece vocab (exact integer substring weights, top-48)
    // rebuilt from the slice; the greedy longest-match walk replayed
    // as a recursive CTE over distinct word forms, then joined back to
    // per-doc word occurrences
    "q134_unigram" ->
      """WITH RECURSIVE
        |wf AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS w
        |    FROM documents WHERE doc_id % 4 = 0)
        |  WHERE regexp_full_match(w, '[a-z]{2,20}') GROUP BY 1),
        |cand AS (
        |  SELECT unnest(flatten(list_transform(range(1, length(w) + 1), i ->
        |           list_transform(range(2, least(6, length(w) - i + 1) + 1), l ->
        |             substr(w, i, l))))) AS piece,
        |         c
        |  FROM wf),
        |vocab AS (
        |  SELECT piece FROM (
        |    SELECT piece, CAST(sum(c) AS BIGINT) AS weight FROM cand GROUP BY 1)
        |  ORDER BY weight DESC, piece LIMIT 48),
        |wl AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE regexp_full_match(w, '[a-z]{2,20}')),
        |seg AS (
        |  SELECT w, 1 AS pos, 0 AS n FROM wl
        |  UNION ALL
        |  SELECT w,
        |    pos + coalesce((SELECT max(length(v.piece)) FROM vocab v
        |                    WHERE v.piece = substr(seg.w, seg.pos, length(v.piece))), 1),
        |    n + 1
        |  FROM seg WHERE pos <= length(w)),
        |wp AS (SELECT w, n FROM seg WHERE pos > length(w)),
        |docl AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |  WHERE regexp_full_match(w, '[a-z]{2,20}')),
        |res AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS nw,
        |          CAST(sum(wp.n) AS BIGINT) AS np
        |        FROM docl d JOIN wp USING (w) GROUP BY 1)
        |SELECT doc.doc_id, coalesce(r.nw, 0) AS n_words, coalesce(r.np, 0) AS n_pieces
        |FROM documents doc LEFT JOIN res r USING (doc_id) ORDER BY doc_id""".stripMargin,

    // bigram LM closed form: counts, margins, and integer micro-probs
    // recomputed from the same slice
    "q128_ngram_lm" ->
      """WITH ws AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'),
        |                     w -> regexp_full_match(w, '[a-z]{2,20}')) AS ws
        |  FROM documents WHERE doc_id % 4 = 0),
        |bi AS (
        |  SELECT ws[u.i] AS w1, ws[u.i + 1] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM ws, unnest(range(1, len(ws))) AS u(i) GROUP BY 1, 2),
        |m AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1)
        |SELECT b.w1, b.w2, b.c12, m.c1,
        |  round(b.c12::DOUBLE / m.c1, 6) AS p,
        |  CAST(round(b.c12 * 1000000.0 / m.c1) AS BIGINT) AS p_micro
        |FROM bi b JOIN m USING (w1)
        |WHERE b.c12 >= 2
        |ORDER BY w1, w2""".stripMargin,

    // retrain the slice LM, then rescore EVERY document against it
    "q129_lm_score" ->
      """WITH ws AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'),
        |                     w -> regexp_full_match(w, '[a-z]{2,20}')) AS ws
        |  FROM documents WHERE doc_id % 4 = 0),
        |bi AS (
        |  SELECT ws[u.i] AS w1, ws[u.i + 1] AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM ws, unnest(range(1, len(ws))) AS u(i) GROUP BY 1, 2),
        |m AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1),
        |lm AS (
        |  SELECT b.w1, b.w2,
        |    CAST(round(b.c12 * 1000000.0 / m.c1) AS BIGINT) AS p_micro
        |  FROM bi b JOIN m USING (w1) WHERE b.c12 >= 2),
        |dws AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                             w -> regexp_full_match(w, '[a-z]{2,20}')) AS ws
        |  FROM documents),
        |dbi AS (
        |  SELECT doc_id, ws[u.i] AS w1, ws[u.i + 1] AS w2
        |  FROM dws, unnest(range(1, len(ws))) AS u(i)),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams
        |        FROM dbi GROUP BY 1),
        |fnd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_found,
        |               CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
        |        FROM dbi JOIN lm USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(t.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
        |  CAST(coalesce(f.sum_p_micro, 0) AS BIGINT) AS sum_p_micro
        |FROM documents d
        |LEFT JOIN tot t USING (doc_id) LEFT JOIN fnd f USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q119_substring_dup" ->
      """WITH w AS (
        |  SELECT doc_id, i AS strt, substr(text, CAST(i AS BIGINT), 50) AS g
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-49, 0))) AS i) t
        |), dup AS (
        |  SELECT doc_id, strt FROM w
        |  WHERE g IN (SELECT g FROM w GROUP BY g HAVING count(DISTINCT doc_id) >= 2)
        |), cov AS (
        |  SELECT doc_id, strt,
        |    greatest(0, (strt + 50) - greatest(strt,
        |      coalesce(max(strt + 50) OVER (PARTITION BY doc_id ORDER BY strt
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS covered
        |  FROM dup
        |)
        |SELECT d.doc_id, coalesce(c.dup_chars, 0) AS dup_chars,
        |  CASE WHEN length(d.text) > 0
        |       THEN coalesce(c.dup_chars, 0) * 1.0 / length(d.text)
        |       ELSE 0.0 END AS dup_frac
        |FROM documents d LEFT JOIN
        |  (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_chars
        |   FROM cov GROUP BY doc_id) c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q120_span_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, i AS strt, substr(text, CAST(i AS BIGINT), 50) AS g
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-49, 0))) AS i) t
        |), dup AS (
        |  SELECT doc_id, strt FROM w
        |  WHERE g IN (SELECT g FROM w GROUP BY g HAVING count(DISTINCT doc_id) >= 2)
        |), m AS (
        |  SELECT doc_id, strt,
        |    CASE WHEN strt > coalesce(max(strt + 50) OVER (PARTITION BY doc_id ORDER BY strt
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), isl AS (
        |  SELECT doc_id, strt, sum(brk) OVER (PARTITION BY doc_id ORDER BY strt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m
        |), iv AS (
        |  SELECT doc_id, min(strt) AS s, max(strt) + 50 AS e
        |  FROM isl GROUP BY doc_id, island
        |), seg AS (
        |  SELECT v.doc_id, v.s, v.e,
        |    coalesce(lag(v.e) OVER (PARTITION BY v.doc_id ORDER BY v.s), 1) AS gs,
        |    d.text FROM iv v JOIN documents d USING (doc_id)
        |), agg AS (
        |  SELECT doc_id,
        |    string_agg(substr(text, CAST(gs AS BIGINT), CAST(s - gs AS BIGINT)), '' ORDER BY s) AS prefix,
        |    max(e) AS last_e
        |  FROM seg GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN d.text
        |       ELSE coalesce(a.prefix, '') || substr(d.text, CAST(a.last_e AS BIGINT)) END AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q101_seq_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
         |  FROM t)
         |SELECT doc_id, n_tokens, CAST(strt // 512 AS BIGINT) AS bin,
         |  CAST(strt % 512 AS BIGINT) AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "q99_kmeans" ->
      s"""WITH ${kmeansAssignCtes()}
         |SELECT cluster, count(*) AS n_vectors,
         |  min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
         |FROM assigned WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q100_cluster_sample" ->
      s"""WITH ${kmeansAssignCtes()},
         |a AS (SELECT vec_id, cluster FROM assigned WHERE rk = 1),
         |sizes AS (SELECT cluster, count(*) AS n FROM a GROUP BY 1),
         |rated AS (SELECT a.vec_id, a.cluster,
         |    least(100, (100 * 32 + s.n - 1) // s.n) AS rate,
         |    ((a.vec_id % 1000003) * 2654435761) % 4294967296 // 42949673 AS bucket
         |  FROM a JOIN sizes s USING (cluster))
         |SELECT vec_id, cluster, bucket FROM rated
         |WHERE bucket < rate ORDER BY vec_id""".stripMargin,

    // SemDeDup: reuse the fixed-centroid assignment CTEs, then the q85
    // double-cosine pair formulation restricted to same-cluster pairs;
    // a vector survives iff no lower-id same-cluster neighbor clears
    // the threshold.
    "q102_semdedup" ->
      s"""WITH ${kmeansAssignCtes(adaptiveKSql)},
         |a AS (SELECT vec_id, cluster FROM assigned WHERE rk = 1),
         |dropped AS (
         |  SELECT DISTINCT y.vec_id AS id_b
         |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  JOIN embeddings va ON va.vec_id = x.vec_id
         |  JOIN embeddings vb ON vb.vec_id = y.vec_id
         |  WHERE round(
         |      list_sum(list_transform(range(1, len(va.embedding) + 1), i -> va.embedding[i]::DOUBLE * vb.embedding[i]::DOUBLE))
         |      / nullif(sqrt(list_sum(list_transform(range(1, len(va.embedding) + 1), i -> va.embedding[i]::DOUBLE * va.embedding[i]::DOUBLE)))
         |             * sqrt(list_sum(list_transform(range(1, len(vb.embedding) + 1), i -> vb.embedding[i]::DOUBLE * vb.embedding[i]::DOUBLE))), 0), 4) >= 0.30)
         |SELECT a.vec_id, a.cluster FROM a
         |WHERE a.vec_id NOT IN (SELECT id_b FROM dropped)
         |ORDER BY vec_id""".stripMargin,

    // Domain mixture: same integer plan as Curation.mixtureSample —
    // S = min_d floor(n_d*100/w_d), rate_d = ceil(100*floor(w_d*S/100)/n_d).
    "q103_domain_mix" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |w(lang, w) AS (VALUES ('en', 40), ('de', 15), ('fr', 15), ('es', 15), ('zh', 15)),
        |j AS (SELECT n.lang, n.n, w.w FROM n JOIN w USING (lang) WHERE n.n > 0),
        |s AS (SELECT min(n * 100 // w) AS s FROM j),
        |r AS (SELECT lang, least(100, (100 * (w * (SELECT s FROM s) // 100) + n - 1) // n) AS rate FROM j),
        |b AS (SELECT doc_id, lang,
        |        ((doc_id % 1000003) * 2654435761) % 4294967296 // 42949673 AS bucket
        |      FROM documents)
        |SELECT b.doc_id, b.lang, b.bucket FROM b JOIN r USING (lang)
        |WHERE b.bucket < r.rate ORDER BY doc_id""".stripMargin,

    "q96_simhash_exact" -> simhashExactSql,

    "q97_incremental_neardup_exact" ->
      s"""WITH ${exactPairCtes("documents WHERE doc_id < 512")}
         |SELECT id_a, id_b FROM p
         |WHERE id_a % 10 = 0 OR id_b % 10 = 0
         |ORDER BY id_a, id_b""".stripMargin,
    "q123_incremental_spans" ->
      """WITH w AS (
        |  SELECT doc_id, i AS strt, substr(text, CAST(i AS BIGINT), 50) AS g
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-49, 0))) AS i) t
        |  WHERE doc_id % 8 <= 1
        |), dup AS (
        |  SELECT doc_id, strt FROM w
        |  WHERE doc_id % 8 = 1
        |    AND g IN (SELECT g FROM w GROUP BY g HAVING count(DISTINCT doc_id) >= 2)
        |), cov AS (
        |  SELECT doc_id, strt,
        |    greatest(0, (strt + 50) - greatest(strt,
        |      coalesce(max(strt + 50) OVER (PARTITION BY doc_id ORDER BY strt
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS covered
        |  FROM dup
        |)
        |SELECT d.doc_id, coalesce(c.dup_chars, 0) AS dup_chars,
        |  CASE WHEN length(d.text) > 0
        |       THEN coalesce(c.dup_chars, 0) * 1.0 / length(d.text)
        |       ELSE 0.0 END AS dup_frac
        |FROM documents d LEFT JOIN
        |  (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_chars
        |   FROM cov GROUP BY doc_id) c USING (doc_id)
        |WHERE d.doc_id % 8 = 1
        |ORDER BY d.doc_id""".stripMargin,

    "q68_incremental_dedup" ->
      s"""WITH fp AS (SELECT doc_id, md5($normSql) AS fingerprint FROM documents),
         |keep AS (SELECT fingerprint, min(doc_id) AS doc_id
         |         FROM fp WHERE doc_id % 10 = 0 GROUP BY 1)
         |SELECT k.doc_id, k.fingerprint FROM keep k
         |WHERE NOT EXISTS (SELECT 1 FROM fp c
         |                  WHERE c.doc_id % 10 <> 0 AND c.fingerprint = k.fingerprint)
         |ORDER BY doc_id""".stripMargin,

    "q24_tokencount" ->
      s"""SELECT doc_id, len($toksSql) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_textquality" ->
      s"""SELECT doc_id,
         |  length(text) AS n_chars_obs,
         |  len($toksSql) AS n_tokens,
         |  round(list_sum(list_transform($toksSql, x -> length(x)))::DOUBLE
         |        / nullif(len($toksSql)::DOUBLE, 0), 4) AS mean_word_len,
         |  round((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::DOUBLE
         |        / nullif(length(text)::DOUBLE, 0), 4) AS punct_ratio,
         |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
         |        / nullif(length(text)::DOUBLE, 0), 4) AS digit_ratio,
         |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
         |        / nullif(length(text)::DOUBLE, 0), 4) AS upper_ratio,
         |  round((length(text) - length(regexp_replace(text, '\\s', '', 'g')))::DOUBLE
         |        / nullif(length(text)::DOUBLE, 0), 4) AS space_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q104_gopher" ->
      s"""WITH f AS (SELECT doc_id,
         |  len($toksSql) AS n_words,
         |  round(list_sum(list_transform($toksSql, x -> length(x)))::DOUBLE
         |        / nullif(len($toksSql)::DOUBLE, 0), 4) AS mean_word_len,
         |  round(len(list_filter($toksSql, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         |        / nullif(len($toksSql)::DOUBLE, 0), 4) AS alpha_ratio,
         |  round(((length(text) - length(regexp_replace(text, '#', '', 'g')))
         |       + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))))::DOUBLE
         |        / nullif(len($toksSql)::DOUBLE, 0), 4) AS sym_ratio,
         |  (list_contains(list_transform($toksSql, x -> lower(x)), 'the')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'and')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'of')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'to')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'is')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'in')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'that')::INT
         | + list_contains(list_transform($toksSql, x -> lower(x)), 'with')::INT)::BIGINT AS stop_hits
         |FROM documents),
         |r AS (SELECT doc_id, n_words, mean_word_len, alpha_ratio, sym_ratio, stop_hits,
         |  (n_words >= 30 AND n_words <= 100000)::INT AS r_words,
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0)::INT AS r_mean,
         |  (alpha_ratio >= 0.8)::INT AS r_alpha,
         |  (sym_ratio <= 0.1)::INT AS r_sym,
         |  (stop_hits >= 1)::INT AS r_stop
         |FROM f)
         |SELECT doc_id, n_words, mean_word_len, alpha_ratio, sym_ratio, stop_hits,
         |  r_words, r_mean, r_alpha, r_sym, r_stop,
         |  r_words * r_mean * r_alpha * r_sym * r_stop AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    "q26_langid" ->
      s"""WITH h AS (SELECT doc_id,
         |    ${hitsSql("de")} AS de_hits,
         |    ${hitsSql("en")} AS en_hits,
         |    ${hitsSql("es")} AS es_hits,
         |    ${hitsSql("fr")} AS fr_hits,
         |    ${hitsSql("pt")} AS pt_hits
         |  FROM documents),
         |b AS (SELECT *, list_max([
         |    {'hits': de_hits, 'lang': 'de'}, {'hits': en_hits, 'lang': 'en'},
         |    {'hits': es_hits, 'lang': 'es'}, {'hits': fr_hits, 'lang': 'fr'},
         |    {'hits': pt_hits, 'lang': 'pt'}]) AS best FROM h)
         |SELECT doc_id, de_hits, en_hits, es_hits, fr_hits, pt_hits,
         |  CASE WHEN struct_extract(best, 'hits') > 0
         |       THEN struct_extract(best, 'lang') ELSE 'und' END AS lang_pred
         |FROM b ORDER BY doc_id""".stripMargin,

    "q27_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q28_ngrams" ->
      s"""WITH toks AS (SELECT regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
         |grams AS (SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram FROM toks)
         |SELECT gram, count(*) AS cnt FROM grams GROUP BY 1
         |ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,

    "q29_dedup_exact" ->
      s"""SELECT md5($normSql) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS dup_count
         |FROM documents GROUP BY 1 ORDER BY keeper_id""".stripMargin,

    "q116_shard_assign" ->
      """WITH h AS (SELECT doc_id, lang,
        |    ((doc_id % 1000003) * 2654435761) % 4294967296 AS sort_key
        |  FROM documents)
        |SELECT doc_id, lang, sort_key, CAST(sort_key % 16 AS INT) AS shard
        |FROM h ORDER BY doc_id""".stripMargin,

    "q113_dedup_best" ->
      s"""WITH f AS (SELECT doc_id, source, n_chars, $normSql AS nt FROM documents),
         |r AS (SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY nt ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY nt) AS dup_count
         |  FROM f)
         |SELECT doc_id, source, n_chars, dup_count FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    "q39_curate" ->
      s"""WITH ${curateKeepCtes()}
         |SELECT doc_id, n_tokens, lang_pred FROM keep
         |ORDER BY doc_id""".stripMargin,

    "q93_jaccard_exact" ->
      s"""WITH ${exactPairCtes("documents WHERE doc_id < 512")}
         |SELECT id_a, id_b FROM p ORDER BY id_a, id_b""".stripMargin,

    "q94_dedup_groups_exact" ->
      s"""WITH RECURSIVE ${exactPairCtes("documents WHERE doc_id < 512")},
         |$groupCtes
         |SELECT src AS doc_id, min(dst) AS group_id FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q111_leakage_split" ->
      s"""WITH RECURSIVE ${exactPairCtes("documents WHERE doc_id < 512")},
         |$groupCtes,
         |g AS (SELECT src AS doc_id, min(dst) AS group_id FROM reach GROUP BY 1),
         |a AS (SELECT d0.doc_id, coalesce(g.group_id, d0.doc_id) AS group_id
         |      FROM (SELECT doc_id FROM documents WHERE doc_id < 512) d0
         |      LEFT JOIN g USING (doc_id)),
         |b AS (SELECT doc_id, group_id,
         |      ((group_id % 1000003) * 2654435761) % 4294967296 // 42949673 AS bucket
         |      FROM a)
         |SELECT doc_id, group_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train' ELSE 'eval' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "q95_curate_neardup_exact" ->
      s"""WITH RECURSIVE ${curateKeepCtes("documents WHERE doc_id < 512")},
         |${exactPairCtes("documents JOIN keep USING (doc_id)")},
         |$groupCtes,
         |g AS (SELECT src AS doc_id, min(dst) AS group_id FROM reach GROUP BY 1)
         |SELECT doc_id, n_tokens, lang_pred FROM keep
         |WHERE NOT EXISTS (SELECT 1 FROM g
         |                  WHERE g.doc_id = keep.doc_id AND g.doc_id <> g.group_id)
         |ORDER BY doc_id""".stripMargin,

    "q37_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all($normSql, '\\S+')) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.tok AS tok, round(tf * ln(n.n::DOUBLE / dfc), 4) AS score
         |  FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, tok, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, tok, score FROM ranked WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    // segment → docfreq > 2 → strip → order-preserving reassembly;
    // string_agg skips the boilerplate-marked nulls exactly like the
    // Spark side's collect_list(when(...)), and an all-boilerplate doc
    // reassembles to '' on both engines
    "q90_boilerplate" ->
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
         |seg AS (
         |  SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, (len(tk) + 9) // 10),
         |      i -> {'pos': i, 'seg': array_to_string(list_slice(tk, i * 10 + 1, i * 10 + 10), ' ')})) AS u
         |    FROM tk)
         |  WHERE u.seg <> ''),
         |boiler AS (
         |  SELECT seg FROM (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY 1)
         |  WHERE df > 2)
         |SELECT s.doc_id,
         |  coalesce(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END, ' ' ORDER BY s.pos), '') AS clean_text,
         |  CAST(sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |FROM seg s LEFT JOIN boiler b ON s.seg = b.seg
         |GROUP BY 1 ORDER BY s.doc_id""".stripMargin,

    "q34_knn_brute" -> knnBruteSql,

    // exact all-pairs cosine near-dup over the id-capped corpus: the
    // planes=0 single-bucket run must equal this closed form (same
    // double-accumulated dot product as knnBruteSql, rounded to 4dp
    // BEFORE the threshold test, mirroring the Spark operator)
    "q85_embed_neardup_exact" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1024),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(
        |      list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / nullif(sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
        |             * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))), 0), 4) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.30
        |ORDER BY id_a, id_b""".stripMargin,

    // same oracle as q34: with nprobe = nlist the incremental index's
    // search is exhaustive, so init → append → search must land on the
    // identical brute-force answer (third execution route, like
    // q23/q61/q65 sharing the as-of oracle)
    "q70_incremental_ann" -> knnBruteSql,

    // fourth route to the same oracle: q73's persisted IVF-PQ index in
    // exact mode (nprobe=nlist, rerank=n) — the PQ encode/ADC/re-rank
    // chain itself under the driver's hash
    "q76_ivfpq_exact" -> knnBruteSql,

    // fifth route: q35's LSH in exact mode (all buckets probed)
    "q79_lsh_exact" -> knnBruteSql,

    // q74: DuckDB rebuilds the synthetic asset table from range() —
    // the query reads no parquet, so the oracle derives everything
    // (modality cycle, planted dup contents, resize math, inclusive
    // frame series) from the same closed-form definitions.
    "q74_multimodal" ->
      """WITH a AS (
        |  SELECT range AS asset_id,
        |    CASE (range % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    sha256((range % 100)::VARCHAR) AS bytes_hex,
        |    (range % 1920 + 16)::INT AS width,
        |    (range % 1080 + 16)::INT AS height,
        |    range * 40 + 1000 AS duration_ms
        |  FROM range(0, 300)),
        |resized AS (
        |  SELECT *,
        |    CAST(ceil(width * least(1.0::DOUBLE, 256::DOUBLE / greatest(width, height))) AS INT) AS target_width,
        |    CAST(ceil(height * least(1.0::DOUBLE, 256::DOUBLE / greatest(width, height))) AS INT) AS target_height
        |  FROM a),
        |frames AS (
        |  SELECT asset_id, count(*) AS n_frames
        |  FROM resized, LATERAL unnest(generate_series(0, greatest(duration_ms - 1, 0), 2000))
        |  WHERE modality = 'video' GROUP BY 1),
        |dedup AS (
        |  SELECT sha256(bytes_hex) AS content_hash, min(asset_id) AS keeper_id, count(*) AS dup_count
        |  FROM a GROUP BY 1)
        |SELECT r.asset_id, r.modality, r.target_width, r.target_height,
        |       f.n_frames, d.keeper_id, d.dup_count
        |FROM resized r
        |JOIN frames f USING (asset_id)
        |JOIN dedup d ON sha256(r.bytes_hex) = d.content_hash
        |WHERE r.modality = 'video'
        |ORDER BY r.asset_id""".stripMargin,

    "q40_decontaminate" -> decontaminateSql,

    "q114_vocab" ->
      s"""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all($normSql, '\\S+')) AS tok
         |  FROM documents),
         |tf AS (SELECT tok, doc_id, count(*) AS c FROM toks GROUP BY 1, 2),
         |v AS (SELECT tok, CAST(sum(c) AS BIGINT) AS term_count, count(*) AS doc_freq
         |  FROM tf GROUP BY 1)
         |SELECT tok, term_count, doc_freq FROM v WHERE doc_freq >= 2
         |ORDER BY term_count DESC, tok LIMIT 20""".stripMargin,

    "q115_contamination_score" ->
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
         |grams AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 6),
         |      i -> array_to_string(list_slice(tk, i, i + 7), ' '))) AS gram
         |  FROM tk),
         |tr AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 7 <> 0),
         |ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1),
         |m AS (SELECT tr.doc_id, count(*) AS n_matched FROM tr JOIN ev USING (gram) GROUP BY 1)
         |SELECT t.doc_id, t.n_grams, coalesce(m.n_matched, 0) AS n_matched,
         |  round(coalesce(m.n_matched, 0)::DOUBLE / t.n_grams, 6) AS overlap
         |FROM tot t LEFT JOIN m USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    // the bloom prefilter has no false negatives, so prefilter + exact
    // confirm must equal the exact answer — SAME oracle as q40
    "q80_decontaminate_bloom" -> decontaminateSql,

    "q41_repetition" ->
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
         |proj AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens,
         |    round(1 - len(list_distinct(tk))::DOUBLE / nullif(len(tk)::DOUBLE, 0), 4) AS dup_token_ratio
         |  FROM tk),
         |bi AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
         |  FROM tk),
         |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY 1, 2),
         |top AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
         |  FROM cnt GROUP BY 1)
         |SELECT p.doc_id, n_tokens, dup_token_ratio,
         |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
         |FROM proj p LEFT JOIN top USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    "q42_pii" ->
      """WITH aug AS (SELECT doc_id,
        |    text || ' contact: user' || doc_id || '@example.com' AS t FROM documents),
        |red AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS r FROM aug)
        |SELECT doc_id,
        |  CAST((length(r) - length(replace(r, '<EMAIL>', ''))) / 7 AS BIGINT) +
        |  CAST((length(r) - length(replace(r, '<PHONE>', ''))) / 7 AS BIGINT) +
        |  CAST((length(r) - length(replace(r, '<NUM>', ''))) / 5 AS BIGINT) AS n_pii,
        |  md5(r) AS redacted_md5
        |FROM red ORDER BY doc_id""".stripMargin,

    "q45_chunk_dedup" ->
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
         |ch AS (SELECT doc_id,
         |    unnest(list_transform(range(0, (len(tk) + 19) // 20),
         |      i -> array_to_string(list_slice(tk, i * 20 + 1, i * 20 + 20), ' '))) AS chunk
         |  FROM tk)
         |SELECT md5(chunk) AS chunk_hash, count(*) AS n_occurrences, min(doc_id) AS first_doc
         |FROM ch WHERE chunk <> ''
         |GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,

    "q112_chunk_overlap" ->
      s"""WITH tk AS (SELECT doc_id, regexp_extract_all($normSql, '\\S+') AS tk FROM documents),
         |n AS (SELECT doc_id, tk,
         |    CASE WHEN len(tk) <= 20 THEN 1 ELSE (len(tk) - 20 + 9) // 10 + 1 END AS nc
         |  FROM tk),
         |e AS (SELECT doc_id, tk, unnest(range(0, nc)) AS chunk_idx FROM n)
         |SELECT doc_id, chunk_idx,
         |  array_to_string(list_slice(tk, chunk_idx * 10 + 1, chunk_idx * 10 + 20), ' ') AS chunk
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "q49_token_budget" ->
      """WITH tk AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM tk)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 2000 ORDER BY doc_id""".stripMargin,

    "q59_lang_mix" ->
      s"""WITH s AS (SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents WHERE lang IN ('de','en','es','fr','zh') GROUP BY 1),
         |d AS (SELECT
         |    pow(coalesce(max(CASE WHEN lang='de' THEN n_tokens END), 0)::DOUBLE, 0.3)
         |  + pow(coalesce(max(CASE WHEN lang='en' THEN n_tokens END), 0)::DOUBLE, 0.3)
         |  + pow(coalesce(max(CASE WHEN lang='es' THEN n_tokens END), 0)::DOUBLE, 0.3)
         |  + pow(coalesce(max(CASE WHEN lang='fr' THEN n_tokens END), 0)::DOUBLE, 0.3)
         |  + pow(coalesce(max(CASE WHEN lang='zh' THEN n_tokens END), 0)::DOUBLE, 0.3) AS denom
         |  FROM s)
         |SELECT lang, n_docs, n_tokens,
         |  round(pow(n_tokens::DOUBLE, 0.3) / denom, 6) AS sample_weight
         |FROM s CROSS JOIN d ORDER BY lang""".stripMargin,

    "q58_entropy" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS t FROM documents),
         |pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t))) AS i FROM n),
         |ch AS (SELECT doc_id, substr(t, i, 1) AS ch FROM pos),
         |freq AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars, count(*) AS n_distinct_chars,
         |    sum(CAST(c * log2(c) AS DECIMAL(38,18))) AS sum_clog
         |  FROM freq GROUP BY 1)
         |SELECT doc_id, n_chars, n_distinct_chars,
         |  round(log2(n_chars::DOUBLE) - sum_clog::DOUBLE / n_chars, 4) AS entropy_bits
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q57_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id, unnest(regexp_extract_all($normSql, '\\S+')) AS tok FROM documents),
         |dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
         |tf AS (SELECT id, tok, count(*) AS tf FROM toks
         |  WHERE tok IN ('spark', 'stream', 'vector') GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY 1),
         |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
         |                 (SELECT sum(dl) FROM dl) AS sum_dl),
         |scored AS (
         |  SELECT id, tok,
         |    ln(1.0 + (n - dfc + 0.5) / (dfc + 0.5)) * (tf * 2.2)
         |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl::DOUBLE / n))) AS s
         |  FROM tf JOIN dl USING (id) JOIN dfreq USING (tok) CROSS JOIN stats),
         |p AS (SELECT id,
         |    max(CASE WHEN tok = 'spark' THEN s END) AS s0,
         |    max(CASE WHEN tok = 'stream' THEN s END) AS s1,
         |    max(CASE WHEN tok = 'vector' THEN s END) AS s2
         |  FROM scored GROUP BY 1)
         |SELECT id AS doc_id,
         |  round(coalesce(s0, 0) + coalesce(s1, 0) + coalesce(s2, 0), 4) AS bm25
         |FROM p ORDER BY bm25 DESC, doc_id""".stripMargin,

    "q47_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |    ((doc_id % 1000003) * 2654435761) % 4294967296 // 42949673 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 50
        |  WHEN 'de' THEN 25 WHEN 'es' THEN 25 WHEN 'fr' THEN 25 ELSE 0 END
        |ORDER BY doc_id""".stripMargin)
}

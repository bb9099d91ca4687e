package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Deduplication operators for document corpora.
  *
  * Scale contract: nothing here is O(n²). Exact dedup is a hash
  * aggregation; every near-dup variant generates candidates through
  * LSH-style bucketing (minhash bands / simhash / shared rare n-grams)
  * and only verifies within buckets, so candidate volume is
  * O(n · bands · bucket_size), with an explicit bucket-size cap as the
  * skew guard (a degenerate bucket — e.g. the empty document — would
  * otherwise quadratically explode on a 100 TB corpus).
  */
/** A persisted-but-not-yet-released operator result. `df` is persisted
  * (lazily — the first downstream action materializes it); the consumer
  * calls `release()` exactly once after its own result is materialized.
  * This is the hand-off contract between chained dedup stages (LSH
  * candidates → exact verify): the intermediate pair set materializes
  * ONCE into the persist cache instead of localCheckpoint-then-
  * re-persist (two materializations of the same rows).
  */
final case class Materialized(df: DataFrame, release: () => Unit)

object Dedup {

  /** Exact dedup on normalized text: keep the smallest id per
    * fingerprint. One hash aggregation (map-side partial agg applies);
    * the 8-byte xxhash64 key keeps shuffle volume minimal.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Spread.medium(docs)
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Quality-aware exact dedup: within each duplicate group keep the
    * BEST copy — highest `score` (e.g. raw length, source priority, a
    * quality model's output), ties to the smallest id — instead of
    * [[exact]]'s smallest-id keeper. This is what production corpus
    * dedup actually wants: normalized-identical copies can differ in
    * raw form (casing, whitespace, source), and the keeper should be
    * the highest-fidelity one, not whichever id sorted first.
    *
    * ONE aggregation: `max_by` over a (score, −id) struct carries each
    * group's single best full row through the shuffle — no window, no
    * second join back. The struct buffer makes it a SortAggregate
    * rather than a hash aggregate, but map-side PARTIAL aggregation
    * still applies (plan-pinned), so shuffle volume is one row per
    * (map partition, fingerprint) and the sorts are spillable. The
    * (score, −id) key is a total order (ids are distinct), so the
    * keeper is deterministic even under Spark's unordered aggregation.
    * Keeper rows come back with all of the input's columns plus
    * `dup_count`.
    */
  def exactBest(
      docs: DataFrame,
      score: Column,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cols = docs.columns.map(col).toIndexedSeq
    Spread.medium(docs)
      .withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("_fp"))
      .agg(
        max_by(struct(cols: _*),
          struct(score.as("_s"), (-col(idCol)).as("_negid"))).as("_k"),
        count(lit(1)).as("dup_count"))
      .select(col("_k.*"), col("dup_count"))
  }

  /** Materialize `result` eagerly (local checkpoint: runs the job,
    * caches only the — small — result rows, truncates lineage) and THEN
    * release the temporary caches that fed it. Operators that persist
    * an expensive intermediate use this so no MEMORY_AND_DISK cache
    * outlives the operator call: in a long-lived session (or a 100 TB
    * warehouse job) leaked caches accumulate until eviction thrash
    * starves every later query. On a real cluster a reliable
    * `checkpoint`/table write would replace the local checkpoint.
    */
  private[operators] def materializeAndRelease(result: DataFrame, temps: DataFrame*): DataFrame = {
    // REBALANCE before the checkpoint (r18, guide §2.2 "fewer, larger
    // partitions"): operator results used to checkpoint with whatever
    // partition count the producing stage had — often the full shuffle
    // width (or a union of widths) for a few thousand rows — and every
    // downstream stage then paid that task count per pass. The AQE
    // rebalance shuffle right-sizes the checkpointed blocks to
    // advisory-size partitions: one for the typical pair/score set,
    // advisory-sized chunks at warehouse scale. Row set unchanged.
    val out = result.hint("rebalance").localCheckpoint(true)
    temps.foreach(_.unpersist(false))
    out
  }

  /** Free the block-manager storage behind a localCheckpoint'd Dataset.
    * `Dataset.unpersist` is a no-op for checkpoint blocks — they back a
    * `LogicalRDD`, not a cacheManager entry — so iterative operators
    * that checkpoint per round must unpersist the underlying RDD
    * directly or the rounds' blocks accumulate until ContextCleaner GC.
    */
  private[graft] def releaseCheckpoint(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false)))

  /** The 31-bit prime field of the MinHash permutation family — shared
    * with the one-pass graftbridge.MinHashSig expression (the two
    * formulations are bit-identical; equivalence is ScalaTested).
    */
  private val MinHashP = org.apache.spark.sql.graftbridge.MinHashSig.Prime

  /** Permutation-coefficient family for MinHash, deterministic in
    * `seed`: (a·h' + b) mod P with a ∈ [1, P), b ∈ [0, P) — a spans
    * the full field so the map mixes (see MinHashSig's Scaladoc for
    * why a narrow a is rotation-like and biases estimates). Operands
    * stay < 2^31, so products fit a long (no ANSI overflow).
    */
  private def permCoeffs(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      (rnd.nextInt((MinHashP - 1).toInt).toLong + 1, rnd.nextInt(MinHashP.toInt).toLong))
  }

  private def perm(h: Column, a: Long, b: Long): Column =
    pmod(pmod(h.bitwiseAND(lit(0x7FFFFFFFL)), lit(MinHashP)) * a + b, lit(MinHashP))

  /** One row per (doc, shingle hash): normalize → explode positions →
    * substr+xxhash64. Every expression here is whole-stage-codegen'd —
    * the higher-order-function formulation (transform/aggregate) is
    * interpreted row-at-a-time in Spark and benchmarked ~100× slower on
    * this path. Duplicate shingles are kept: min() is duplicate-
    * insensitive, so MinHash is unaffected.
    */
  def explodedShingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val t = col("__t")
    docs.select(col(idCol).as("id"), TextAnalysis.normalize(col(textCol)).as("__t"))
      .select(col("id"), t,
        explode(sequence(lit(1), greatest(length(t) - (k - 1), lit(1)))).as("__i"))
      .select(col("id"), xxhash64(t.substr(col("__i"), lit(k))).as("h"))
  }

  /** MinHash signatures as a PURE PROJECTION: the codegen'd
    * graftbridge.MinHashSig expression computes all numHashes
    * permutation minima in one pass over each document's shingle
    * stream — no exploded rows, no shuffle, no aggregation hash map;
    * the signature pass fuses with the scan. Returns (id, sig
    * array<long>), bit-identical to the exploded-aggregation
    * formulation (equivalence is ScalaTested against
    * [[minhashSignaturesExploded]]).
    */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        numHashes: Int = 128, shingleK: Int = 5, seed: Long = 42L): DataFrame =
    Spread(docs).select(col(idCol).as("id"),
      graft.functions.VectorFunctions.minhashSig(
        TextAnalysis.normalize(col(textCol)), numHashes, shingleK, seed).as("sig"))

  /** Reference formulation of [[minhashSignatures]] — explode + numHashes
    * codegen'd `min` aggregates (one keyed shuffle). Kept for the
    * equivalence test; the projection path replaces it in hot paths.
    */
  private[graft] def minhashSignaturesExploded(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 128, shingleK: Int = 5, seed: Long = 42L): DataFrame = {
    val coeffs = permCoeffs(numHashes, seed)
    val aggs = coeffs.zipWithIndex.map { case ((a, b), j) => min(perm(col("h"), a, b)).as(s"__m$j") }
    explodedShingles(docs, idCol, textCol, shingleK)
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(j => col(s"__m$j")): _*).as("sig"))
  }

  /** Column-form MinHash signature over a shingle-hash array (for
    * pipelines that already carry the array). Prefer
    * `minhashSignatures` in hot paths — HOFs are not codegen'd.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    array(permCoeffs(numHashes, seed).map { case (a, b) =>
      array_min(transform(shingles, h => perm(h, a, b)))
    }: _*)

  /** LSH band keys: signature split into `bands` bands of
    * numHashes/bands rows each; a band key is the hash of its slice.
    * Docs sharing any band key are candidates.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array(((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(signature, b * rowsPerBand + 1, rowsPerBand))).as("key"))
    }): _*)

  /** `(id, sig)` → `(id, band, key)`: the band-explode projection every
    * banded consumer shares (batch LSH, candidate-only generator,
    * incremental delta dedup) — one definition so band-key derivation
    * can never diverge between the batch and incremental paths.
    */
  private[operators] def bandExplode(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Candidate pairs from a bucketed stream `(bucket cols..., id)` —
    * the shared LSH pair generator (MinHash bands, SimHash bands,
    * hyperplane tables).
    *
    * No self-join: each bucket's member ids are collected once and a
    * double explode emits the in-bucket combinations, so the heavy
    * stream is aggregated a single time and only 8-byte ids shuffle.
    * Skew guard is built INTO the collect: the native
    * `bounded_collect_list` aggregate keeps at most maxBucket+1
    * elements per bucket, so a degenerate bucket (e.g. the empty
    * document, a boilerplate template shared by millions of docs)
    * never materializes a giant array in an aggregation buffer — it
    * surfaces capped and the size filter drops it wholesale. One pass,
    * O(maxBucket) memory per bucket; same output as pre-counting
    * bucket sizes and anti-joining the oversized keys away, without
    * that second pass over the banded stream.
    */
  def bucketPairs(banded: DataFrame, bucketCols: Seq[String], idCol: String, maxBucket: Int): DataFrame = {
    val keys = bucketCols.map(col)
    banded
      .groupBy(keys: _*)
      .agg(graft.functions.VectorFunctions.boundedCollectList(col(idCol), maxBucket).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Candidate near-dup pairs via MinHash + LSH banding, verified with
    * signature-estimated Jaccard ≥ `threshold`.
    *
    * Scale-critical choices (measured on the synthetic corpus, where a
    * naive variant was 10× slower):
    *  - Band geometry defaults to 16 bands × 8 rows: LSH match
    *    threshold (1/b)^(1/r) ≈ 0.71, tuned for a 0.8 verify
    *    threshold. Wider/looser bands (32×4 ⇒ t≈0.42) drown a
    *    template-heavy corpus in moderately-similar candidate pairs.
    *  - The self-join and pair dedup carry ONLY 8-byte ids; 1 KB
    *    signatures re-join AFTER dedup, so the heavy shuffle is 16
    *    bytes/row, not the signature payload.
    *  - Skew guard: bucket sizes come from a tiny groupBy that is
    *    broadcast anti-joined — no window over the banded stream.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.8,
      shingleK: Int = 5,
      maxBucket: Int = 1000): DataFrame = {
    val (verified, sigs) =
      minhashLshPlan(docs, idCol, textCol, numHashes, bands, threshold, shingleK, maxBucket)
    materializeAndRelease(verified, sigs)
  }

  /** [[minhashLsh]] that returns its verified pairs PERSISTED instead of
    * checkpointed — for consumers that immediately re-scan them
    * ([[jaccardVerifyPersisted]]): the pair set materializes once into
    * the persist cache on the consumer's first action, not twice.
    * The caller owns the release handle.
    */
  def minhashLshRaw(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.8,
      shingleK: Int = 5,
      maxBucket: Int = 1000): Materialized = {
    val (verified, sigs) =
      minhashLshPlan(docs, idCol, textCol, numHashes, bands, threshold, shingleK, maxBucket)
    val out = verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Materialized(out, () => { out.unpersist(false); sigs.unpersist(false) })
  }

  /** Shared plan for [[minhashLsh]]/[[minhashLshRaw]]: returns the lazy
    * verified-pair plan plus the persisted signature table it references
    * (3 times — band explode and both verify joins), which the caller
    * releases once the result is materialized.
    */
  private def minhashLshPlan(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      shingleK: Int,
      maxBucket: Int): (DataFrame, DataFrame) = {
    val rows = bandRows(numHashes, bands)
    // The signature table feeds the band explode and both verify joins
    // (3 references). It is tiny (numHashes longs per doc) but its
    // lineage — the exploded-shingle aggregation — is the most expensive
    // subtree in the pipeline, so persist it FOR THE DURATION OF THIS
    // CALL ONLY (released via materializeAndRelease below); at warehouse
    // scale it would be checkpointed storage instead.
    val sigs = minhashSignatures(docs, idCol, textCol, numHashes, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandExplode(sigs, bands, rows)

    // Pairs via the shared guarded generator — one pass over `banded`,
    // degenerate buckets capped inside the bounded-collect aggregate.
    val pairs = bucketPairs(banded, Seq("band", "key"), "id", maxBucket)

    val verified = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      // Signature agreement via a codegen'd native expression — the
      // zip_with/filter HOF formulation is interpreted per element and
      // was the verify-stage bottleneck at high candidate volumes.
      .withColumn("est_jaccard",
        round(graft.functions.VectorFunctions.matchCountL(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes, 4))
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    (verified, sigs)
  }

  /** LSH candidate pairs WITHOUT the signature-estimate verify — for
    * consumers that exact-verify anyway ([[jaccardVerify]]): the
    * signature table has a single consumer here, so there is no
    * persist, no signature re-join and no estimate filter (which could,
    * rarely, drop a pair whose exact Jaccard passes). One projection
    * pass + one bucket aggregation + pair dedup; only 8-byte ids
    * shuffle after banding.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      shingleK: Int = 5,
      maxBucket: Int = 1000): DataFrame = {
    val rows = bandRows(numHashes, bands)
    val banded = bandExplode(minhashSignatures(docs, idCol, textCol, numHashes, shingleK),
      bands, rows)
    bucketPairs(banded, Seq("band", "key"), "id", maxBucket)
  }

  /** Validated band geometry: `bands` must evenly divide `numHashes` —
    * otherwise rowsPerBand truncates (to 0 when numHashes < bands) and
    * every document hashes the SAME empty band slice, silently
    * producing one corpus-wide bucket that the skew guard then drops:
    * an empty pair set with no error.
    */
  private[operators] def bandRows(numHashes: Int, bands: Int): Int = {
    require(bands > 0 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    numHashes / bands
  }

  /** Exact n-gram Jaccard verification for a candidate pair set —
    * used after LSH candidate generation (never on the cross product).
    *
    * Plan shape, chosen by measurement at 625k candidate pairs: the
    * candidate DOC set is small (LSH-bounded) while the candidate PAIR
    * set can be large on a template-heavy corpus, so per-doc SORTED
    * distinct-shingle arrays are broadcast to both pair joins and each
    * pair is verified by one codegen'd merge scan
    * (SortedLongArrayIntersectCount). The pair stream never shuffles
    * and never explodes. The alternatives measured 6–8× slower:
    * joining pairs to the exploded (id, hash) stream multiplies pairs
    * by ~200 shingles/doc (a 145M-row shuffle+sort), and unsorted
    * `array_intersect`/`array_union` builds hash sets per pair.
    *
    * Broadcast escape hatch: candidate-doc volume is LSH-bounded but not
    * constant-bounded — a template-heavy corpus at 100× could push the
    * shingle-set table past the broadcast budget. When the candidate-doc
    * count exceeds `maxBroadcastDocs` (default 100k ≈ 200 MB at
    * ~2 KB/doc), the verify joins switch to shuffled hash/sort-merge:
    * pairs co-partitioned with the sets table on each id — same
    * merge-scan kernel per pair, two id-keyed shuffles instead of an
    * OOM'd broadcast. Output is identical (ScalaTested both paths).
    */
  def jaccardVerify(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 5,
      threshold: Double = 0.7,
      maxBroadcastDocs: Long = 100000L): DataFrame = {
    // The candidate pair set's lineage is the whole LSH pipeline —
    // persist it (released below) so the id extraction and verify join
    // don't re-execute candidate generation.
    val cached = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (verified, sets) =
      jaccardVerifyPlan(cached, docs, idCol, textCol, shingleK, threshold, maxBroadcastDocs)
    materializeAndRelease(verified, cached, sets)
  }

  /** [[jaccardVerify]] over an ALREADY-PERSISTED pair set (e.g. from
    * [[minhashLshRaw]]): skips the re-persist, so the LSH→verify chain
    * materializes the candidate pairs exactly once. Releases the pair
    * set before returning.
    */
  def jaccardVerifyPersisted(
      docs: DataFrame,
      pairs: Materialized,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 5,
      threshold: Double = 0.7,
      maxBroadcastDocs: Long = 100000L): DataFrame = {
    val (verified, sets) =
      jaccardVerifyPlan(pairs.df, docs, idCol, textCol, shingleK, threshold, maxBroadcastDocs)
    val out = materializeAndRelease(verified, sets)
    pairs.release()
    out
  }

  /** Shared verify plan: returns the lazy verified plan plus the
    * persisted shingle-set table (two join references), which the
    * caller releases after materializing. `cached` must be persisted by
    * the caller; the candidate count probe here is its first action.
    */
  private[operators] def jaccardVerifyPlan(
      cached: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      threshold: Double,
      maxBroadcastDocs: Long): (DataFrame, DataFrame) = {
    // Only docs that appear in a candidate pair need shingle sets —
    // semi-join first so the set build runs over the candidate subset,
    // not the corpus. Jaccard is over shingle SETS, SORTED so the
    // verify kernel is a merge scan. The set build is the one-pass
    // codegen'd ShingleSet projection — no exploded rows, no
    // aggregation shuffle (the explode + collect_set formulation was
    // the dominant verify cost: ~20M exploded rows at sf0.1).
    val candIds = cached.select(col("id_a").as(idCol))
      .unionByName(cached.select(col("id_b").as(idCol))).distinct()
    // One cheap action on the (persisted) pair set decides the join
    // strategy; it also materializes the pairs for the joins below.
    val nCand = candIds.count()
    val small = nCand <= maxBroadcastDocs
    val hint: DataFrame => DataFrame = if (small) broadcast else identity
    // Spread BEFORE the set build: the ShingleSet kernel is the verify
    // stage's dominant per-row cost and a single-split corpus scan
    // would run it serially (opt guide §2.5 — see [[Spread]]).
    val candDocs = Spread(docs).join(hint(candIds), Seq(idCol), "left_semi")
    // The set table feeds both verify joins — persist so the projection
    // and semi-join run once (released by caller).
    val sets = candDocs.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.shingleSet(
        TextAnalysis.normalize(col(textCol)), shingleK).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small path: both set joins BROADCAST — the pair stream is verified
    // map-side, never shuffles, never explodes. Large path: shuffled
    // joins co-partition pairs with sets on each id (ids-only pair rows
    // shuffle; one set array rides along between the joins).
    // |A∪B| = |A|+|B|−|A∩B|.
    val verified = cached
      .join(hint(sets.select(col("id").as("id_a"), col("sh").as("sh_a"))), Seq("id_a"))
      .join(hint(sets.select(col("id").as("id_b"), col("sh").as("sh_b"))), Seq("id_b"))
      .withColumn("inter",
        graft.functions.VectorFunctions.sortedIntersectCountL(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (verified, sets)
  }

  /** [[nearDupGroups]]' output: (doc_id, group_id), both non-null ids. */
  private val GroupSchema = new StructType()
    .add("doc_id", LongType, nullable = false).add("group_id", LongType, nullable = false)

  /** Resolve near-dup PAIRS into GROUPS: connected components by
    * iterative min-label propagation ("hash-to-min"): every vertex
    * starts labelled with its own id; each round it takes the min of
    * its label and its neighbours' labels; convergence in O(log
    * diameter) rounds (near-dup components are cliques-ish, so
    * typically 2–3). Returns (doc_id, group_id = min id in component)
    * for every doc that appears in a pair — the keeper set for
    * corpus-level near-dedup is then "group_id rows plus all unpaired
    * docs".
    *
    * Scale shape: each round is ONE shuffle keyed on the 8-byte id
    * (edges join labels + min aggregation); the edge list carries ids
    * only. Intermediate label tables are localCheckpoint'd (small —
    * one row per paired doc) and their BLOCKS released each round via
    * [[releaseCheckpoint]] (Dataset.unpersist is a no-op on checkpoint
    * blocks); convergence is detected with a limit(1) existence probe,
    * not a full count. Up to `localMaxPairs` pairs the components
    * resolve in a driver-side union-find instead — identical output,
    * one bounded collect instead of rounds (see the inline note).
    */
  def nearDupGroups(pairs: DataFrame, maxIters: Int = 20,
                    localMaxPairs: Long = 500000L): DataFrame = {
    // Size-adaptive: a verified near-dup pair set is LSH-bounded and
    // usually orders of magnitude smaller than the corpus; up to
    // `localMaxPairs` (≤ ~16 MB of ids — the same driver-payload class
    // as the IVF centroids) a driver-side union-find resolves the
    // components from one bounded collect instead of ~3 jobs ×
    // O(diameter) rounds of label propagation. Identical output
    // (GroundTruthSuite asserts equality with naive union-find); the
    // iterative path below remains the scale route and kicks in
    // automatically once the collect comes back over the threshold.
    // coalesce(1): one task reads the pair partitions in turn and stops
    // at the limit, so the probe is one job whatever the partitioning
    // (a plain limit-collect scans 1, then 4×, … partitions per job)
    val cap = math.min(math.max(localMaxPairs, 0L), Int.MaxValue - 1L).toInt
    val sample = pairs.select("id_a", "id_b").coalesce(1).limit(cap + 1).collect()
    // a 100 TB operator needs to SEE which route ran (and tune
    // local_max_pairs / max_iters from the YAML dedup step if the
    // default threshold is wrong for its pair volume)
    val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
    if (sample.length <= localMaxPairs) {
      log.info(s"nearDupGroups: ${sample.length} pairs <= localMaxPairs=$localMaxPairs" +
        " — resolving components in the driver union-find (one collect)")
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      val members = scala.collection.mutable.HashSet.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      sample.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        members += a; members += b
        val (ra, rb) = (find(a), find(b))
        // union by MIN root, so every component's label is its minimal
        // id — the hash-to-min invariant of the distributed path
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      // rows + explicit schema: no encoder derivation, and the result is
      // already materialized on the driver (a local relation)
      val rowsOut = new java.util.ArrayList[Row](members.size)
      members.foreach(id => rowsOut.add(Row(id, find(id))))
      return pairs.sparkSession.createDataFrame(rowsOut, GroupSchema)
    }
    val edges = pairs.select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    log.info(s"nearDupGroups: more than $localMaxPairs pairs (localMaxPairs)" +
      s" — distributed label propagation (maxIters=$maxIters)")
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val msgs = edges.join(labels.withColumnRenamed("id", "id_a"), Seq("id_a"))
        .select(col("id_b").as("id"), col("label"))
      val next = labels.unionByName(msgs)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .where(col("label") =!= col("old")).limit(1).count() == 0
      releaseCheckpoint(labels)
      labels = next
      i += 1
    }
    edges.unpersist(false)
    // Materialize the (renamed) result into its own checkpoint, then
    // free the last round's label blocks — nothing from the iteration
    // outlives the call.
    val out = labels.select(col("id").as("doc_id"), col("label").as("group_id"))
      .localCheckpoint(true)
    releaseCheckpoint(labels)
    out
  }

  /** 64-bit weighted SimHash per document as a PURE PROJECTION — the
    * codegen'd graftbridge.SimHash64 expression runs the per-bit ±1
    * counters in one pass over the shingle stream (repeated shingles
    * add weight). No explode, no shuffle; bit-identical to the
    * exploded-aggregation formulation ([[simhashExploded]], kept for
    * the equivalence test).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", shingleK: Int = 5): DataFrame =
    Spread(docs).select(col(idCol).as("id"),
      graft.functions.VectorFunctions.simhash64(
        TextAnalysis.normalize(col(textCol)), shingleK).as("simhash"))

  /** Reference formulation of [[simhash]]: explode shingle hashes, sum
    * ±1 per bit position over one keyed shuffle, reassemble the sign
    * vector.
    */
  private[graft] def simhashExploded(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", shingleK: Int = 5): DataFrame = {
    val exploded = explodedShingles(docs, idCol, textCol, shingleK)
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = exploded.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("id"), sim.as("simhash"))
  }

  /** ORACLE-PORTABLE simhash signature: same sign-sum construction as
    * [[simhash]], but the per-shingle hash is the first 15 hex chars
    * of md5 (a 60-bit value) instead of xxhash64 — md5 is the one
    * hash family Spark and DuckDB compute bit-identically, so this
    * signature is reproducible in pure SQL and the pairing machinery
    * downstream of it can be driver-hashed (q96). 60 bits (not 64):
    * 15 hex digits parse into a BIGINT without overflow in either
    * engine; the top 4 bits of the signature are structurally 0,
    * which the 4×16-bit banding tolerates (band 3 simply has 12 live
    * bits). An ORACLE DEVICE — production simhash stays on the
    * codegen'd xxhash64 kernel ([[simhash]]); this explode+agg
    * formulation is O(shingles) rows through one keyed shuffle,
    * priced for the ≤512-doc capped corpus q96 runs it on.
    */
  def simhashPortable(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                      shingleK: Int = 5): DataFrame = {
    val t = col("__t")
    val shingles = Spread(docs)
      .select(col(idCol).as("id"), TextAnalysis.normalize(col(textCol)).as("__t"))
      .select(col("id"), t,
        explode(sequence(lit(1), greatest(length(t) - (shingleK - 1), lit(1)))).as("__i"))
      .select(col("id"),
        conv(substring(md5(t.substr(col("__i"), lit(shingleK)).cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val bitSums = (0 until 60).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val agg = shingles.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("id"), sim.as("simhash"))
  }

  /** Near-dup groups by SimHash: candidates share one of 4 16-bit bands
    * (hamming distance ≤ 3 guarantees a shared band by pigeonhole);
    * verified by popcount of XOR ≤ `maxHamming`.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    simhashPairsFrom(simhash(docs, idCol, textCol), maxHamming, maxBucket)

  /** Banding + bounded pair generation + hamming verify over a
    * precomputed `(id, simhash)` frame — the machinery of
    * [[simhashPairs]] behind any signature source (the production
    * xxhash64 kernel, or [[simhashPortable]] for the q96 oracle
    * closure). At maxHamming ≤ 3 the 4-band split is LOSSLESS by
    * pigeonhole, so the output equals exact all-pairs hamming
    * filtering — which is what lets a DuckDB oracle reproduce it
    * without reimplementing the banding.
    */
  def simhashPairsFrom(signatures: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    // `sh` feeds the band explode and both verify joins (3 references);
    // its lineage is the signature computation — persist for this call
    // so it executes once, release before returning (same hygiene as
    // minhashLsh).
    val sh = signatures
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sh.select(col("id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // Shared guarded pair generation (bounded collect, one pass);
    // 8-byte simhashes re-join after pair dedup.
    val verified = bucketPairs(banded, Seq("band", "key"), "id", maxBucket)
      .join(sh.select(col("id").as("id_a"), col("simhash").as("h_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("simhash").as("h_b")), Seq("id_b"))
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    materializeAndRelease(verified, sh)
  }

  /** CROSS-DOCUMENT DUPLICATED-SUBSTRING SPANS — the exact substring
    * dedup signal from the dedup literature (a training corpus keeps
    * near-unique documents that still share long verbatim passages:
    * boilerplate, licenses, quoted blocks; span-level dedup removes
    * them where document-level dedup can't). For every length-`n`
    * character window, find windows occurring in >= `minDocs` distinct
    * documents, then merge each document's flagged windows into
    * disjoint intervals and report the covered character count and
    * fraction — the score a curation filter thresholds on.
    *
    * Plan shape (nothing is O(corpus²)):
    *  1. window stage: one codegen'd kernel walks each doc's code
    *     points once and emits its window array
    *     ([[org.apache.spark.sql.graftbridge.CharWindowGrams]], no UDF)
    *     — O(total chars) array entries, exploded per use;
    *  2. duplicated-gram set: ONE hash aggregation with map-side
    *     partials over each doc's DISTINCT window keys
    *     (`array_distinct` of the kernel's array, so a gram repeated
    *     inside one doc counts once toward `minDocs`), then a semi join
    *     of the `posexplode`d windows back;
    *  3. per-doc interval merge: one window function pass ordered by
    *     start (running max of span end), sum of uncovered deltas —
    *     O(flagged windows log), never materializing per-position rows.
    *
    * `hashed = true` replaces the n-byte gram key with xxhash64 — the
    * 100 TB shuffle shape (8 B keys; a collision can only over-mark
    * ~2⁻⁶⁴ of windows). Exact mode is the oracle surface (q119).
    * `idCol` must be a key of `docs` (one row per document).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 50,
                      minDocs: Int = 2, hashed: Boolean = false): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    spanCoverage(base, flaggedWindowStarts(base, n, minDocs, hashed), n)
  }

  /** SPAN-LEVEL DEDUP TRANSFORM — the companion of [[duplicatedSpans]]
    * that actually APPLIES the cut: every character covered by a
    * cross-document duplicated window is removed and the surviving
    * segments re-concatenate in order (the exact-substring dedup
    * transformation from the dedup literature — document-level dedup
    * keeps both near-unique docs AND their shared verbatim passage;
    * this removes the passage from every carrier).
    *
    * Plan shape: [[flaggedWindowStarts]]'s bounded pipeline, then
    * gaps-and-islands entirely in window functions (break marker →
    * running island id → min/max per island = the merged intervals),
    * one `collect_list(struct(s,e))` per DOC (bounded: intervals per
    * doc ≤ len/n after merging — they are disjoint by construction),
    * and the rebuild is a codegen'd higher-order `aggregate` fold over
    * the sorted interval array slicing the original text — no UDF, no
    * per-position rows, no driver involvement.
    * `idCol` must be a key of `docs`.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", n: Int = 50,
                            minDocs: Int = 2, hashed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val dup = flaggedWindowStarts(base, n, minDocs, hashed)
    val before = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, 0)
    val intervals = dup
      .withColumn("brk", when(col("start") >
        coalesce(max(col("start") + n).over(before), lit(0)), 1).otherwise(0))
      .withColumn("island", sum("brk").over(upTo))
      .groupBy("doc_id", "island")
      .agg(min("start").as("s"), (max("start") + n).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    // fold the disjoint sorted intervals: acc = (next uncut position,
    // rebuilt prefix); each interval appends the gap before it
    val rebuilt = base.join(intervals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ivs").isNull, col("__t")).otherwise(
          aggregate(col("ivs"),
            struct(lit(1).as("pos"), lit("").as("acc")),
            (acc, iv) => struct(iv.getField("e").as("pos"),
              concat(acc.getField("acc"),
                col("__t").substr(acc.getField("pos"),
                  iv.getField("s") - acc.getField("pos"))).as("acc")),
            acc => concat(acc.getField("acc"),
              col("__t").substr(acc.getField("pos"), length(col("__t"))))))
          .as("clean_text"))
    rebuilt
  }

  /** Every length-`n` window of `base` (which must carry
    * (doc_id, __t)) as (doc_id, start, g) — `g` is the raw n-char gram
    * or its xxhash64 under `hashed` (the 100 TB shuffle shape,
    * ~2⁻⁶⁴ over-mark rate), `start` its 1-based char offset. A doc
    * shorter than n has no length-n window at all. The hashes are the
    * keys a gram store persists ([[IncrementalDedup.initGramStore]]):
    * bit-identical to `xxhash64(substring(text, start, n))`.
    */
  private[operators] def windowGrams(base: DataFrame, n: Int,
                                     hashed: Boolean): DataFrame =
    positioned(windowArrays(base, n, hashed))

  /** (doc_id, __w): each doc's window array from ONE code-point walk
    * ([[org.apache.spark.sql.graftbridge.CharWindowGrams]]; index i is
    * the window starting at char i + 1), spread first so the kernel
    * runs on every core of a single-split input.
    */
  private[operators] def windowArrays(base: DataFrame, n: Int, hashed: Boolean): DataFrame = {
    require(n >= 2, s"window length must be >= 2: $n")
    import org.apache.spark.sql.graftbridge.{CharWindowGrams, ColumnBridge}
    Spread(base).select(col("doc_id"),
      ColumnBridge.column(CharWindowGrams(ColumnBridge.expression(col("__t")), n, hashed))
        .as("__w"))
  }

  /** [[windowArrays]] output exploded to (doc_id, start, g) rows. */
  private[operators] def positioned(w: DataFrame): DataFrame =
    w.select(col("doc_id"), posexplode(col("__w")).as(Seq("pos", "g")))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("g"))

  /** Merged-interval coverage of flagged window starts: per doc of
    * `base`, how many characters the length-`n` windows at `dup`'s
    * (doc_id, start) rows cover (one running-max window pass per doc
    * — never per-position rows), left-joined back so unflagged docs
    * score 0. Output: (doc_id, dup_chars, dup_frac).
    */
  private[operators] def spanCoverage(base: DataFrame, dup: DataFrame,
                                      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val before = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = dup
      .withColumn("prevEnd", coalesce(max(col("start") + n).over(before), lit(0)))
      .withColumn("covered",
        greatest(lit(0), (col("start") + n) - greatest(col("start"), col("prevEnd"))))
      .groupBy("doc_id").agg(sum("covered").cast("long").as("dup_chars"))
    base.select(col("doc_id"), length(col("__t")).as("__len"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        when(col("__len") > 0,
          coalesce(col("dup_chars"), lit(0L)) * lit(1.0) / col("__len"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Shared front end of [[duplicatedSpans]] / [[removeDuplicatedSpans]]:
    * the start offsets (1-based) of every length-`n` window occurring
    * in >= `minDocs` distinct documents. `base` must carry
    * (doc_id, __t), one row per doc. Doc frequency counts each doc's
    * DISTINCT window keys (a gram repeated 1M times inside ONE document
    * contributes one row, not 1M — a hot gram's reducer fan-in stays
    * bounded by map-side partials); the probe side `posexplode`s the
    * same window arrays.
    */
  private def flaggedWindowStarts(base: DataFrame, n: Int, minDocs: Int,
                                  hashed: Boolean): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val w = windowArrays(base, n, hashed)
    val dupG = w.select(explode(array_distinct(col("__w"))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs).select("g")
    positioned(w).join(dupG, Seq("g"), "left_semi").select("doc_id", "start")
  }
}

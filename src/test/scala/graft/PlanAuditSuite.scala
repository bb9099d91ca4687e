package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan audits for the scale-critical queries: these pin the
  * plan shapes that make the operators viable at 100 TB — filter
  * pushdown reaching the parquet scan, column pruning, broadcast joins
  * on dimension sides, equi-join extraction from mixed range
  * predicates, codegen'd kernels in the hot path. A regression here
  * (e.g. a refactor that re-orders a filter past a non-deterministic
  * projection, or widens a scan) passes every correctness test and
  * silently 10×es the cluster bill — so the plans themselves are under
  * test.
  */
class PlanAuditSuite extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  /** Count physical nodes of a kind via their detail headers —
    * FormattedMode prints each node once in the tree and once as a
    * `(n) NodeName` detail block, so raw substring counts double-count.
    */
  private def count(hay: String, node: String): Int =
    hay.linesIterator.count(_.trim.matches(s"""\\(\\d+\\) $node(\\s.*)?"""))

  test("q02: predicates push into the parquet scan; scan is column-pruned") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
    // projection needs 4 columns — the 16-column lineitem scan must not
    // read the rest (ReadSchema shows the pruned set)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"), read)
  }

  test("q03: all three dims broadcast — the fact side never shuffles for the joins") {
    val p = plan("q03_join")
    assert(count(p, "BroadcastHashJoin") == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q54: equi key extracted from the mixed range condition — no nested loop") {
    val p = plan("q54_range_agg")
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q34: knn scans the corpus once with the codegen'd dot-product kernel") {
    val p = plan("q34_knn_brute")
    assert(p.toLowerCase.contains("float_dot"), p)
    // the probe side is the broadcast side (tiny), corpus streamed once
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q37: document-frequency side is broadcast, corpus side never re-shuffles for it") {
    val p = plan("q37_tfidf")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01: aggregation is map-side partial then final — one shuffle on the group keys") {
    val p = plan("q01_agg")
    assert(p.contains("HashAggregate"), p)
    assert(count(p, "Exchange") <= 2, p) // group-key exchange + top-level sort
    assert(p.contains("partial_sum"), p) // map-side combine before the shuffle
  }

  test("q30 signature stage is a pure projection — the only exchange is the input spread") {
    val sigs = graft.operators.Dedup.minhashSignatures(
      Tables.load(spark, sfDir, "documents"))
    val p = sigs.queryExecution.explainString(FormattedMode)
    assert(p.toLowerCase.contains("minhash_sig"), p)
    // r18: the single-split bench input gains ONE round-robin Spread
    // repartition so the kernel parallelizes (guide §2.5); the
    // signature computation itself stays a scan-fused projection with
    // no keyed shuffle — no hashpartitioning anywhere
    assert(count(p, "Exchange") <= 1, p)
    assert(!p.contains("hashpartitioning"), p)
    assert(p.toLowerCase.contains("roundrobinpartitioning") || count(p, "Exchange") == 0, p)
  }

  test("q12: all validation rules evaluate in ONE scan of the table") {
    // drune runs 2 Spark jobs per rule; graft's Validator compiles k
    // rules into one flag struct — the plan must read customer once.
    val p = plan("q12_validate_counts")
    assert(count(p, "Scan parquet customer") + count(p, "Scan parquet") == 1, p)
  }

  test("q40: the eval-set gram table broadcasts; the training stream never shuffles on gram") {
    val p = plan("q40_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only exchanges allowed are doc-id-keyed (dedup/window/agg) —
    // never on the gram hash of the training side
    assert(!p.contains("hashpartitioning(gh"), p)
    // the gram stage is the codegen'd word_gram_hashes projection: the
    // training side reaches the broadcast join with no KEYED upstream
    // exchange (no lead-window shuffle, no dropDuplicates) — the
    // keyed exchanges are the two of the count-distinct expand
    // aggregation (doc-keyed) and the final orderBy; r18 adds up to
    // two round-robin Spread repartitions (train + eval input spread,
    // guide §2.5), which carry no key and cannot co-locate grams
    assert(p.toLowerCase.contains("word_gram_hashes"), p)
    assert(count(p, "Exchange") <= 5, p)
    assert(count(p, "Exchange") - p.linesIterator
      .count(_.toLowerCase.contains("roundrobinpartitioning")) <= 3, p)
    assert(!p.contains("Window"), p)
  }

  test("q28: the bigram stage is a scan-fused projection — one count shuffle, no window") {
    val p = plan("q28_ngrams")
    assert(p.toLowerCase.contains("word_grams"), p)
    assert(!p.contains("Window"), p)
    // gram-key aggregation exchange + top-k sort only
    assert(count(p, "Exchange") <= 2, p)
  }

  test("q90: the boilerplate set broadcasts back — the exploded stream never shuffles for it") {
    val p = plan("q90_boilerplate")
    // the docfreq > k set joins back via broadcast, never a sort-merge
    // of the full segment stream against itself
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q87: the two-level NDV read aggregates the bounded rollup — no join, no fact rescan") {
    val p = plan("q87_matview_ndv")
    assert(!p.contains("Join"), p)
    // the scan reads the ROLLUP's dirs, never the source fact root
    assert(!p.contains("q87src"), p)
  }

  test("q52: the three window functions share one shuffle+sort") {
    val p = plan("q52_ntile")
    // one exchange for the window partition key, one for the output sort
    assert(count(p, "Exchange") <= 2, p)
    assert(count(p, "Window") <= 2, p) // rank family + ntile may split frames
  }

  test("native as-of on clustered inputs: zero exchanges, no union/window/nested loop") {
    import org.apache.spark.sql.functions.col
    // pre-clustered inputs (the bucketed-at-ingest layout): the exec's
    // declared distribution/ordering lets EnsureRequirements elide
    // every exchange — the structural win over the union+window
    // formulation, which must always re-shuffle both sides together.
    val left = Tables.load(spark, sfDir, "events")
      .repartition(4, col("user_id")).sortWithinPartitions("user_id", "ts")
    val right = graft.operators.Relational.latestByKey(
        Tables.load(spark, sfDir, "orders"), Seq("o_custkey", "o_orderdate"), "o_orderkey", Nil)
      .withColumnRenamed("o_custkey", "user_id")
      .repartition(4, col("user_id")).sortWithinPartitions("user_id", "o_orderdate")
    val p = graft.operators.Relational.asOfNative(
        left, right, "user_id", "ts", "o_orderdate", Seq("o_orderkey", "o_totalprice"))
      .queryExecution.explainString(FormattedMode)
    assert(count(p, "AsOfJoin") == 1, p)
    assert(!p.contains("BroadcastNestedLoop") && count(p, "Union") == 0, p)
    // the only exchanges are the explicit repartitions of the inputs
    // (and latestByKey's own window shuffle) — the as-of adds NONE: the
    // AsOfJoin node sits directly on the repartition/sort output
    val lines = p.linesIterator.toSeq
    val asOfLine = lines.indexWhere(_.trim.matches("""\(\d+\) AsOfJoin.*"""))
    assert(asOfLine >= 0, p)
    assert(count(p, "Exchange") <= 3, p) // 2 repartitions + latestByKey window
  }

  test("q62: the funnel's time window rides the user_id hash join, never a nested loop") {
    val p = plan("q62_funnel")
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q60: the space-saving sketch aggregates partially map-side (object hash path)") {
    val p = plan("q60_topk_sketch")
    assert(p.toLowerCase.contains("space_saving_topk"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial_space_saving_topk"), p)
  }

  test("q77: the append-only CDC span plans with NO join — the manifest fast path") {
    val p = plan("q77_cdc_append_sql")
    assert(!p.contains("Join"), p) // no full-outer reconciliation anywhere
    assert(!p.contains("Exchange") || count(p, "Exchange") <= 1, p) // sort for orderBy only
  }

  test("q76: exact-mode PQ still reads codes via the broadcast probe join, corpus once") {
    val p = plan("q76_ivfpq_exact")
    // probe side broadcast (tiny), codes side scanned — never the reverse
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q83: the DSv2 graft scan pushes the filter and prunes the read schema") {
    val p = plan("q83_dsv2_read")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThanOrEqual(l_quantity,25") || p.contains("IsNotNull(l_quantity")), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"),
      s"the DSv2 scan read a column the aggregation never uses: $read")
    // one BatchScan (DSv2), not a per-directory union of v1 scans
    assert(count(p, "BatchScan") == 1, p)
  }

  test("q78: the YAML matview read is a bounded rollup scan, no join, no fact rescan") {
    val p = plan("q78_matview_yaml")
    // the RETURNED plan reads the committed rollup (group cardinality
    // bounded), not the fact — refresh work happened at build time as
    // manifest commits
    assert(!p.contains("Join"), p)
    val read = p.linesIterator.find(_.contains("Location")).getOrElse("")
    assert(!read.contains("orders.parquet"), read)
  }

  test("matrix kernels: centroids/planes ride the expression, not the plan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    // 128 planes × 512 dims (and 256 centroids × 512 dims) as nested
    // lit() arrays would be ~65k Literal NODES — an analyzer/codegen
    // wall. The native kernels must keep the plan O(1) in matrix size.
    val rnd = new scala.util.Random(7)
    val emb = spark.range(4).selectExpr("id",
      "transform(sequence(1, 512), x -> cast(rand(42) as float)) as embedding")
    def literals(df: DataFrame): Int =
      df.queryExecution.analyzed.expressions
        .flatMap(_.collect { case l: Literal => l }).size
    val bucketed = emb.select(
      graft.operators.Similarity.hyperplaneBucket(col("embedding"), dim = 512, planes = 128))
    assert(literals(bucketed) < 50,
      s"hyperplane planes leaked into the plan as ${literals(bucketed)} literals")
    val cents = (0 until 256).map(i => i -> Array.fill(512)(rnd.nextGaussian().toFloat))
    val assigned = emb.select(
      graft.operators.Similarity.ivfAssign(col("embedding"), cents).as("list_id"),
      graft.operators.Similarity.ivfProbeLists(col("embedding"), cents, 8).as("probe"))
    assert(literals(assigned) < 50,
      s"centroids leaked into the plan as ${literals(assigned)} literals")
    // and the kernels actually evaluate at this size
    assert(assigned.collect().length == 4)
    assert(bucketed.collect().length == 4)
  }

  test("q99: assignment fuses with the scan — kernel projection, one agg, no join") {
    val p = plan("q99_kmeans")
    assert(p.toLowerCase.contains("nearest_centroid"), p)
    assert(count(p, "HashAggregate") >= 1, p)
    assert(!p.contains("Join"), p)
    // pure projection + k-row agg: exactly one shuffle (the agg's)
    assert(count(p, "Exchange") <= 2, p) // agg + final orderBy range
  }

  test("q100: the balanced sample is a pure filter — no window, no per-cluster sort") {
    val p = plan("q100_cluster_sample")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the per-cluster rate rides a when-chain, the bucket a hash
    // projection: the sample itself must not shuffle (the only
    // Exchange allowed is the final orderBy's range partition)
    assert(count(p, "Exchange") <= 1, p)
    val sorts = p.linesIterator.count(_.trim.matches("""\(\d+\) Sort(\s.*)?"""))
    assert(sorts <= 1, s"only the final presentation sort is allowed:\n$p")
  }

  test("q102: semDedup pairs shuffle on cluster carrying ids only; no cartesian anywhere") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = graft.operators.Clustering.fixedCentroids(emb, 8)
    val (surv, _) = graft.operators.Clustering.semDedupPlan(
      emb, cents, 0.30, 4000, "vec_id", "embedding", persist = false)
    val p = surv.queryExecution.explainString(FormattedMode)
    assert(p.toLowerCase.contains("nearest_centroid"), p)      // kernel assignment, fused
    assert(p.toLowerCase.contains("bounded_collect"), p)        // capped pair generation
    assert(p.contains("hashpartitioning(cluster"), p)           // the quadratic is cluster-bounded
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("Window"), p)
    // the vectors join back by 8-byte id for the verify — never by vector
    assert(!p.contains("hashpartitioning(vec, ") && !p.contains("hashpartitioning(embedding"), p)
  }

  test("q103: the mixture sample is a pure filter — no join, no window, text never read") {
    val p = plan("q103_domain_mix")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(count(p, "Exchange") <= 1, p) // only the presentation orderBy
    // projection needs doc_id+lang: the documents scan must not read text
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("text"), read)
  }

  test("q112: overlap chunking is map-side — no keyed shuffle, no window, no join") {
    val p = plan("q112_chunk_overlap")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    // presentation orderBy + (r18) the input Spread repartition; the
    // chunking itself never shuffles on a key
    assert(count(p, "Exchange") <= 2, p)
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("Generate"), p)    // the posexplode, map-side
  }

  test("q113: keep-best dedup is ONE aggregation with map-side partials — no window, no join-back") {
    val p = plan("q113_dedup_best")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    // the struct max_by buffer isn't hash-aggregable, so this is a
    // SortAggregate pair — PARTIAL + final proves map-side combine
    // (shuffle volume is one row per (map partition, fingerprint), and
    // the sorts are spillable); one fp exchange + the presentation sort
    assert(count(p, "SortAggregate") == 2, p)
    assert(p.contains("hashpartitioning(_fp"), p)
    // one fp exchange + presentation sort + (r18) the input Spread
    assert(count(p, "Exchange") <= 3, p)
    assert(p.linesIterator.count(_.contains("hashpartitioning(_fp")) <= 2, p)
  }

  test("curate: the token/langid kernels run only above the Spread exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val curated = graft.operators.Curation.curate(
      Tables.load(spark, sfDir, "documents"), minTokens = 5)
    val phys = curated.queryExecution.sparkPlan
    val spreads = phys.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    // the single-split bench input gets exactly one round-robin spread
    assert(spreads.size == 1, phys.treeString)
    // a gate on the features below the exchange would evaluate
    // tokenCount/langId on the unsplit scan, then again above it
    def runsKernel(root: org.apache.spark.sql.execution.SparkPlan): Boolean =
      root.collect { case n => n }.flatMap(_.expressions)
        .exists(_.exists(_.prettyName == "regexp_extract_all"))
    assert(runsKernel(phys), phys.treeString) // not vacuous: the kernel is in the plan
    assert(!runsKernel(spreads.head.child), phys.treeString)
  }

  test("text operators fold case through the graftbridge kernels, never Spark's lower/upper/initcap") {
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
    import org.apache.spark.sql.functions.col
    import graft.operators.{Curation, Dedup, TextAnalysis}
    val docs = Tables.load(spark, sfDir, "documents")
    // (operator, a kernel its plan must hold, so the check is not vacuous);
    // the MinHash dedup step's only text stage is its signature projection
    val frames = Seq(
      ("curate", "lang_id", Curation.curate(docs, minTokens = 5)),
      ("minhash dedup", "normalize_text", Dedup.minhashSignatures(docs)),
      ("decontaminate", "normalize_text", Curation.decontaminate(docs, docs.limit(5))),
      ("exact dedup", "normalize_text", Dedup.exact(docs)),
      ("gopherRules", "stopword_hits",
        docs.select(TextAnalysis.gopherRules(col("text")).map { case (n, c) => c.as(n) }: _*)))
    for ((name, kernel, df) <- frames) {
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.collectWithSubqueries { case n => n }.flatMap(_.expressions)
      val caseMaps = exprs.flatMap(_.collect { case e @ (_: Lower | _: Upper | _: InitCap) => e })
      assert(caseMaps.isEmpty, s"$name folds case through Spark: $caseMaps\n$plan")
      assert(exprs.exists(_.exists(_.prettyName == kernel)), s"$name: no $kernel\n$plan")
    }
  }

  test("q114: vocab top-k plans as TakeOrdered, never a single-partition global sort") {
    val p = plan("q114_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
    // both aggregations keep map-side partials
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("q115: contamination score broadcasts eval grams; corpus grams shuffle once by id") {
    val p = plan("q115_contamination_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    // id-keyed aggregation + presentation orderBy: at most 2 big-side
    // exchanges (broadcast exchanges excluded by the hashpartitioning key)
    assert(p.linesIterator.count(_.contains("hashpartitioning(")) <= 2, p)
  }

  test("q119: window explode is codegen (no UDF); no cartesian; doc-bounded interval window") {
    val p = plan("q119_substring_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ArrowEval"), p)
    // the windows come from the one-pass kernel, exploded by a
    // Generate — not a per-position sequence + substring
    assert(p.contains("char_windows("), p)
    assert(!p.contains("sequence("), p)
    assert(p.contains("Generate"), p)
    // the duplicated-gram probe is a semi join; the coverage pass is
    // ONE window over (doc_id, start) — never a per-position explode
    assert(p.contains("LeftSemi"), p)
    assert(count(p, "Window") == 1, p)
    // distinct-doc bounding: each doc's distinct windows feed a
    // gram-keyed count with map-side partials
    assert(p.contains("hashpartitioning(g"), p)
  }

  test("q120: the text rebuild is a codegen fold — no UDF, no per-position rows, doc-bounded windows") {
    val p = plan("q120_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ArrowEval"), p)
    // the interval fold is a higher-order aggregate in a projection.
    // TWO Generates = the gram front end's two explodes of the kernel's
    // window array (distinct windows for the duplicated-gram set +
    // positions for the probe side of the semi join); a THIRD would
    // mean intervals re-exploding into per-position rows
    assert(p.contains("char_windows("), p)
    assert(!p.contains("sequence("), p)
    assert(count(p, "Generate") == 2, p)
    // gaps-and-islands: two window passes over (doc_id, start), both
    // doc-partitioned (brk marker + running island id fuse into one
    // Window node when their specs match)
    assert(count(p, "Window") <= 2 && count(p, "Window") >= 1, p)
  }

  test("q127: corpus-wide BPE encode is ONE documents scan — no vocab join, no window") {
    // (building this plan trains the 8 merges — bounded driver loop)
    val p = plan("q127_bpe_encode")
    assert(count(p, "Scan parquet") == 1, p)
    assert(!p.contains("HashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("NestedLoop") && !p.contains("Window"), p)
    // the merge applications are literal replaces inside the projection
    assert(p.toLowerCase.contains("replace"), p)
  }

  test("q134: unigram walk runs on DISTINCT word forms; text scanned once, no window") {
    // (building this plan trains the piece vocab — bounded topK collect)
    val p = plan("q134_unigram")
    // three documents scans: the id spine (doc_id only) + the word
    // explode once under each consumer of the per-(doc, word) table
    // (the distinct side and the join side — planner exchange reuse
    // does not unify them; the measured total still beats the
    // single-scan per-occurrence walk 3.2× at sf1). A fourth scan
    // means a consumer stopped sharing the word aggregation shape.
    assert(count(p, "Scan parquet") == 3, p)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct") &&
      !p.contains("Window"), p)
    // the greedy walk is inlined literal-array probes in a projection
    // over the DISTINCT word side, never an expanded per-piece join
    assert(p.toLowerCase.contains("array_contains"), p)
  }

  test("q129: the pruned LM broadcasts; corpus text explodes exactly once") {
    val p = plan("q129_lm_score")
    // the (w1,w2) probe against the LM must be a broadcast, never a
    // sort-merge of the full bigram stream against the model
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // three documents scans: the bigram explode, the id spine, and the
    // LM's training slice — a fourth means the two-aggregation shape
    // (totals + found as separate corpus passes) regressed
    assert(count(p, "Scan parquet") == 3, p)
  }

  test("q126: each BPE step aggregates the vocab table — partial then final, no corpus join") {
    // the RESULT frame is driver-built (k merge rows); audit the
    // per-step aggregation plan through the operator's own word prep
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val words = graft.operators.BpeTrainer.wordCounts(docs)
    val step = words
      .where(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("seq")) >= 2)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          "transform(sequence(1, length(seq) - 1), p -> substring(seq, p, 2))"))
        .as("pair"),
        org.apache.spark.sql.functions.col("cnt"))
      .groupBy("pair")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("c"))
    val p = step.queryExecution.explainString(FormattedMode)
    // two-phase word count + two-phase pair count, nothing else
    assert(count(p, "HashAggregate") == 4, p)
    assert(!p.contains("HashJoin") && !p.contains("SortMergeJoin"), p)
  }
}

package graft.operators

import graft.SparkSpec
import graft.pipeline.VersionedTable
import org.apache.spark.sql.functions._

/** Incremental (delta-vs-store) dedup: exact equivalence to the batch
  * operator, survivor semantics, the O(delta) store append, and the
  * exact-fingerprint variant's contract.
  */
class IncrementalDedupSuite extends SparkSpec {
  import spark.implicits._

  /** Seeded template corpus (GroundTruthSuite's recipe): 30 templates
    * × 5 lightly-mutated copies. Ids t*5+i; copies of one template are
    * mutual near-dups, templates are mutually unrelated.
    */
  private lazy val corpusAll: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(321)
    val words = Vector("data", "spark", "engine", "query", "scale", "table", "join",
      "batch", "stream", "vector", "index", "shard", "merge", "scan", "cache")
    def sentence() = Seq.fill(8 + rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" ")
    val templates = Seq.fill(30)(Seq.fill(6)(sentence()).mkString(". "))
    templates.zipWithIndex.flatMap { case (tpl, t) =>
      (0 until 5).map { i =>
        val text = if (i == 0) tpl
          else tpl.split(" ").map(w =>
            if (rnd.nextInt(12) == 0) words(rnd.nextInt(words.size)) else w).mkString(" ")
        ((t * 5 + i).toLong, text)
      }
    }
  }

  // Delta = copies 0 and 1 of each template: plenty of delta-vs-corpus
  // pairs AND delta-internal pairs; ids disjoint from the corpus split.
  private lazy val corpus = corpusAll.filter(_._1 % 5 >= 2).toDF("doc_id", "text")
  private lazy val delta = corpusAll.filter(_._1 % 5 <= 1).toDF("doc_id", "text")

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  test("dedupeDelta pairs == batch minhashLsh pairs restricted to delta-touching") {
    val root = tmpRoot("incdedup_eq")
    IncrementalDedup.initStore(spark, corpus, root)
    val res = IncrementalDedup.dedupeDelta(spark, delta, root, append = false)

    val full = Dedup.minhashLsh(corpusAll.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter { case (a, b, _) => a % 5 <= 1 || b % 5 <= 1 }
    val got = res.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(expected.nonEmpty, "test corpus must produce delta-touching pairs")
    assert(got === expected)
    // both kinds of pair must actually occur for this test to mean much
    val srcs = res.pairs.select("src").distinct().as[String].collect().toSet
    assert(srcs === Set("corpus", "delta"))
  }

  test("dedupeDeltaExact (q97 machinery) == brute exact-Jaccard pairs restricted to delta-touching") {
    // The exact-mode seam: constant band key (all-pairs candidates)
    // + exact n-gram Jaccard verify. The result must equal the naive
    // all-pairs reference over shingle sets, restricted to pairs with
    // at least one delta side — the property the q97 DuckDB oracle
    // hashes at sf0.01.
    val root = tmpRoot("incdedup_exactmode")
    IncrementalDedup.initStore(spark, corpus, root)
    val res = IncrementalDedup.dedupeDeltaExact(
      spark, delta, root, corpusAll.toDF("doc_id", "text"), jaccardThreshold = 0.7)
    val got = res.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def sh(s: String): Set[String] = {
      val t = s.toLowerCase.trim.replaceAll("\\s+", " ")
      val n = math.max(t.length - 4, 1)
      (0 until n).map(i => t.substring(i, math.min(i + 5, t.length))).toSet
    }
    val sets = corpusAll.map { case (id, tx) => id -> sh(tx) }.toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      if a % 5 <= 1 || b % 5 <= 1 // delta-touching
      inter = (sa & sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.7
    } yield (a, b)).toSet
    assert(want.nonEmpty, "corpus must plant delta-touching exact pairs")
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // read-only against the store
    assert(res.version == -1L)
  }

  test("survivors = delta minus matched; store append is O(delta) and versioned") {
    val root = tmpRoot("incdedup_surv")
    val v1 = IncrementalDedup.initStore(spark, corpus, root)
    assert(v1 === 1L)
    val res = IncrementalDedup.dedupeDelta(spark, delta, root)
    assert(res.version === 2L)

    // survivor rule recomputed from the emitted pairs: a delta doc
    // survives iff it is no verified pair's delta_id — i.e. it matches
    // no corpus doc and no lower-id delta doc.
    val matchedDelta = res.pairs.collect().flatMap { r =>
      val (a, b, src) = (r.getLong(0), r.getLong(1), r.getString(3))
      if (src == "corpus") Seq(a, b).filter(_ % 5 <= 1) else Seq(b)
    }.toSet
    val expectedSurvivors = delta.as[(Long, String)].collect().map(_._1).toSet -- matchedDelta
    val gotSurvivors = res.survivors.select("doc_id").as[Long].collect().toSet
    assert(gotSurvivors === expectedSurvivors)

    // the appended version holds EXACTLY the survivor signatures, and
    // the store read-back is corpus + survivors
    val appended = VersionedTable.changesSince(spark, root, v1)
    assert(appended.select("id").as[Long].collect().toSet === expectedSurvivors)
    val store = VersionedTable.read(spark, root)
    assert(store.count() === corpus.count() + expectedSurvivors.size)

    // a re-ingest of the admitted docs under fresh ids is fully deduped
    // against the updated store: zero survivors, nothing appended, and
    // — critically — NO empty version minted (an empty commit would
    // churn changesSince consumers and creep toward compaction)
    val reIngest = res.survivors.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val res2 = IncrementalDedup.dedupeDelta(spark, reIngest, root)
    assert(res2.survivors.count() === 0L)
    assert(res2.version === res.version)
    assert(VersionedTable.history(spark, root).map(_.version) === Seq(1L, 2L))
    assert(VersionedTable.read(spark, root).count() === store.count())
  }

  test("concurrent deltas with the same new doc admit exactly one copy") {
    val root = tmpRoot("incdedup_race")
    IncrementalDedup.initStore(spark, corpus, root)
    val newText = "entirely fresh document text that matches no template " * 4
    val deltaA = Seq((9001L, newText)).toDF("doc_id", "text")
    val deltaB = Seq((9002L, newText)).toDF("doc_id", "text")

    // B runs fully inside A's read→commit window: A deduped against v1,
    // B commits v2, A's expectedVersion=1 commit conflicts, A re-checks
    // against ONLY B's admitted rows and drops its copy.
    var resB: IncrementalDedup.DeltaDedup = null
    val resA = IncrementalDedup.dedupeDeltaHooked(
      spark, deltaA, root, "doc_id", "text", 16, 0.8, 1000, 1000000L, true,
      () => { resB = IncrementalDedup.dedupeDelta(spark, deltaB, root) })

    assert(resB.survivors.select("doc_id").as[Long].collect().toSet === Set(9002L))
    assert(resB.version === 2L)
    // A's copy was dropped by the conflict re-check; no version minted
    assert(resA.survivors.count() === 0L)
    assert(resA.version === 2L)
    // the re-check emitted the cross pair against the winner's doc
    val racePairs = resA.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(racePairs.contains((9001L, 9002L, "corpus")))
    // dedup invariant: exactly ONE copy of the new doc in the store
    val ids = VersionedTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(ids.contains(9002L) && !ids.contains(9001L))
    assert(VersionedTable.history(spark, root).map(_.version) === Seq(1L, 2L))
  }

  test("concurrent exact deltas with the same fingerprint admit one row") {
    val root = tmpRoot("incdedup_exact_race")
    IncrementalDedup.initExactStore(
      spark, Seq((1L, "base doc")).toDF("doc_id", "text"), root)
    val deltaA = Seq((9001L, "shared new text")).toDF("doc_id", "text")
    val deltaB = Seq((9002L, "shared NEW  text")).toDF("doc_id", "text") // same normalized fp

    var resB: IncrementalDedup.ExactDelta = null
    val resA = IncrementalDedup.exactDeltaHooked(
      spark, deltaA, root, "doc_id", "text", true,
      () => { resB = IncrementalDedup.exactDelta(spark, deltaB, root) })

    assert(resB.survivors.select("keeper_id").as[Long].collect().toSet === Set(9002L))
    assert(resB.version === 2L)
    assert(resA.survivors.count() === 0L)
    assert(resA.version === 2L)
    val store = VersionedTable.read(spark, root)
    assert(store.count() === 2L) // base + ONE row for the shared fingerprint
    assert(VersionedTable.history(spark, root).map(_.version) === Seq(1L, 2L))
  }

  test("stored-width probe fails loudly on a params/signature family mix") {
    val root = tmpRoot("incdedup_mix")
    IncrementalDedup.initStore(spark, corpus, root,
      params = IncrementalDedup.SigParams(numHashes = 64, shingleK = 4, seed = 7L))
    // simulate a torn re-init that published params but not signatures
    // (write through the Hadoop FS so the CRC sidecar stays consistent)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_sig_params"), true)
    out.write("numHashes=128\nshingleK=5\nseed=42\n".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] {
      IncrementalDedup.dedupeDelta(spark, delta.limit(5), root, append = false)
    }
    assert(e.getMessage.contains("mixes MinHash families"))
  }

  test("re-init with a different family repins params and rewrites the store") {
    val root = tmpRoot("incdedup_reinit")
    IncrementalDedup.initStore(spark, corpus, root)
    val custom = IncrementalDedup.SigParams(numHashes = 64, shingleK = 4, seed = 7L)
    val v2 = IncrementalDedup.initStore(spark, corpus, root, params = custom)
    assert(v2 === 2L)
    assert(IncrementalDedup.storeParams(spark, root) === Some(custom))
    // the new snapshot holds new-family signatures only — deltas run
    // green against the repinned geometry
    val res = IncrementalDedup.dedupeDelta(spark, delta.limit(10), root,
      bands = 8, append = false)
    assert(res.version === -1L)
  }

  test("exact store: anti-join survivors, O(delta) append, changesSince contract") {
    val root = tmpRoot("incdedup_exact")
    val corpusX = Seq((1L, "aaa bbb"), (2L, "ccc ddd"), (3L, "aaa  bbb")).toDF("doc_id", "text")
    val deltaX = Seq(
      (100L, "AAA bbb"),   // normalizes to a corpus fingerprint — dropped
      (101L, "eee fff"),   // fresh, keeper of its delta group
      (102L, "eee  FFF"),  // same normalized text as 101 — dropped (higher id)
      (103L, "ccc ddd"),   // corpus dup — dropped
      (104L, "ggg hhh")    // fresh
    ).toDF("doc_id", "text")

    val v1 = IncrementalDedup.initExactStore(spark, corpusX, root)
    assert(v1 === 1L)
    val res = IncrementalDedup.exactDelta(spark, deltaX, root)
    assert(res.version === 2L)
    assert(res.survivors.select("keeper_id").as[Long].collect().toSet === Set(101L, 104L))

    // changesSince(v1) answers "which docs did this batch admit"
    val admitted = VersionedTable.changesSince(spark, root, v1)
    assert(admitted.select("keeper_id").as[Long].collect().toSet === Set(101L, 104L))

    // second identical batch admits nothing (idempotent re-run)
    val res2 = IncrementalDedup.exactDelta(spark,
      deltaX.select((col("doc_id") + 1000L).as("doc_id"), col("text")), root)
    assert(res2.survivors.count() === 0L)
    // nothing admitted → no version minted
    assert(res2.version === res.version)
    assert(VersionedTable.history(spark, root).map(_.version) === Seq(1L, 2L))
  }

  test("store params: pinned at init, loudly required for deltas") {
    val root = tmpRoot("incdedup_params")
    val custom = IncrementalDedup.SigParams(numHashes = 64, shingleK = 4, seed = 7L)
    IncrementalDedup.initStore(spark, corpus, root, params = custom)
    assert(IncrementalDedup.storeParams(spark, root) === Some(custom))
    // delta banding derives geometry from the PINNED family (64 hashes,
    // 8 bands × 8 rows) — just has to run green end-to-end
    val res = IncrementalDedup.dedupeDelta(spark, delta.limit(10), root, bands = 8, append = false)
    assert(res.version === -1L)

    val bare = tmpRoot("incdedup_noparams")
    val e = intercept[IllegalStateException] {
      IncrementalDedup.dedupeDelta(spark, delta, bare)
    }
    assert(e.getMessage.contains("_sig_params"))
  }

  test("gram store: spanDelta equals batch duplicatedSpans over the union, on delta docs") {
    // the decomposition under test: union-minDocs>=2 == (gram IN
    // corpus store) OR (gram in >=2 delta docs)
    val root = tmpRoot("incdedup_grams")
    val all = corpus.unionByName(delta)
    for (hashed <- Seq(false, true)) {
      val r = tmpRoot(s"incdedup_grams_$hashed")
      IncrementalDedup.initGramStore(spark, corpus, r,
        params = IncrementalDedup.GramParams(window = 30, hashed = hashed))
      val got = IncrementalDedup.spanDelta(spark, delta, r).scores
        .orderBy("doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
      val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
      val want = graft.operators.Dedup.duplicatedSpans(all, n = 30, hashed = hashed)
        .where(col("doc_id").isin(deltaIds.toSeq: _*))
        .orderBy("doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
      assert(got == want, s"hashed=$hashed store path must equal the union batch path")
    }
    // the append admits only NEW grams and a second identical batch
    // scores fully-duplicated against them
    IncrementalDedup.initGramStore(spark, corpus, root,
      params = IncrementalDedup.GramParams(window = 30, hashed = true))
    val v1 = IncrementalDedup.spanDelta(spark, delta, root).version
    assert(v1 > 0, "the batch's new grams must commit")
    val again = IncrementalDedup.spanDelta(spark, delta, root).scores
    // every delta doc long enough to hold a window is now 100% covered
    val shortIds = delta.where(length(col("text")) < 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    again.collect().foreach { r =>
      if (shortIds.contains(r.getLong(0))) assert(r.getLong(1) == 0L)
      else assert(r.getDouble(2) == 1.0,
        s"re-scored batch must be fully duplicated: ${r}")
    }
    // params pinned; a missing params file fails loudly
    val bare2 = tmpRoot("incdedup_grams_noparams")
    val e2 = intercept[IllegalStateException] {
      IncrementalDedup.spanDelta(spark, delta, bare2)
    }
    assert(e2.getMessage.contains("_gram_params"))
  }

  test("gram store: spanDelta takes doc frequency from per-doc window arrays") {
    // no (g, doc_id) distinct aggregate over the exploded windows: each
    // doc's distinct grams come from array_distinct of its window array
    // (13 jobs with that aggregate, 11 without)
    val r = tmpRoot("incdedup_grams_jobs")
    IncrementalDedup.initGramStore(spark, corpus, r,
      params = IncrementalDedup.GramParams(window = 30, hashed = true))
    val (_, jobs) = jobsSubmitted(IncrementalDedup.spanDelta(spark, delta, r, append = false))
    assert(jobs <= 11, s"spanDelta submitted $jobs jobs")
  }

  test("gram store crash window: scores consumed, admit lost — replay is exact") {
    // the kill lands BETWEEN the two effects of spanDelta: the caller
    // already consumed `scores` (materialized before the append by
    // design) but the admit commit never reached the store. The replay
    // must (a) score IDENTICALLY — the store is unchanged, so the
    // corpus-vs-batch decomposition gives the same answer, never an
    // under-score — and (b) admit the batch's grams exactly once.
    val root = tmpRoot("incdedup_gram_crash")
    val p = IncrementalDedup.GramParams(window = 30, hashed = true)
    IncrementalDedup.initGramStore(spark, corpus, root, params = p)
    val storedBefore = graft.pipeline.VersionedTable.read(spark, root).count()
    // crashed attempt: append=false IS the observable state of a kill
    // before the commit (scores out, store untouched)
    val crashed = IncrementalDedup.spanDelta(spark, delta, root, append = false)
    assert(crashed.version == -1L)
    val crashedScores = crashed.scores.orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    assert(graft.pipeline.VersionedTable.read(spark, root).count() == storedBefore,
      "a crash before the admit must leave the store byte-identical")
    // replay: same scores (no under- OR over-score), one admit
    val replay = IncrementalDedup.spanDelta(spark, delta, root)
    val replayScores = replay.scores.orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    assert(replayScores == crashedScores,
      "the replayed batch must score exactly as the crashed attempt did")
    assert(replay.version > 0)
    val store = graft.pipeline.VersionedTable.read(spark, root)
    assert(store.count() == store.select("g").distinct().count(),
      "the admit must not duplicate gram rows")
    // a THIRD run (crash after admit, before the streaming offset
    // advanced) adds nothing: its newG anti-join is empty
    val after = store.count()
    IncrementalDedup.spanDelta(spark, delta, root)
    assert(graft.pipeline.VersionedTable.read(spark, root).count() == after,
      "a replay after the admit landed must not double-admit")
  }
}

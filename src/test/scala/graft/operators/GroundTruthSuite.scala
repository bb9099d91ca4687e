package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact ground-truth checks for the dedup operators whose driver
  * CORRECTNESS rows are rows-only (q30/q32/q46 family): a naive
  * all-pairs reference over a seeded ~200-doc synthetic corpus is the
  * oracle the DuckDB harness can't express (the MinHash permutation
  * family is not SQL-portable).
  *
  * The corpus plants near-dup clusters by light mutation of shared
  * templates, so true-pair Jaccard is high (≥ ~0.85) and LSH recall at
  * the 16×8 band geometry is ~1; everything is fixed-seed, so the
  * assertions are deterministic.
  */
class GroundTruthSuite extends SparkSpec {
  import spark.implicits._

  private val K = 5

  // ---- naive reference ------------------------------------------------
  private def norm(s: String): String = s.toLowerCase.trim.replaceAll("\\s+", " ")

  /** Character k-shingle set with substr-style clamping (texts shorter
    * than k contribute their whole text), matching explodedShingles /
    * ShingleSet windows 1..max(len-k+1, 1).
    */
  private def shingles(s: String): Set[String] = {
    val t = norm(s)
    val n = math.max(t.length - (K - 1), 1)
    (0 until n).map(i => t.substring(i, math.min(i + K, t.length))).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a & b).size.toDouble / (a | b).size

  // ---- seeded corpus: 40 templates × 5 mutated copies = 200 docs ------
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(123)
    val words = Vector("data", "spark", "engine", "query", "scale", "table", "join",
      "batch", "stream", "vector", "index", "shard", "merge", "scan", "cache")
    def sentence() = Seq.fill(8 + rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" ")
    val templates = Seq.fill(40)(Seq.fill(6)(sentence()).mkString(". "))
    templates.zipWithIndex.flatMap { case (tpl, t) =>
      (0 until 5).map { i =>
        // copy 0 is the template; others mutate ~1 word per sentence
        val text = if (i == 0) tpl
          else tpl.split(" ").map(w =>
            if (rnd.nextInt(12) == 0) words(rnd.nextInt(words.size)) else w).mkString(" ")
        ((t * 5 + i).toLong, text)
      }
    }
  }

  private lazy val docs = corpus.toDF("doc_id", "text")

  private lazy val bruteSets: Map[Long, Set[String]] =
    corpus.map { case (id, t) => id -> shingles(t) }.toMap

  /** All pairs with exact Jaccard ≥ t, by the naive reference. */
  private def brutePairs(t: Double): Set[(Long, Long)] = {
    val ids = corpus.map(_._1)
    (for {
      a <- ids; b <- ids if a < b
      if jaccard(bruteSets(a), bruteSets(b)) >= t
    } yield (a, b)).toSet
  }

  test("jaccardVerify on the full cross product equals the brute-force pair set exactly") {
    val ids = corpus.map(_._1)
    val allPairs = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toDF("id_a", "id_b")
    val got = Dedup.jaccardVerify(docs, allPairs, threshold = 0.7).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val want = brutePairs(0.7)
    assert(got.keySet == want,
      s"missing=${(want -- got.keySet).take(5)} extra=${(got.keySet -- want).take(5)}")
    // Values agree too (operator computes over hashes, reference over
    // strings — equal absent xxhash64 collisions in a 400k-shingle corpus).
    got.foreach { case ((a, b), j) =>
      val exact = jaccard(bruteSets(a), bruteSets(b))
      assert(math.abs(j - exact) < 1e-3, s"pair ($a,$b): got $j want $exact")
    }
  }

  test("q32 chain (LSH candidates -> exact verify) matches the brute pair set at LSH recall") {
    // Exact verify ⇒ NO false positives; banding at 16 bands × 8 rows
    // gives per-pair candidate probability 1−(1−j^8)^16 ≈ 0.95 at
    // j=0.8 and ≈ 0.9997 at j=0.9 — recall bounds asserted with margin
    // (everything is fixed-seed, so the observed values are stable).
    val got = Dedup.jaccardVerify(docs, Dedup.minhashCandidatePairs(docs), threshold = 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val want = brutePairs(0.8)
    val wantHigh = brutePairs(0.9)
    assert(want.nonEmpty && wantHigh.nonEmpty, "corpus must plant pairs above 0.8 and 0.9")
    assert(got.subsetOf(want), s"false positives: ${(got -- want).take(5)}")
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.9, s"LSH chain recall $recall below 0.9 (missed ${(want -- got).take(5)})")
    val recallHigh = (got & wantHigh).size.toDouble / wantHigh.size
    assert(recallHigh >= 0.98, s"recall on ≥0.9 pairs was $recallHigh (missed ${(wantHigh -- got).take(5)})")
  }

  test("minhashLsh signature estimates track exact Jaccard within the 128-hash error band") {
    val est = Dedup.minhashLsh(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("est_jaccard"))
    assert(est.nonEmpty)
    est.foreach { case ((a, b), e) =>
      val exact = jaccard(bruteSets(a), bruteSets(b))
      // sd of a 128-sample Bernoulli mean is ≤ 0.045; 0.2 is >4 sd.
      assert(math.abs(e - exact) <= 0.2, s"pair ($a,$b): est $e vs exact $exact")
    }
  }

  test("simhashPairs at maxHamming<=3 equals brute-force popcount pairs (pigeonhole exact)") {
    // 4 bands × 16 bits: ≤3 differing bits leave at least one band
    // intact, so banding is EXACT at maxHamming ≤ 3 — the operator's
    // output must equal all-pairs popcount over the signatures, not
    // merely approximate it. (q31 ships maxHamming=8, where banding is
    // a recall trade; this pins the regime with a hard guarantee.)
    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash"))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "corpus should plant at least one simhash-near pair")
  }

  test("simhashPortable pairs (q96 machinery) equal brute popcount; signature matches a scalar md5 reference") {
    // The md5-portable signature behind the q96 oracle closure: the
    // same banding machinery (simhashPairsFrom) must reproduce brute
    // all-pairs popcount at maxHamming ≤ 3, and the signature itself
    // must equal a from-first-principles scalar reimplementation
    // (shingle md5 → first-15-hex-digit 60-bit parse → ±1 sign sums).
    def refSig(text: String): Long = {
      val t = norm(text)
      val n = math.max(t.length - (K - 1), 1)
      val hs = (0 until n).map { i =>
        val sh = t.substring(i, math.min(i + K, t.length))
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(sh.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16)
      }
      (0 until 60).map { b =>
        val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << b else 0L
      }.reduce(_ | _)
    }
    val sigs = Dedup.simhashPortable(docs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    val texts = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    texts.foreach { case (id, tx) =>
      assert(sigs(id) == refSig(tx), s"doc $id: portable signature diverges from scalar md5 reference")
    }
    val brute = (for {
      (a, ha) <- sigs.toSeq; (b, hb) <- sigs.toSeq if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairsFrom(Dedup.simhashPortable(docs), maxHamming = 3,
        maxBucket = 1 << 20).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("nearDupGroups distributed path equals the local union-find path") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    val local = asMap(Dedup.nearDupGroups(pairs)) // under the threshold
    val dist = asMap(Dedup.nearDupGroups(pairs, localMaxPairs = 0L)) // force label propagation
    assert(local == dist)
    assert(local(3L) == 1L && local(5L) == 1L && local(11L) == 10L && local(22L) == 20L)
  }

  test("nearDupGroups threshold boundary: localMaxPairs pairs stay local, one more goes distributed") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("id_a", "id_b").repartition(3).localCheckpoint(true) // materialized, like LSH output
    val n = pairs.count()
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    val (local, localJobs) = jobsSubmitted(Dedup.nearDupGroups(pairs, localMaxPairs = n))
    val (dist, distJobs) = jobsSubmitted(Dedup.nearDupGroups(pairs, localMaxPairs = n - 1))
    // the small path is one bounded collect; its result is already local
    assert(localJobs == 1, s"local path ran $localJobs jobs")
    assert(distJobs > localJobs, s"distributed path ran $distJobs jobs")
    assert(asMap(local) == asMap(dist))
    assert(asMap(local)(5L) == 1L && asMap(local)(22L) == 20L)
    Dedup.releaseCheckpoint(pairs, dist)
  }

  test("degenerate hot bucket: identical docs cap out instead of exploding pairs") {
    import spark.implicits._
    // 200 byte-identical docs + 2 genuine near-dups; maxBucket=50 caps
    // the identical-doc bucket (its members are exact dups — the
    // documented pipeline handles those in Dedup.exact BEFORE LSH), so
    // pair volume stays tiny and the run completes instantly instead
    // of emitting ~20k pairs from one bucket.
    val boiler = (0 until 200).map(i => (i.toLong, "identical boilerplate template text body"))
    val real = Seq((500L, "a genuinely unique document about rivers and dams flowing"),
      (501L, "a genuinely unique document about rivers and dams flowing on"))
    val docs = (boiler ++ real).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, threshold = 0.8, maxBucket = 50).collect()
    val ids = pairs.flatMap(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(!ids.exists(_ < 200L), "capped boilerplate bucket must emit no pairs")
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 500L && r.getAs[Long]("id_b") == 501L),
      "genuine near-dup pair must survive the cap")
  }

  test("nearDupGroups equals naive union-find components on the brute pair set") {
    val pairs = brutePairs(0.8).toSeq
    // naive union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = members.map(m => m -> find(m)).toMap
    val got = Dedup.nearDupGroups(pairs.toDF("id_a", "id_b")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    assert(got == want)
  }

  test("duplicatedSpans: hand-computed coverage, interval merge, hashed-mode equality") {
    // n=10 windows. docs 1 & 2 share the 26-char block "shared boilerplate text A!" →
    // every 10-window inside it is cross-doc duplicated; doc 3 is
    // unique; doc 4 repeats a gram only WITHIN itself (must not count);
    // doc 5 is shorter than n (no windows).
    val block = "shared boilerplate text A!" // 26 chars
    val docs = Seq(
      (1L, s"xxxx${block}yyyyyyy"),          // block at 5..30
      (2L, s"zz${block}qqqq"),               // block at 3..28
      (3L, "a completely unique document body here"),
      (4L, "repeatrepeatrepeatrepeatrepeat"), // self-repeats only
      (5L, "tiny")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, n = 10).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // a 26-char shared block has 17 windows of length 10; merged they
    // cover exactly the 26 chars
    assert(out(0) == ((1L, 26L, 26.0 / 37)), s"doc1: ${out(0)}")
    assert(out(1) == ((2L, 26L, 26.0 / 32)), s"doc2: ${out(1)}")
    assert(out(2)._2 == 0L && out(3)._2 == 0L && out(4)._2 == 0L,
      s"unique / self-repeating / short docs must score 0: ${out.toSeq}")
    // hashed mode (the 100 TB key shape) agrees exactly here
    val hashed = Dedup.duplicatedSpans(docs, n = 10, hashed = true).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hashed.toSeq == out.toSeq)
    // the TRANSFORM removes exactly the covered block and re-joins the
    // remainder — byte-for-byte
    val cleaned = Dedup.removeDuplicatedSpans(docs, n = 10).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == "xxxxyyyyyyy", s"doc1 cleaned: '${cleaned(1L)}'")
    assert(cleaned(2L) == "zzqqqq", s"doc2 cleaned: '${cleaned(2L)}'")
    assert(cleaned(3L) == "a completely unique document body here" &&
      cleaned(4L) == "repeatrepeatrepeatrepeatrepeat" && cleaned(5L) == "tiny",
      "untouched docs pass through byte-identical")
    // DISJOINT duplicated spans in one doc: both intervals count, the
    // gap between them does not
    val two = Seq(
      (10L, "AAAAAAAAAA-gap-BBBBBBBBBB"), // two 10-blocks, 4-char gap
      (11L, "AAAAAAAAAA"), (12L, "BBBBBBBBBB")
    ).toDF("doc_id", "text")
    val t = Dedup.duplicatedSpans(two, n = 10).orderBy("doc_id").collect()
    assert(t(0).getLong(1) == 20L, s"two disjoint 10-char spans: ${t(0)}")
    // disjoint-interval removal keeps the gap between the cut spans
    val tc = Dedup.removeDuplicatedSpans(two, n = 10).orderBy("doc_id").collect()
    assert(tc(0).getString(1) == "-gap-", s"doc10 cleaned: '${tc(0).getString(1)}'")
    assert(tc(1).getString(1) == "" && tc(2).getString(1) == "",
      "fully-duplicated docs clean to empty")
    // IDENTICAL docs SHORTER than n hold no length-n window and must
    // score 0 — Spark's sequence(1, 0) yields a DESCENDING [1, 0]
    // (not empty), which minted two phantom clamped windows and made
    // twin short docs flag each other with dup_frac > 1 (caught by the
    // sf1 sweep, where every doc has 10 byte-identical copies)
    val short = Seq((20L, "twin-short"), (21L, "twin-short"), (22L, "twin-short"))
      .toDF("doc_id", "text")
    val ts = Dedup.duplicatedSpans(short, n = 50).orderBy("doc_id").collect()
    assert(ts.forall(r => r.getLong(1) == 0L && r.getDouble(2) == 0.0),
      s"sub-n twins must not flag: ${ts.toSeq}")
    val tsc = Dedup.removeDuplicatedSpans(short, n = 50).orderBy("doc_id").collect()
    assert(tsc.forall(_.getString(1) == "twin-short"),
      "sub-n twins pass through the transform untouched")
    // the one-pass window kernel is BIT-IDENTICAL, in both modes, to
    // the per-position formulation it replaced (gram stores persist
    // these hashes, so they must not drift): "", null, shorter than n,
    // exactly n, ASCII, 2/3/4-byte code points (surrogate pairs in
    // Java) and invalid UTF-8 bytes (0xFF, a lone continuation 0x80, a
    // lead byte 0xE2 swallowing two ASCII bytes) in mid-string
    val n = 5
    val probe = Seq[(Long, String)]((30L, ""), (31L, null), (32L, "abc"), (33L, "abcde"),
      (34L, "plain ascii text, longer than n"), (35L, "héllo wörld ñandú"),
      (36L, "€uro ≠ 日本語テキスト"), (37L, "emoji 😀 pairs 𝄞 here 😀!"),
      (38L, "é€😀a€😀é𝄞ñ日")).toDF("doc_id", "__t")
      .unionByName(spark.sql("SELECT 39L AS doc_id, " +
        "cast(unhex('61FF62C3A96380E282AC64E27879F09F988061') AS string) AS __t"))
    assert(probe.where(col("doc_id") === 39L).select(length(col("__t"))).head.getInt(0) == 11,
      "the invalid bytes must reach the kernel unrepaired")
    for (hashed <- Seq(false, true)) {
      val t = col("__t")
      val sub = expr(s"substring(__t, start, $n)")
      val want = probe
        .select(col("doc_id"), t, explode(when(length(t) >= n,
          sequence(lit(1), length(t) - (n - 1))).otherwise(lit(null).cast("array<int>"))).as("start"))
        .select(col("doc_id"), col("start"), (if (hashed) xxhash64(sub) else sub).as("g"))
      val got = Dedup.windowGrams(probe, n, hashed)
      assert(want.count() == 83L && got.count() == want.count(), s"hashed=$hashed")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"hashed=$hashed")
    }
  }
}

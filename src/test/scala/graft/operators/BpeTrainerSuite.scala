package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE training pinned against a naive in-suite reference (the
  * Sennrich word-frequency algorithm, driver-side), plus the
  * engine-portability contracts q126's DuckDB oracle relies on:
  * positional integer pair counts, (count DESC, pair ASC) tie-break,
  * and replace-walk merge application.
  */
class BpeTrainerSuite extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: exact Sennrich merge loop. */
  private def referenceMerges(texts: Seq[String], steps: Int): Seq[BpeTrainer.Merge] = {
    val wc = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.split("\\s+").foreach { w =>
      if (w.matches("[a-z]{2,20}")) wc(w) = wc.getOrElse(w, 0L) + 1
    })
    var words: Map[String, Vector[Char]] = wc.keys.map(w => w -> w.toVector).toMap
    val expansion = scala.collection.mutable.Map.empty[Char, String]
    val out = Seq.newBuilder[BpeTrainer.Merge]
    var step = 1
    var go = true
    while (step <= steps && go) {
      val pairs = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (w, syms) =>
        (0 until syms.length - 1).foreach { i =>
          val p = s"${syms(i)}${syms(i + 1)}"
          pairs(p) = pairs.getOrElse(p, 0L) + wc(w)
        }
      }
      if (pairs.isEmpty) go = false
      else {
        val (pair, freq) = pairs.toSeq.minBy { case (p, c) => (-c, p) }
        val z = (BpeTrainer.SymBase + step - 1).toChar
        val token = pair.flatMap(c => expansion.getOrElse(c, c.toString))
        expansion(z) = token
        out += BpeTrainer.Merge(step, token, freq, pair)
        words = words.map { case (w, syms) =>
          val b = Vector.newBuilder[Char]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == pair(0) && syms(i + 1) == pair(1)) {
              b += z; i += 2
            } else { b += syms(i); i += 1 }
          }
          w -> b.result()
        }
        step += 1
      }
    }
    out.result()
  }

  test("train equals the reference merge loop, chained merges included") {
    val texts = Seq(
      "the lower lowest low low lowering",
      "newer newest new news the the the",
      "low lower a1b2 THE 123 lowest newer the")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = BpeTrainer.train(spark, docs, steps = 10)
    val want = referenceMerges(texts, steps = 10)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    // chained merges happened (a token longer than 2 base chars)
    assert(got.exists(_.token.length > 2), s"no chained merge in $got")
  }

  test("tie-break is (count DESC, pair ASC) — deterministic across engines") {
    // every pair occurs exactly once: the FIRST merge must be the
    // binary-smallest pair ("ab"), and the walk stays deterministic
    val docs = Seq((1L, "zy xw ab")).toDF("doc_id", "text")
    val got = BpeTrainer.train(spark, docs, steps = 3)
    assert(got.map(_.token) == Seq("ab", "xw", "zy"), got.toString)
    assert(got.forall(_.freq == 1L))
  }

  test("early exhaustion: a fully-merged vocabulary stops the loop") {
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val got = BpeTrainer.train(spark, docs, steps = 50)
    assert(got.size == 1 && got.head.token == "ab" && got.head.freq == 3L)
  }

  test("tokenize replays the merges: concatenation round-trips, merges apply") {
    val texts = Seq(
      "the lower lowest low low lowering",
      "newer newest new news the the the")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = BpeTrainer.train(spark, docs, steps = 8)
    val words = docs.select(explode(split(col("text"), "\\s+")).as("w"))
      .where(col("w").rlike("^[a-z]{2,20}$")).distinct()
    val toks = words.select(col("w"),
      BpeTrainer.tokenize(col("w"), merges).as("toks"),
      concat_ws("", BpeTrainer.tokenize(col("w"), merges)).as("glued"))
      .collect()
    toks.foreach { r =>
      assert(r.getString(2) == r.getString(0),
        s"tokenize must round-trip: ${r.getString(0)} -> ${r.getSeq[String](1)}")
    }
    // the most frequent pair actually merged somewhere: some word
    // tokenizes to fewer tokens than characters
    assert(toks.exists(r => r.getSeq[String](1).length < r.getString(0).length))
  }

  test("tokenCount equals the sum of tokenize lengths over a text's kept words") {
    val texts = Seq("the lower lowest low low lowering",
      "THE a1 newer newest new news the the")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = BpeTrainer.train(spark, docs, steps = 6)
    val got = docs.select(col("doc_id"),
      BpeTrainer.tokenCount(col("text"), merges).as("n"),
      BpeTrainer.wordCount(col("text")).as("w"),
      aggregate(
        transform(
          filter(split(col("text"), "\\s+"), w => w.rlike("^[a-z]{2,20}$")),
          w => size(BpeTrainer.tokenize(w, merges)).cast("long")),
        lit(0L), (a, n) => a + n).as("n2"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(3),
        s"tokenCount and tokenize disagree on doc ${r.getLong(0)}: $r")
      assert(r.getLong(1) <= r.getLong(2) * 20 && r.getLong(1) >= r.getLong(2),
        s"token count outside [words, chars]: $r")
    }
    // out-of-alphabet words (THE, a1) contribute nothing
    assert(got.find(_.getLong(0) == 1L).get.getLong(2) == 6L)
  }

  test("seeded Zipf vocabulary: 200+ incremental merges equal the reference loop") {
    // count ties (many words share a frequency), overlapping-pair words
    // (aaaa, abab, aaa) and long chains: the incremental pair-count
    // update must reproduce the full-recount reference exactly
    val rng = new scala.util.Random(126)
    val letters = "abcdefgh"
    val vocab = (Seq("aaaa", "abab", "aaa", "abababab", "baaab", "aabaa") ++
      (0 until 300).map(_ => Seq.fill(2 + rng.nextInt(9))(letters(rng.nextInt(8))).mkString))
      .distinct
    val texts = vocab.zipWithIndex.map { case (w, r) =>
      Seq.fill(math.max(1, 60 / (r + 1)))(w).mkString(" ") // Zipf, flat tail of 1s
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = BpeTrainer.train(spark, docs, steps = 260)
    val want = referenceMerges(texts, steps = 260)
    assert(want.size >= 200, s"vocabulary exhausted early: ${want.size} merges")
    assert(got == want, s"\nfirst diff at ${got.zip(want).indexWhere { case (g, w) => g != w }}")
    assert(want.groupBy(_.freq).exists(_._2.size > 1), "no count ties exercised")
  }

  test("training submits the same Spark jobs for 4 steps as for 40") {
    val docs = Seq(
      (1L, "the lower lowest low low lowering newer newest"),
      (2L, "new news the the the abab aaaa banana bandana"))
      .toDF("doc_id", "text")
    def jobsFor(steps: Int): Int = jobsSubmitted(BpeTrainer.train(spark, docs, steps))._2
    jobsFor(4) // warm-up
    val (j4, j40) = (jobsFor(4), jobsFor(40))
    assert(j4 > 0 && j4 == j40, s"jobs: steps=4 -> $j4, steps=40 -> $j40")
  }

  test("per-step cost tracks VOCABULARY, not corpus size (no corpus rescan)") {
    // duplicate the same text 1x vs 12x: identical vocabulary, 12x the
    // corpus. After prep, per-step time must stay in the same band —
    // a per-step corpus rescan would scale it ~12x.
    val base = (0 until 400).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo${i % 37} fox${i % 53} " +
        s"golf hotel india juliet kilo${i % 29} lima mike november"))
    def timeSteps(mult: Int): Double = {
      val rows = (0 until mult).flatMap(m => base.map { case (id, t) =>
        (id + m * 100000L, t) })
      val docs = rows.toDF("doc_id", "text")
      val counts = BpeTrainer.wordCounts(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      counts.count()
      // time ONLY the merge loop by training on the tiny pre-counted
      // frame via the public API (its own prep re-scans `counts`, a
      // vocab-sized frame either way — the corpus factor is in `docs`,
      // which train() must NOT touch after its single prep scan)
      val t0 = System.nanoTime
      val got = BpeTrainer.train(spark, docs, steps = 4)
      val dt = (System.nanoTime - t0) / 1e9
      counts.unpersist(blocking = false)
      assert(got.size == 4)
      dt
    }
    timeSteps(1) // JIT/codegen warm-up
    val t1 = timeSteps(1)
    val t12 = timeSteps(12)
    info(f"train(4 steps): corpus x1 = $t1%.2f s, corpus x12 = $t12%.2f s")
    // prep scans 12x the text once; the 4 merge steps run on the SAME
    // vocab. Generous bound: total must stay well under the 12x a
    // rescan-per-step design would show.
    assert(t12 < t1 * 6,
      f"per-step corpus rescan suspected: x1=$t1%.2f s vs x12=$t12%.2f s")
  }
}

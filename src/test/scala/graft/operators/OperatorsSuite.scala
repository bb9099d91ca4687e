package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class DedupSuite extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  test("exact dedup: constructed duplicates collapse to one keeper") {
    val dups = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(dups).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("doc_id") == 1L && out(0).getAs[Long]("dup_count") == 2L)
  }

  test("exactBest: highest-score copy kept per group, ties to smallest id, columns survive") {
    val dups = Seq(
      (1L, "Hello  World", "crawl", 12L),   // same group, shorter raw form
      (2L, "hello world", "curated", 11L),  // normalized-identical
      (3L, "HELLO   WORLD ", "crawl", 14L), // longest raw copy -> keeper
      (4L, "other text", "crawl", 10L),
      (5L, "other  text", "crawl", 10L))    // score tie with 4 -> min id wins
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Dedup.exactBest(dups, score = col("n_chars"))
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 4L))
    assert(out(0).getAs[Long]("dup_count") == 3L)
    assert(out(0).getAs[String]("source") == "crawl")
    assert(out(0).getAs[String]("text") == "HELLO   WORLD ") // raw form kept
    assert(out(1).getAs[Long]("dup_count") == 2L)            // tie broke to 4
  }

  test("bounded collect: small groups complete, oversized groups surface capped") {
    import graft.functions.VectorFunctions.boundedCollectList
    // group 1: 3 members; group 2: 50 members (over the limit of 10)
    val rows = (1 to 3).map(i => (1L, i.toLong)) ++ (1 to 50).map(i => (2L, i.toLong))
    val df = rows.toDF("bucket", "id")
    val got = df.groupBy("bucket").agg(boundedCollectList(col("id"), 10).as("ids"))
      .collect().map(r => r.getAs[Long]("bucket") -> r.getSeq[Long](1)).toMap
    assert(got(1L).sorted == Seq(1L, 2L, 3L)) // under the cap: complete
    assert(got(2L).length == 11) // capped at limit+1 — the drop signal
    // bucketPairs built on it matches the naive unguarded pair set for
    // in-cap buckets and drops the oversized bucket wholesale
    val pairs = Dedup.bucketPairs(df, Seq("bucket"), "id", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash LSH finds the planted near-dup pairs") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.8).collect()
    assert(pairs.length >= 10, s"expected >=10 near-dup pairs, got ${pairs.length}")
    assert(pairs.forall(_.getAs[Double]("est_jaccard") >= 0.8))
  }

  test("jaccard verify agrees with minhash estimate on candidates") {
    val cands = Dedup.minhashLsh(docs, threshold = 0.5)
    val verified = Dedup.jaccardVerify(docs, cands, threshold = 0.9)
    assert(verified.count() >= 10)
  }

  test("jaccardVerify fallback (non-broadcast) path matches the broadcast path exactly") {
    val cands = Dedup.minhashCandidatePairs(docs)
    val bcast = Dedup.jaccardVerify(docs, cands, threshold = 0.7)
      .orderBy("id_a", "id_b").collect()
    // maxBroadcastDocs = 0 forces the sharded/co-partitioned join path.
    val shuffled = Dedup.jaccardVerify(docs, cands, threshold = 0.7, maxBroadcastDocs = 0L)
      .orderBy("id_a", "id_b").collect()
    assert(bcast.nonEmpty)
    assert(bcast.toSeq == shuffled.toSeq)
  }

  test("persisted LSH->verify chain matches the checkpointed chain and leaves no storage behind") {
    val viaCheckpoint = Dedup.jaccardVerify(docs, Dedup.minhashLsh(docs, threshold = 0.5),
      threshold = 0.7).orderBy("id_a", "id_b").collect()
    val viaPersisted = Dedup.jaccardVerifyPersisted(docs, Dedup.minhashLshRaw(docs, threshold = 0.5),
      threshold = 0.7).orderBy("id_a", "id_b").collect()
    assert(viaPersisted.toSeq == viaCheckpoint.toSeq)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("nearDupGroups frees its per-round checkpoint blocks") {
    import org.apache.spark.storage.StorageLevel
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("id_a", "id_b")
    Dedup.nearDupGroups(pairs).count()
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, r) => !before.contains(id) && r.getStorageLevel != StorageLevel.NONE }
    // Only the returned result's own checkpoint may remain (1 RDD); the
    // iteration's per-round label tables and the edge cache must be gone.
    assert(leaked.size <= 1, s"leaked RDDs: ${leaked.keys.toSeq.sorted}")
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8)
    assert(pairs.count() >= 5)
  }

  test("one-pass MinHashSig expression equals the exploded aggregation, incl. edge strings") {
    val edge = Seq((9001L, ""), (9002L, "ab"), (9003L, "héllo wörld €dge"), (9004L, "exact"))
      .toDF("doc_id", "text")
    val input = docs.select("doc_id", "text").unionByName(edge)
    val a = Dedup.minhashSignatures(input).withColumnRenamed("sig", "sig_new")
    val b = Dedup.minhashSignaturesExploded(input).withColumnRenamed("sig", "sig_old")
    val diff = a.join(b, "id").where(col("sig_new") =!= col("sig_old"))
    assert(diff.count() == 0)
  }

  test("one-pass ShingleSet expression equals sort_array(collect_set) over exploded shingles") {
    // 9006: 5,200 code points cycling 1-, 2-, 3- and 4-byte chars (the
    // 4-byte ones are surrogate pairs in Java), so the kernel's
    // code-point walk is checked far past any short-string shortcut
    val mixed = (0 until 5200).map(i => Seq("é", "€", "😀", "a", "ñ", "日", " ", "𝄞")(i * 7 % 8)).mkString
    // 9007 ends in a truncated 3-byte lead byte and 9008 holds a lone
    // continuation byte: normalize re-encodes both with U+FFFD, so the
    // reference's per-position substring never reads past the string
    val malformed = Seq((9007L, "4142434420E2"), (9008L, "414280434445"))
      .toDF("doc_id", "hex").select(col("doc_id"), unhex(col("hex")).cast("string").as("text"))
    val edge = Seq((9001L, ""), (9002L, "ab"), (9003L, "héllo wörld €dge"),
      (9004L, "aaaaaaaaaa"), (9005L, "exact"), (9006L, mixed))
      .toDF("doc_id", "text").unionByName(malformed)
    val input = docs.select("doc_id", "text").unionByName(edge)
    val a = input.select(col("doc_id").as("id"),
      graft.functions.VectorFunctions.shingleSet(
        TextAnalysis.normalize(col("text")), 5).as("sh_new"))
    val b = Dedup.explodedShingles(input, "doc_id", "text", 5)
      .groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("sh_old"))
    val joined = a.join(b, "id")
    assert(joined.count() == input.count())
    assert(joined.where(col("sh_new") =!= col("sh_old")).count() == 0)
  }

  test("one-pass WordGramHashes/WordGrams equal the exploded + windowed formulation") {
    import org.apache.spark.sql.expressions.Window
    val edge = Seq((9001L, ""), (9002L, "one"), (9003L, "héllo wörld €dge tökens here"),
      (9004L, "a a a a a a"), (9005L, "  raw\ttext \n with   messywhitespace  "),
      (9006L, "exactly two")).toDF("doc_id", "text")
    val input = docs.select("doc_id", "text").unionByName(edge)
    for (n <- Seq(2, 3, 8)) {
      // reference: the former posexplode + lead-window pipeline over
      // RAW (un-normalized) text — the expression must match it on any
      // input, not just single-space-separated text
      val toked = input.select(col("doc_id").as("id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      val w = Window.partitionBy("id").orderBy("pos")
      val parts = col("tok") +: (1 until n).map(i => lead("tok", i).over(w))
      val ref = toked.select(col("id"), parts.last.as("__last"),
          concat_ws(" ", parts: _*).as("gram"))
        .where(col("__last").isNotNull)
      val refHashes = ref.select(col("id"), xxhash64(col("gram")).as("gh"))
        .groupBy("id").agg(sort_array(collect_set(col("gh"))).as("ghs"))
      val refGrams = ref.groupBy("id")
        .agg(count(lit(1)).as("n_grams"), sort_array(collect_list(col("gram"))).as("grams"))
      val gotH = input.select(col("doc_id").as("id"),
        TextAnalysis.wordGramHashArray(col("text"), n).as("ghs_new"))
        .where(size(col("ghs_new")) > 0)
      val gotG = input.select(col("doc_id").as("id"),
        TextAnalysis.wordGramArray(col("text"), n).as("grams_raw"))
        .where(size(col("grams_raw")) > 0)
        .select(col("id"), size(col("grams_raw")).as("n_new"),
          sort_array(col("grams_raw")).as("grams_new"))
      assert(gotH.count() == refHashes.count(), s"n=$n doc coverage")
      assert(gotH.join(refHashes, "id").where(col("ghs_new") =!= col("ghs")).count() == 0,
        s"n=$n hash sets diverge")
      val gj = gotG.join(refGrams, "id")
      assert(gj.where(col("n_new") =!= col("n_grams")).count() == 0, s"n=$n gram counts")
      assert(gj.where(col("grams_new") =!= col("grams")).count() == 0, s"n=$n gram strings")
    }
  }

  test("one-pass SimHash64 expression equals the exploded aggregation") {
    val edge = Seq((9001L, ""), (9002L, "ab"), (9003L, "héllo wörld €dge"))
      .toDF("doc_id", "text")
    val input = docs.select("doc_id", "text").unionByName(edge)
    val a = Dedup.simhash(input).withColumnRenamed("simhash", "h_new")
    val b = Dedup.simhashExploded(input).withColumnRenamed("simhash", "h_old")
    val diff = a.join(b, "id").where(col("h_new") =!= col("h_old"))
    assert(diff.count() == 0)
  }

  test("nearDupGroups: min-label propagation resolves chains and separate components") {
    // chain 1-2, 2-3 (one component) plus 10-11: labels must reach the
    // chain's far end (requires >1 propagation round).
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupGroups(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("nearDupGroups on LSH pairs: every group id is the group's min member") {
    val groups = Dedup.nearDupGroups(Dedup.minhashLsh(docs, threshold = 0.8)).collect()
    assert(groups.nonEmpty)
    val byGroup = groups.groupBy(_.getAs[Long]("group_id"))
    byGroup.foreach { case (g, members) =>
      assert(members.map(_.getAs[Long]("doc_id")).min == g)
    }
  }
}

class SimilaritySuite extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("cosine: orthogonal and identical vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 1f), Array(-1f, -1f), -1.0)).toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("want")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("knn brute: k rows per probe, ranks contiguous, sims descending") {
    val out = Similarity.knnBrute(emb, emb.where(col("vec_id") < 5), k = 7).collect()
    assert(out.length == 35)
    val byProbe = out.groupBy(_.getAs[Long]("probe_id"))
    byProbe.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 7))
      val sims = sorted.map(_.getAs[Double]("sim")).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("ann lsh recovers planted clusters (high-cosine neighbors)") {
    // LSH ANN targets genuinely-near neighbors (cos ≥ ~0.8) — plant 10
    // clusters of 12 noisy copies; recall measured against brute force.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = for (c <- 0 until 10; i <- 0 until 12) yield {
      val v = centers(c).map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      ((c * 12 + i).toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 12 === 0)
    val brute = Similarity.knnBrute(df, probes, k = 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val ann = Similarity.annLsh(df, probes, dim = dim, k = 5, planes = 10).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall too low for planted clusters")
  }

  test("ivf ann: k rows per probe and high recall on planted clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = for (c <- 0 until 10; i <- 0 until 12) yield {
      val v = centers(c).map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      ((c * 12 + i).toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 12 === 0)
    val brute = Similarity.knnBrute(df, probes, k = 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = Similarity.ivfAnn(df, probes, k = 5, nlist = 8, nprobe = 3, iters = 2).collect()
    assert(ivf.length == 50)
    val got = ivf.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall $recall too low for planted clusters")
  }

  test("ivf: pre-trained quantizer path equals inline training; save/load roundtrips; cache reuses") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = (0 until 80).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") < 5)
    val cents = Similarity.ivfCentroids(df, nlist = 4, iters = 2)
    // Pre-trained overload = inline-training overload (same seed path).
    val pre = Similarity.ivfAnn(df, probes, cents, 5, 2, "vec_id", "embedding")
      .orderBy("probe_id", "rank").collect().toSeq
    val inline = Similarity.ivfAnn(df, probes, k = 5, nlist = 4, nprobe = 2, iters = 2)
      .orderBy("probe_id", "rank").collect().toSeq
    assert(pre == inline)
    // DataFrame roundtrip preserves every centroid exactly.
    val loaded = Similarity.centroidsFromDF(Similarity.centroidsToDF(spark, cents))
    assert(loaded.map(_._1) == cents.map(_._1))
    assert(loaded.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    // The session cache trains once: the second call returns the same instance.
    val c1 = Similarity.ivfCentroidsCached("test-corpus", df, nlist = 4)
    val c2 = Similarity.ivfCentroidsCached("test-corpus", df.limit(1), nlist = 4)
    assert(c1 eq c2)
    // Catalog-table persistence: first call trains + saves; the second
    // LOADS (an empty corpus proves no training pass runs) and returns
    // identical centroids.
    val t = "ivf_cents_t1"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      val saved = Similarity.ivfCentroidsTable(spark, t, df, nlist = 4)
      assert(spark.catalog.tableExists(t))
      val reloaded = Similarity.ivfCentroidsTable(spark, t, df.limit(0), nlist = 4)
      assert(reloaded.map(_._1) == saved.map(_._1))
      assert(reloaded.zip(saved).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    // Path persistence (the form that survives a fresh JVM without a
    // metastore — q44's at-ingest artifact): first call trains + writes;
    // the second LOADS (empty corpus proves no training pass).
    val p = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/cents"
    val saved2 = Similarity.ivfCentroidsPath(spark, p, df, nlist = 4)
    val reloaded2 = Similarity.ivfCentroidsPath(spark, p, df.limit(0), nlist = 4)
    assert(reloaded2.map(_._1) == saved2.map(_._1))
    assert(reloaded2.zip(saved2).forall { case ((_, a), (_, b)) => a.sameElements(b) })
  }
}

class RelationalSuite extends SparkSpec {
  import spark.implicits._

  test("asOf: picks most recent right row at or before left time") {
    val quotes = Seq((1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 110.0),
      (2L, ts("2024-01-01 09:00:00"), 50.0)).toDF("key", "qts", "price")
    val trades = Seq((1L, ts("2024-01-01 10:30:00"), "t1"),
      (1L, ts("2024-01-01 11:00:00"), "t2"), // equal instant → inclusive
      (1L, ts("2024-01-01 09:00:00"), "t0"), // before any quote
      (3L, ts("2024-01-01 12:00:00"), "t3")).toDF("key", "ts", "trade")
    val out = Relational.asOf(trades, quotes, "key", "ts", "qts", Seq("price"))
      .collect().map(r => r.getAs[String]("trade") -> Option(r.getAs[Any]("price"))).toMap
    assert(out("t1").contains(100.0))
    assert(out("t2").contains(110.0))
    assert(out("t0").isEmpty)
    assert(out("t3").isEmpty)
  }

  test("sessionize: gap splits sessions, ordering deterministic") {
    val ev = Seq((1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 10:10:00")),
      (3L, 10L, ts("2024-01-01 11:30:00")),
      (4L, 11L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val out = Relational.sessionize(ev, gapSeconds = 1800).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("session_seq")).toMap
    assert(out(1L) == 1 && out(2L) == 1 && out(3L) == 2 && out(4L) == 1)
  }

  test("upsert: source wins, base survives") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val src = Seq((2L, "B"), (3L, "C")).toDF("k", "v")
    val out = Relational.upsert(base, src, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "C"))
  }

  test("saltedJoin: identical results to the plain join, both join types") {
    // 1000 rows of one hot key + a long tail; dim has hits and misses.
    val left = ((1 to 1000).map(_ => (7L, "hot")) ++ (1 to 50).map(i => (i.toLong, s"t$i")))
      .toDF("k", "lv")
    val right = Seq((7L, "dim7"), (3L, "dim3"), (999L, "unused")).toDF("k", "rv")
    for (how <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), how)
        .groupBy("k", "rv").count().collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
      val salted = Relational.saltedJoin(left, right, Seq("k"), saltFactor = 8, how = how)
        .groupBy("k", "rv").count().collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
      assert(salted == plain, s"mismatch for $how join")
    }
  }

  test("intervalJoin: matches the naive cross filter, no nested-loop join") {
    // points 0..199 (with fractional offsets), intervals of assorted
    // widths incl. boundary-inclusive endpoints and an empty-match one.
    val points = (0 until 200).map(i => (i.toLong, i * 1.0 + (i % 3) * 0.25)).toDF("p_id", "v")
    val intervals = Seq(
      (1L, 0.0, 10.0), (2L, 9.5, 9.75), (3L, 50.0, 120.0),
      (4L, 181.25, 181.25), (5L, 500.0, 600.0)).toDF("iv_id", "lo", "hi")
    val fast = Relational.intervalJoin(points, "v", intervals, "lo", "hi", bucketWidth = 16.0)
    val naive = points.crossJoin(intervals)
      .where(col("v") >= col("lo") && col("v") <= col("hi"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("p_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(fast) == key(naive))
    assert(key(fast).nonEmpty && key(fast).exists(_._2 == 4L)) // point-width interval matched
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), s"interval join fell back to BNLJ:\n$plan")
  }

  test("intervalJoin: inverted intervals match nothing; wide outliers take the fallback") {
    val points = (0 until 100).map(i => (i.toLong, i * 1.0)).toDF("p_id", "v")
    val intervals = Seq(
      (1L, 10.0, 20.0),   // normal
      (2L, 30.0, 25.0),   // INVERTED: must match nothing (not a descending sequence)
      (3L, 0.0, 99.0)     // wide outlier: > maxBuckets buckets -> nested-loop branch
    ).toDF("iv_id", "lo", "hi")
    val got = Relational.intervalJoin(points, "v", intervals, "lo", "hi",
        bucketWidth = 2.0, maxBuckets = 10L)
      .select("p_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.crossJoin(intervals)
      .where(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("p_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(!got.exists(_._2 == 2L))            // inverted dropped
    assert(got.count(_._2 == 3L) == 100)       // wide interval still matches via fallback
  }

  test("histogram: bounds and overflow buckets") {
    val df = Seq(-1.0, 0.0, 5.0, 9.9, 10.0, 99.0).toDF("v")
    val out = Relational.histogram(df, "v", 0, 10, 2).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n")).toMap
    assert(out(0) == 1) // -1 underflow
    assert(out(1) == 1) // 0 → [0,5)
    assert(out(2) == 2) // 5, 9.9 → [5,10)
    assert(out(3) == 2) // 10, 99 overflow
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}

class TextSuite extends SparkSpec {
  import spark.implicits._

  test("bm25: term-hit docs rank by tf with length normalization, no-hit docs absent") {
    val docs = Seq(
      (1L, "spark spark spark data table"),         // tf=3, short
      (2L, "spark data table row column"),          // tf=1
      (3L, "data table row column value"),          // no query terms
      (4L, "spark " + ("filler " * 50).trim)        // tf=1, long doc → penalized
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, Seq("spark"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    assert(!out.contains(3L)) // no query term → not scored
    assert(out(1L) > out(2L), s"higher tf must score higher: $out")
    assert(out(2L) > out(4L), s"longer doc must be length-penalized: $out")
    assert(out.values.forall(_ > 0))
  }

  test("token counting and normalization") {
    val df = Seq("  Héllo   WORLD  x1  ", "").toDF("text")
    val out = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.normalize(col("text")).as("norm")).collect()
    assert(out(0).getAs[Int]("n") == 3)
    assert(out(0).getAs[String]("norm") == "héllo world x1")
    assert(out(1).getAs[Int]("n") == 0)
  }

  test("text kernels equal the Spark lower/regex formulations byte for byte, ICU on and off") {
    // the Column formulations the kernels replaced, kept as the reference
    def refTokens(t: Column) = regexp_extract_all(t, lit("\\S+"), lit(0))
    def refNormalize(t: Column) = trim(regexp_replace(lower(t), "\\s+", " "))
    def refHits(t: Column, ws: Seq[String]) =
      size(filter(refTokens(lower(t)), x => array_contains(array(ws.map(lit): _*), x)))
    def refLangId(t: Column) = {
      val best = array_max(array(TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (lg, ws) =>
        struct(refHits(t, ws).as("hits"), lit(lg).as("lang"))
      }: _*))
      when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
    }
    def refGopherStop(t: Column) = {
      val low = transform(refTokens(t), x => lower(x))
      TextAnalysis.stopwords("en").map(w => array_contains(low, w).cast("int"))
        .reduce(_ + _).cast("long")
    }
    val edge = Seq[(Long, String)](
      (9001L, ""), (9002L, null), (9003L, " \t\n\u000B\f\r "),
      (9004L, "A B"), (9005L, "A\tB"), (9006L, "A\nB"), (9007L, "A\u000BB"),
      (9008L, "A\fB"), (9009L, "A\rB"), (9010L, " \t\n The  CAT\r\n and   Dog \f\u000B "),
      (9011L, "İstanbul İN THE city"), (9012L, "ΣΟΦΟΣ σοφος ΟΔΟΣ"), (9013L, "Straße ß SS"),
      (9014L, "\u212Aelvin \u212A THE"), (9015L, "e\u0301 A\u0308 The\u0301 the"),
      (9016L, "😀 𝄞 THE \uD835\uDC00 and"), (9017L, "der le"), (9018L, "das que EN"),
      (9019L, "The THE the tHe und"),
      // Unicode 14-16 capitals: ICU 77 lowercases them, JDK 17's
      // String.toLowerCase does not, so the two fold branches differ
      (9022L, "\u2C2F\uA7C0\u1C89 THE"))
      .toDF("doc_id", "text")
    // 9020: truncated 3-byte lead byte at the end; 9021: lone continuation byte
    val malformed = Seq((9020L, "54484520414E4420E2"), (9021L, "544880452074686520414E44"))
      .toDF("doc_id", "hex").select(col("doc_id"), unhex(col("hex")).cast("string").as("text"))
    // the repartition keeps the edge rows out of local-relation folding
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val input = docs
      .unionByName(edge.unionByName(malformed).repartition(2))
    val t = col("text")
    val pairs: Seq[(String, Column, Column)] = Seq(
      ("normalize", TextAnalysis.normalize(t), refNormalize(t)),
      ("normalize bytes", hex(TextAnalysis.normalize(t)), hex(refNormalize(t))),
      ("langId", TextAnalysis.langId(t), refLangId(t)),
      ("gopher stop_hits", TextAnalysis.gopherRules(t).toMap.apply("stop_hits"), refGopherStop(t))) ++
      TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (lg, ws) =>
        (s"stopwordHits($lg)", TextAnalysis.stopwordHits(t, ws), refHits(t, ws))
      }
    val icuKey = "spark.sql.icu.caseMappings.enabled"
    val modeKey = "spark.sql.codegen.factoryMode"
    val wscgKey = "spark.sql.codegen.wholeStage"
    val saved = Seq(icuKey, modeKey, wscgKey).map(k => k -> spark.conf.getOption(k))
    try {
      for (icu <- Seq("true", "false"); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
        spark.conf.set(icuKey, icu)
        spark.conf.set(modeKey, mode)
        spark.conf.set(wscgKey, (mode == "CODEGEN_ONLY").toString)
        val rows = input.select(col("doc_id") +: pairs.flatMap { case (n, k, r) =>
          Seq(k.as(s"k:$n"), r.as(s"r:$n")) }: _*).collect()
        assert(rows.length == docs.count() + 22)
        for (row <- rows; i <- pairs.indices) {
          val (got, want) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
          assert(got == want, s"${pairs(i)._1} differs on doc ${row.get(0)} " +
            s"(icu=$icu, $mode): kernel=$got reference=$want")
        }
        val edgeOut = rows.filter(_.getLong(0) >= 9000L).map(r => r.getLong(0) -> r).toMap
        assert(edgeOut(9017L).getAs[String]("k:langId") == "fr") // de/fr tie: larger code
        assert(edgeOut(9018L).getAs[String]("k:langId") == "pt") // das+que: pt beats de, es
        assert(edgeOut(9003L).getAs[String]("k:normalize") == "")
        assert(edgeOut(9014L).getAs[String]("k:normalize") == "kelvin k the")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("langId: picks dominant stopword language") {
    val df = Seq("the cat and the dog is in the house",
      "der Hund ist nicht ein Katze und das Haus",
      "xyzzy plugh").toDF("text")
    val out = df.select(TextAnalysis.langId(col("text")).as("l")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("shingles + fingerprints stable under whitespace noise") {
    val df = Seq(("a b  c", "a b c")).toDF("t1", "t2")
    val r = df.select(
      (TextAnalysis.fingerprint(col("t1")) === TextAnalysis.fingerprint(col("t2"))).as("eq"),
      (TextAnalysis.shingleHashes(col("t1"), 3) === TextAnalysis.shingleHashes(col("t2"), 3)).as("sh")).collect()
    assert(r(0).getBoolean(0) && r(0).getBoolean(1))
  }

  test("repetitionSignals: constructed repetitive doc scores high") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),          // one token repeated
      (2L, "alpha beta gamma delta epsilon zeta"))    // all distinct
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("dup_token_ratio") > 0.8)
    assert(out(0).getAs[Double]("top_bigram_frac") == 1.0) // every bigram is "spam spam"
    assert(out(1).getAs[Double]("dup_token_ratio") == 0.0)
    assert(out(1).getAs[Double]("top_bigram_frac") == 0.2) // 5 distinct bigrams
  }

  test("decontaminate: flags only docs sharing a full n-gram with eval") {
    val base = "one two three four five six seven eight nine ten"
    val train = Seq(
      (1L, s"prefix words here $base"),     // contains the eval 8-gram run
      (2L, "totally different words with no overlap at all here"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, base)).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, eval, n = 8).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    assert(out(0).getAs[Long]("n_eval_docs") == 1L)
    assert(out(0).getAs[Long]("n_bad_grams") == 3L) // 10-token run → 3 shared 8-grams
  }

  test("decontaminateBloom: no false negatives vs exact; clean-corpus false flags bounded") {
    // contaminated docs carry a full eval 8-gram; clean docs are
    // random-ish distinct text (the fp-rate denominator)
    val base = "one two three four five six seven eight nine ten"
    val clean = (10L until 210L).map(i =>
      i -> s"clean doc $i with words ${(0 until 12).map(j => s"t${i}_$j").mkString(" ")}")
    val train = (Seq(
      1L -> s"prefix words here $base",
      2L -> s"$base and then a suffix") ++ clean).toDF("doc_id", "text")
    val eval = Seq(100L -> base).toDF("doc_id", "text")
    val exact = Curation.decontaminate(train, eval, n = 8)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val flagged = Curation.decontaminateBloom(train, eval, n = 8, fpp = 0.01)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_flagged_grams")).toMap
    // one-sided error: everything exactly-contaminated MUST be flagged
    assert(exact.subsetOf(flagged.keySet),
      s"bloom missed truly contaminated docs: ${exact -- flagged.keySet}")
    // flagged gram counts can only exceed the exact ones (fp direction)
    assert(flagged(1L) >= 3L)
    // false flags on the 200 clean docs stay near fpp (generous bound:
    // the test corpus has ~5 grams/doc, so E[false flags] ≈ 10)
    val falseFlags = flagged.keySet -- exact
    assert(falseFlags.size <= 40, s"fp rate implausibly high: ${falseFlags.size}/200")
  }

  test("decontaminateBloom sharded mode: per-shard filters keep the one-sided error") {
    val base = "one two three four five six seven eight nine ten"
    val clean = (10L until 210L).map(i =>
      i -> s"clean doc $i with words ${(0 until 12).map(j => s"t${i}_$j").mkString(" ")}")
    val train = (Seq(
      1L -> s"prefix words here $base",
      2L -> s"$base and then a suffix") ++ clean).toDF("doc_id", "text")
    val eval = Seq(100L -> base).toDF("doc_id", "text")
    val exact = Curation.decontaminate(train, eval, n = 8)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // explicit shard count: same contract as the single filter
    val sharded = Curation.decontaminateBloom(train, eval, n = 8, fpp = 0.01, shards = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_flagged_grams")).toMap
    assert(exact.subsetOf(sharded.keySet),
      s"sharded bloom missed truly contaminated docs: ${exact -- sharded.keySet}")
    assert(sharded(1L) >= 3L)
    assert((sharded.keySet -- exact).size <= 40,
      s"fp rate implausibly high in sharded mode: ${(sharded.keySet -- exact).size}/200")
    // deep shard dispatch at the 1024-shard BOUND: the probe is ONE
    // expression holding all blobs (round 17 — the old per-shard
    // when() chain made the plan O(k) deep), so the extreme must
    // analyze, codegen and stay one-sided with an O(1) plan
    val deepDf = Curation.decontaminateBloom(train, eval, n = 8, fpp = 0.01,
      shards = 1024)
    val deepPlan = deepDf.queryExecution.executedPlan.toString
    assert(deepPlan.contains("sharded_bloom_might_contain"), deepPlan.take(2000))
    assert(!deepPlan.contains("CASE WHEN"),
      "shard dispatch must not be a CASE chain:\n" + deepPlan.take(2000))
    val deep = deepDf.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(exact.subsetOf(deep), s"1024-shard bloom missed: ${exact -- deep}")
    // AUTO-sharding: shrink the session caps so one filter can no longer
    // hold a ~300-gram suite — the build must shard (k=4 under these
    // caps) instead of tripping bloomAgg's clamp refusal
    val bigEval = Seq(500L -> (0 until 300).map(j => s"ev$j").mkString(" "))
      .toDF("doc_id", "text")
    val bigTrain = (Seq(
      1L -> ("intro words " + (40 until 60).map(j => s"ev$j").mkString(" ")),
      2L -> "completely unrelated text with zero overlap whatsoever") ++ clean)
      .toDF("doc_id", "text")
    val bigExact = Curation.decontaminate(bigTrain, bigEval, n = 8)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(bigExact == Set(1L))
    val items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bits = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oi, ob) = (spark.conf.get(items), spark.conf.get(bits))
    spark.conf.set(items, "128"); spark.conf.set(bits, "100000")
    try {
      val auto = Curation.decontaminateBloom(bigTrain, bigEval, n = 8, fpp = 0.01)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(bigExact.subsetOf(auto), s"auto-sharded bloom missed: ${bigExact -- auto}")
    } finally { spark.conf.set(items, oi); spark.conf.set(bits, ob) }
  }

  test("bloomAgg refuses sizings Spark would silently clamp past the session caps") {
    import org.apache.spark.sql.graftbridge.BloomFunctions
    val maxItems = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    // over the item cap: BloomFilterAggregate would clamp silently and
    // the realized fpp would blow past the requested one — must refuse
    val e = intercept[IllegalArgumentException] {
      BloomFunctions.bloomAgg(org.apache.spark.sql.functions.col("x"), maxItems + 1, 0.01)
    }
    assert(e.getMessage.contains("maxNumItems"))
    // within the caps: builds fine
    import spark.implicits._
    val bf = Seq(1L, 2L, 3L).toDF("x")
      .agg(BloomFunctions.bloomAgg(org.apache.spark.sql.functions.col("x"), 1000L, 0.01))
      .head().getAs[Array[Byte]](0)
    assert(bf.nonEmpty)
  }

  test("chunkDedup: repeated 20-token chunk found across docs, short tails kept distinct") {
    val chunk = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, chunk + " tail one"),
      (2L, chunk + " tail two"),
      (3L, "something else entirely")).toDF("doc_id", "text")
    val out = Curation.chunkDedup(docs, chunkTokens = 20).collect()
    assert(out.length == 1) // only the shared leading chunk repeats
    assert(out(0).getAs[Long]("n_occurrences") == 2L)
    assert(out(0).getAs[Long]("first_doc") == 1L)
  }

  test("shardAssign: deterministic, bounded shards, near-uniform, columns survive") {
    val docs = (0L until 1000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val a = Curation.shardAssign(docs, 16).collect()
    val b = Curation.shardAssign(docs, 16).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "must be run-deterministic")
    assert(a.forall { r =>
      val s = r.getAs[Int]("shard"); s >= 0 && s < 16
    })
    assert(a.head.schema.fieldNames.contains("text"), "input columns survive")
    val counts = a.groupBy(_.getAs[Int]("shard")).map(_._2.length)
    assert(counts.size == 16 && counts.forall(c => c > 30 && c < 95),
      s"shard sizes should be near-uniform (62.5 expected): $counts")
  }

  test("vocab: term/doc counts, minDocFreq threshold, deterministic top-k cut") {
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "apple banana banana"),
      (3L, "apple date")).toDF("doc_id", "text")
    val out = TextAnalysis.vocab(docs, topK = 2, minDocFreq = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // cherry/date (df=1) drop; apple tc=4 df=3, banana tc=3 df=2; top-2 cut
    assert(out.toSeq == Seq(("apple", 4L, 3L), ("banana", 3L, 2L)))
  }

  test("contaminationScore: totals, matches and fraction against hand-counted grams") {
    // 3-grams: train doc 1 has 4 distinct grams, 2 of which appear in eval
    val train = Seq(
      (1L, "a b c d e f"),        // grams: abc bcd cde def
      (2L, "x y z w")).toDF("doc_id", "text") // grams: xyz yzw — clean
    val eval = Seq((100L, "b c d e")).toDF("doc_id", "text") // grams: bcd cde
    val out = Curation.contaminationScore(train, eval, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 4L, 2L, 0.5), (2L, 2L, 0L, 0.0)))
  }

  test("chunkOverlap: full coverage, stride overlap, short doc single chunk") {
    val docs = Seq(
      (1L, (1 to 25).map(i => s"w$i").mkString(" ")), // 25 toks, W=20 S=10 -> 2 windows
      (2L, "just five little words here"),            // 5 toks -> 1 window
      (3L, (1 to 41).map(i => s"v$i").mkString(" "))  // 41 toks -> ceil(21/10)+1 = 4
    ).toDF("doc_id", "text")
    val out = Curation.chunkOverlap(docs, windowTokens = 20, strideTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out.size == 2 + 1 + 4)
    // doc 1: window 0 = w1..w20, window 1 = w11..w25 (short tail, covered)
    assert(out((1L, 0L)) == (1 to 20).map(i => s"w$i").mkString(" "))
    assert(out((1L, 1L)) == (11 to 25).map(i => s"w$i").mkString(" "))
    // overlap: tokens 11..20 appear in both windows
    assert(out((1L, 0L)).split(" ").toSet.intersect(
      out((1L, 1L)).split(" ").toSet) == (11 to 20).map(i => s"w$i").toSet)
    assert(out((2L, 0L)) == "just five little words here")
    // doc 3: last window starts at 31, covers v31..v41 — token 41 not dropped
    assert(out((3L, 3L)) == (31 to 41).map(i => s"v$i").mkString(" "))
    // every token of doc 3 appears in some chunk (full coverage)
    val covered = (0L to 3L).flatMap(i => out((3L, i)).split(" ")).toSet
    assert(covered == (1 to 41).map(i => s"v$i").toSet)
  }

  test("removeBoilerplate: cross-doc repeated segments strip, order preserved, all-boiler doc empties") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")       // the shared footer
    def uniq(d: Int) = (1 to 10).map(i => s"u${d}_$i").mkString(" ")
    val docs = Seq(
      (1L, uniq(1) + " " + boiler),
      (2L, uniq(2) + " " + boiler),
      (3L, boiler + " " + uniq(3)),    // boiler in FRONT: order must survive
      (4L, boiler),                     // all-boilerplate doc
      (5L, uniq(5))).toDF("doc_id", "text")
    val out = Curation.removeBoilerplate(docs, chunkTokens = 10, maxDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed")))).toMap
    assert(out == Map(
      1L -> ((uniq(1), 1L)), 2L -> ((uniq(2), 1L)),
      3L -> ((uniq(3), 1L)),           // survivor keeps its position order
      4L -> (("", 1L)),                // fully-boilerplate doc: empty, not dropped
      5L -> ((uniq(5), 0L))))
    // at or below the docfreq threshold (the footer is in 4 docs)
    // nothing strips
    val lax = Curation.removeBoilerplate(docs, chunkTokens = 10, maxDocFreq = 4)
      .collect().map(_.getAs[Long]("n_removed")).sum
    assert(lax == 0L)
  }

  test("stratifiedSample: deterministic, respects per-language rates") {
    val docs = (0L until 2000L).map(i => (i, s"text $i", if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "text", "lang")
    val rates = Map("en" -> 10, "zh" -> 50)
    val a = Curation.stratifiedSample(docs, rates).collect()
    val b = Curation.stratifiedSample(docs, rates).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq) // reproducible
    val byLang = a.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang("en") > 50 && byLang("en") < 150)   // ~10% of 1000
    assert(byLang("zh") > 400 && byLang("zh") < 600)  // ~50% of 1000
    assert(a.forall(_.getAs[Long]("bucket") < 50))
  }

  test("leakageSplit: groups never straddle, singletons split on their own id") {
    val docs = (0L until 1000L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // near-dup groups with the min-id-label invariant: 0..49 pair up
    val groups = (0L until 100L).map(i => (i, i / 2 * 2)).toDF("doc_id", "group_id")
    val out = Curation.leakageSplit(docs, groups, trainPct = 90).collect()
    assert(out.length == 1000)
    val split = out.map(r => r.getLong(0) -> r.getString(3)).toMap
    // every grouped pair lands on one side
    (0L until 100L by 2).foreach(g => assert(split(g) == split(g + 1), s"group $g straddles"))
    // singletons: group_id is the doc's own id
    out.filter(_.getLong(0) >= 100L).foreach(r => assert(r.getLong(1) == r.getLong(0)))
    // doc-level fraction tracks trainPct on the singleton mass
    val trainN = out.count(_.getString(3) == "train")
    assert(trainN > 830 && trainN < 960, s"train fraction off: $trainN/1000")
    // bucket<->split consistency and determinism
    out.foreach(r => assert((r.getLong(2) < 90) == (r.getString(3) == "train")))
    val again = Curation.leakageSplit(docs, groups, trainPct = 90).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      Curation.leakageSplit(docs, groups, trainPct = 0)
    }
  }

  test("gopherRules: each rule fires on its crafted violation; clean text passes") {
    val good = ("the quick brown fox jumps over " * 10).trim       // 60 words, has stopwords
    val rows = Seq(
      (1L, good),                                                   // passes everything
      (2L, "too short text"),                                       // r_words
      (3L, ("ab " * 60).trim),                                      // r_mean (mean 2.0)
      (4L, (("12345 " * 48) + "the word here is fine").trim),       // r_alpha (48/53 numeric)
      (5L, (("#"*9 + " ") * 30 + good).trim),                       // r_sym (270 symbols / 90 words)
      (6L, ("lorem ipsum dolor sit amet " * 12).trim))              // r_stop (no list word)
    val df = rows.toDF("doc_id", "text")
    val feats = graft.operators.TextAnalysis.gopherRules(col("text"))
    val out = df.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    def rule(id: Long, name: String): Int =
      out(id).getInt(out(id).fieldIndex(name))
    assert(rule(1L, "pass") == 1, out(1L).toString)
    assert(rule(2L, "r_words") == 0 && rule(2L, "pass") == 0)
    assert(rule(3L, "r_mean") == 0 && rule(3L, "pass") == 0)
    assert(rule(4L, "r_alpha") == 0 && rule(4L, "pass") == 0)
    assert(rule(5L, "r_sym") == 0 && rule(5L, "pass") == 0)
    assert(rule(6L, "r_stop") == 0 && rule(6L, "pass") == 0)
  }

  test("mixtureSample: kept corpus lands on the target mixture; untargeted domains drop") {
    val docs = (0L until 3000L).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "la"
      (i, s"text $i", lang)
    }.toDF("doc_id", "text", "lang")
    // 1000 en / 1000 zh available; 80/20 target → S = min(1250, 5000) = 1250,
    // targets en=1000 (rate 100) zh=250 (rate 25); 'la' untargeted → dropped
    val out = Curation.mixtureSample(docs, Seq("en" -> 80L, "zh" -> 20L)).collect()
    val byLang = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang("en") == 1000)                       // rate 100 keeps all
    assert(byLang("zh") > 150 && byLang("zh") < 350)   // ~25% of 1000, hash-approximate
    assert(!byLang.contains("la"))
    // deterministic across runs
    val again = Curation.mixtureSample(docs, Seq("en" -> 80L, "zh" -> 20L)).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
    // a domain in targets but absent from the corpus cannot zero the plan
    val noLa = Curation.mixtureSample(docs.where(col("lang") =!= "la"),
      Seq("en" -> 80L, "zh" -> 20L, "xx" -> 1L)).collect()
    assert(noLa.map(_.toString).sameElements(out.map(_.toString)))
  }

  test("tokenBudget: cuts each group at the running-sum boundary") {
    val docs = Seq(
      (1L, "a b c d e", "en"), (2L, "a b c d e", "en"), (3L, "a b c d e", "en"),
      (10L, "x y", "de")).toDF("doc_id", "text", "lang")
    val out = Curation.tokenBudget(docs, budgetPerGroup = 12).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
    assert(out == Map(1L -> 5L, 2L -> 10L, 10L -> 2L)) // doc 3 would exceed 12
  }

  test("redactPii: emails, phones and long digit runs are tagged and counted") {
    val df = Seq(
      ("contact me at jane.doe@example.com or +1 (555) 123-4567 ref 123456", 3L),
      ("no pii here", 0L)).toDF("text", "want")
    val out = df.select(
      TextAnalysis.redactPii(col("text")).as("red"),
      TextAnalysis.piiCount(col("text")).as("n"), col("want")).collect()
    assert(out(0).getAs[String]("red") == "contact me at <EMAIL> or <PHONE> ref <NUM>")
    out.foreach(r => assert(r.getAs[Long]("n") == r.getAs[Long]("want")))
  }

  test("curateNearDup also collapses near-duplicate groups to the minimal id") {
    val en = "the cat and the dog is in the house with that other dog " * 4
    val docs = Seq(
      (1L, en),                                  // group keeper
      (2L, en + "extra"),                        // near-dup of 1 (J≈0.9) → dropped
      (3L, "the quick brown fox is with the " * 8), // distinct doc, kept
      (4L, "xyzzy plugh " * 20))                 // lang 'und' → dropped by gate
      .toDF("doc_id", "text")
    val out = Curation.curateNearDup(docs, minTokens = 10, threshold = 0.7)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(1L, 3L))
  }

  test("curation: drops short / unknown-language / duplicate docs, keeps the smallest id") {
    val en = "the cat and the dog is in the house with that other dog " * 2
    val docs = Seq(
      (1L, en),                     // keeper of the dup pair
      (2L, en.toUpperCase),         // normalized duplicate of 1 → dropped
      (3L, "xyzzy plugh " * 20),    // lang 'und' → dropped
      (4L, "the cat"),              // too short → dropped
      (5L, en + " extra tokens appended here for distinctness"))
      .toDF("doc_id", "text")
    val out = Curation.curate(docs, minTokens = 10).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 5L))
    assert(out.forall(_.getAs[String]("lang_pred") == "en"))
  }
}

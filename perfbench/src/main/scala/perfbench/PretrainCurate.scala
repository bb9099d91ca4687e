package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline._

/** Seeded synthetic web-text corpus for the shipped `pretrain_corpus`
  * pipeline. Words follow a Zipf law over a pseudo-word vocabulary; the
  * text is built from per-language phrase banks that mix each
  * language's `TextAnalysis.stopwords` with content words, so language
  * ID, the bigram LM and BPE all see realistic repetition. Planted
  * document kinds exercise every filter: near-duplicates (1-3 word
  * edits) for MinHash dedup, exact copies for curate's fingerprint
  * keeper, 12-word passages copied from eval-set documents for
  * decontamination, stopword-free and too-short documents for curate's
  * gates, and word salad for the LM filter.
  */
object Corpus {
  final case class Batch(docs: Seq[(Long, String)], plantedPairs: Seq[(Long, Long)])

  private val langWeights = Seq("en" -> 0.55, "de" -> 0.15, "fr" -> 0.12, "es" -> 0.12, "pt" -> 0.06)

  final class Vocab(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val syl = Seq("ka", "lo", "mi", "tu", "ren", "sa", "vo", "ple", "dri", "no", "gu",
      "te", "bar", "fin", "os", "qua", "zel", "ir", "mon", "ph")
    val words: IndexedSeq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      while (out.size < 800) out += (1 to 2 + rnd.nextInt(3)).map(_ => syl(rnd.nextInt(syl.size))).mkString
      out.toIndexedSeq.filterNot(w => graft.operators.TextAnalysis.stopwords.values.exists(_.contains(w)))
    }
    private val cum: Array[Double] = words.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    def zipf(r: scala.util.Random): String = {
      val u = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, u)
      words(math.min(if (i >= 0) i else -i - 1, words.size - 1))
    }
    /** 150 phrases of 4-7 words per language. */
    val phrases: Map[String, IndexedSeq[Seq[String]]] = langWeights.map { case (lg, _) =>
      val stops = graft.operators.TextAnalysis.stopwords(lg)
      lg -> (0 until 150).map { _ =>
        (0 until 4 + rnd.nextInt(4)).map(_ =>
          if (rnd.nextDouble() < 0.45) stops(rnd.nextInt(stops.size)) else zipf(rnd))
      }
    }.toMap
  }

  /** `n` documents with ids `[first, first + n)`. */
  def batch(vocab: Vocab, seed: Long, first: Long, n: Int): Batch = {
    val rnd = new scala.util.Random(seed)
    def lang(): String = {
      var u = rnd.nextDouble()
      langWeights.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("en")
    }
    def prose(lg: String, nWords: Int): Seq[String] = {
      val bank = vocab.phrases(lg)
      val out = ArrayBuffer.empty[String]
      while (out.size < nWords) out ++= bank(rnd.nextInt(bank.size))
      out.toSeq
    }
    val docs = ArrayBuffer.empty[(Long, Seq[String])]
    val normal = ArrayBuffer.empty[Int] // indexes of plain documents
    val pairs = ArrayBuffer.empty[(Long, Long)]
    (0 until n).foreach { k =>
      val id = first + k
      val u = rnd.nextDouble()
      val origins = normal.filter(j => docs(j)._1 % 97 != 0)
      val words: Seq[String] =
        if (u < 0.18 && origins.nonEmpty) { // near-duplicate: 1-3 word edits
          val j = origins(rnd.nextInt(origins.size))
          pairs += ((docs(j)._1, id))
          val w = docs(j)._2.toArray
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = vocab.zipf(rnd))
          w.toSeq
        } else if (u < 0.21 && origins.nonEmpty) { // exact copy
          docs(origins(rnd.nextInt(origins.size)))._2
        } else if (u < 0.24 && normal.exists(j => docs(j)._1 % 97 == 0)) { // eval leak
          val evals = normal.filter(j => docs(j)._1 % 97 == 0)
          val src = docs(evals(rnd.nextInt(evals.size)))._2
          val at = rnd.nextInt(math.max(1, src.size - 12))
          val base = prose(lang(), 60 + rnd.nextInt(60))
          val cut = rnd.nextInt(base.size)
          base.take(cut) ++ src.slice(at, at + 12) ++ base.drop(cut)
        } else if (u < 0.28) { // no stopwords: language "und"
          (0 until 40 + rnd.nextInt(60)).map(_ => vocab.zipf(rnd))
        } else if (u < 0.30) { // below min_tokens
          (0 until 3).map(_ => vocab.zipf(rnd))
        } else if (u < 0.34) { // word salad: stopwords, but unseen bigrams
          val stops = graft.operators.TextAnalysis.stopwords("en")
          (0 until 60 + rnd.nextInt(60)).map(i =>
            if (i % 3 == 0) stops(rnd.nextInt(stops.size))
            else vocab.words(200 + rnd.nextInt(vocab.words.size - 200)))
        } else {
          normal += docs.size
          prose(lang(), 60 + rnd.nextInt(90))
        }
      docs += ((id, words))
    }
    Batch(docs.map { case (id, w) => (id, w.mkString(" ")) }.toSeq, pairs.toSeq)
  }
}

/** `pretrain_curate`: the shipped `examples/pipelines/pretrain_corpus`
  * YAML over a seeded document batch. The batch runs the whole chain
  * (curate, MinHash dedup, span dedup, decontaminate, LM score + filter,
  * BPE count, pack, shard) and its output commits through
  * `Writer.write` into a versioned append table, so no output column is
  * pruned away. Each iteration starts a fresh table holding one earlier
  * curated commit and ingests the batch. The output checks read the
  * batch's change span and the snapshot back once, untraced.
  */
final class PretrainCurate extends Workload {
  val DocsPerBatch = 1000
  val PriorRows = 50
  val PriorFirstId = 1000000000L
  val SeqLen = 2048L

  private var spec: PipelineSpec = _
  private var batch: Corpus.Batch = _
  private val outputHashes = ArrayBuffer.empty[(Long, Long)]

  private def inputPath(ctx: Ctx, name: String): String =
    ctx.work.resolve(s"input/$name.parquet").toString

  def generate(ctx: Ctx): Unit = {
    batch = Corpus.batch(new Corpus.Vocab(ctx.seed), ctx.seed * 1000 + 1, 0L, DocsPerBatch)
    InputFiles.write(inputPath(ctx, "documents"),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
      batch.docs.map { case (id, text) => Row(id, text) })
    // an earlier curated commit, in the pipeline's output schema
    InputFiles.write(inputPath(ctx, "prior"),
      StructType(Seq("doc_id", "n_tokens", "bin", "bin_offset", "sort_key").map(StructField(_, LongType)) :+
        StructField("shard", IntegerType)),
      (0 until PriorRows).map { k =>
        val id = PriorFirstId + k
        Row(id, 100L, k / 20L, k % 20 * 100L, id * 31, k % 8)
      })
  }

  def setup(ctx: Ctx): Unit =
    spec = YamlLoader.loadDirectory(ctx.root.resolve("examples/pipelines/pretrain_corpus").toString)

  def iteration(ctx: Ctx): IterFacts = {
    val spark = ctx.spark
    val corpus = ctx.iterDir("corpus")
    VersionedTable.commitDelta(spark, corpus, "parquet", spark.read.parquet(inputPath(ctx, "prior")))
    val bound = spec.copy(sources = spec.sources.map {
      case f: FileSource if f.name == "documents" => f.copy(path = inputPath(ctx, "documents"))
      case other => other
    })
    ctx.timed("pipeline.batch", Kind.Write, rows = DocsPerBatch) {
      Harness.runPipeline(ctx, bound, SinkSpec(path = corpus, versioned = true))
    }

    // ---- output checks on the batch's committed rows ----
    val snap = Harness.digest(VersionedTable.read(spark, corpus))
    val changed = Harness.digest(VersionedTable.changesSince(spark, corpus, 1L))
    outputHashes += changed
    val out = VersionedTable.changesSince(spark, corpus, 1L)
      .select(col("doc_id"), col("n_tokens"), col("bin"), col("bin_offset"), col("shard"))
      .collect().map { r =>
        def n(i: Int): Long = r.getAs[Number](i).longValue
        (n(0), n(1), n(2), n(3), n(4))
      }.sortBy(_._1)
    val share = out.length.toDouble / DocsPerBatch
    System.err.println(f"[perfbench] pretrain_curate: ${out.length} of $DocsPerBatch documents survive")
    ctx.check(f"survivors ${out.length} in [45%%, 85%%] of $DocsPerBatch")(share >= 0.45 && share <= 0.85)
    var cum = 0L
    var packOk = true
    out.foreach { case (_, n, bin, off, _) =>
      packOk &&= bin == cum / SeqLen && off == cum % SeqLen
      cum += n
    }
    ctx.check("pack offsets are the prefix sum of BPE lengths in doc_id order")(packOk)
    ctx.check("shard in [0, 8)")(out.forall(r => r._5 >= 0 && r._5 < 8))
    val ids = out.map(_._1).toSet
    val missed = batch.plantedPairs.count { case (a, c) => ids(a) && ids(c) }
    val recall = 1.0 - missed.toDouble / batch.plantedPairs.size
    ctx.check(f"near-duplicate recall $recall%.3f >= 0.9 over ${batch.plantedPairs.size} planted pairs")(
      recall >= 0.9)
    ctx.check("change span and snapshot agree with the committed batch")(
      changed._2 == out.length && snap._2 == out.length + PriorRows)
    IterFacts(Harness.diskBytes(corpus), snap._2)
  }

  /** Needs two iterations; an untraced run usually fits one in its window. */
  override def finish(ctx: Ctx): Unit =
    if (outputHashes.size > 1)
      ctx.check(s"batch output identical across iterations (${outputHashes.distinct.size} distinct)")(
        outputHashes.distinct.size == 1)
}

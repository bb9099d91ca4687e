package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Sequence packing — the "concatenate then chop" step that turns a
  * curated corpus into fixed-length training sequences: documents are
  * laid end-to-end in deterministic id order and every `seqLen`-token
  * window becomes one training sequence (bin). Each document is
  * assigned the bin containing its FIRST token plus its offset inside
  * that bin, which is exactly what a downstream tokenizer/packer needs
  * to materialize the binary shards. (The reference has no packing
  * surface — this extends the LLM-pipeline family.)
  *
  * The global running token count is a DISTRIBUTED PREFIX SUM, not a
  * single-partition window: a `Window.orderBy(id)` with no partition
  * key funnels the whole corpus through one task — the classic
  * 100 TB-killer. Instead: range-repartition by id (contiguous id
  * ranges per partition, sorted within) and evaluate that plan ONCE
  * into a persisted `(id, n_tokens)` RDD. One pass over the cache
  * sums each partition's tokens (P longs to the driver — a bounded
  * probe set); the driver's prefix offsets ship in the task closure
  * of the second pass, which streams each partition adding its offset
  * to a local running sum and checkpoints the result. Both passes
  * read the same cached partitions, so partition indices and range
  * boundaries cannot shift between them; the result is byte-identical
  * for ANY partition count (PackingSuite pins P=1 vs P=7).
  */
object Packing {

  /** Assign each document its training-sequence bin and in-bin offset.
    * Output: (idCol, n_tokens, bin, bin_offset) — `bin` is the
    * seqLen-token window containing the document's first token.
    *
    * @param numPartitions explicit range-partition count; 0 = let the
    *   session's shuffle-partition setting decide.
    * @param lengthCol an optional per-doc length expression replacing
    *   the default whitespace token count — packing by a LEARNED
    *   tokenizer's lengths is `lengthCol =
    *   BpeTrainer.tokenCount(col(textCol), merges)` (q130's shape);
    *   the expression evaluates in the same sizing scan.
    */
  def sequencePack(
      docs: DataFrame,
      seqLen: Long,
      numPartitions: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text",
      lengthCol: Column = null): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val spark = docs.sparkSession

    val lenExpr =
      if (lengthCol != null) lengthCol else TextAnalysis.tokenCount(col(textCol))
    // Spread: the sizing expression (a learned tokenizer's count in
    // q130's shape) is the scan's whole cost — dense when the caller
    // passes a learned-length expression, byte-floored for the default
    // whitespace count (see [[Spread]])
    val sized = (if (lengthCol != null) Spread(docs) else Spread.medium(docs))
      .select(col(idCol).cast("long").as("id"),
      lenExpr.cast("long").as("n_tokens"))
    val ranged = (if (numPartitions > 0) sized.repartitionByRange(numPartitions, col("id"))
                  else sized.repartitionByRange(col("id")))
      .sortWithinPartitions("id")

    // ONE evaluation of the ranged plan, cached as (id, n_tokens): the
    // sums pass fills the cache and the prefix pass reads it, so both
    // see the same rows in the same partitions and sorted order.
    val cached = ranged.queryExecution.toRdd.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"sequencePack: null $idCol or token length")
      (r.getLong(0), r.getLong(1))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-partition token totals, P longs on the driver in
      // partition order — bounded
      val partSums = cached.mapPartitions(it => Iterator(it.map(_._2).sum)).collect()
      val offsets = partSums.scanLeft(0L)(_ + _) // offsets(p) = tokens before partition p
      // pass 2: streaming local cumsum from the partition's prefix
      // offset; rows inside a partition are in id order, so the
      // running sum is the global id-order prefix sum
      val packed = cached.mapPartitionsWithIndex { (pid, it) =>
        var cum = offsets(pid)
        it.map { case (id, t) =>
          val start = cum
          cum += t
          Row(id, t, start / seqLen, start % seqLen)
        }
      }
      val schema = StructType(Seq(idCol, "n_tokens", "bin", "bin_offset")
        .map(StructField(_, LongType, nullable = false)))
      spark.createDataFrame(packed, schema).localCheckpoint(true)
    } finally cached.unpersist(false)
  }
}

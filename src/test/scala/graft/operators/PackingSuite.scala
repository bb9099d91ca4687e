package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Sequence-packing contracts: the distributed prefix sum equals the
  * single-partition ground truth for any partition count, offsets are
  * contiguous in id order, and the bin math is the concatenate-chop
  * closed form.
  */
class PackingSuite extends SparkSpec {

  private lazy val docs = graft.Tables.load(spark, sfDir, "documents")

  private def rows(p: Int): Array[(Long, Long, Long, Long)] =
    Packing.sequencePack(docs, seqLen = 512, numPartitions = p)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("partition-count invariance: P=1 (ground truth) == P=7 == default") {
    val p1 = rows(1)
    assert(p1.sameElements(rows(7)), "P=7 diverged from the single-partition ground truth")
    assert(p1.sameElements(rows(0)), "default partitioning diverged")
  }

  test("offsets are the contiguous global prefix sum; bin math is start/seqLen") {
    val p = rows(4)
    var cum = 0L
    p.foreach { case (id, t, bin, off) =>
      assert(bin == cum / 512 && off == cum % 512,
        s"doc $id: expected start=$cum -> bin ${cum / 512} off ${cum % 512}, got ($bin, $off)")
      cum += t
    }
    // totals line up with the corpus token count
    val total = docs.select(sum(TextAnalysis.tokenCount(col("text")).cast("long")))
      .collect()(0).getLong(0)
    assert(cum == total)
  }

  test("lengthCol overrides the whitespace count: pack by a custom length expression") {
    // length = doc_id % 7 — trivially recomputable, so the expected
    // prefix sum is closed-form on the driver
    val p = Packing.sequencePack(docs, seqLen = 64, numPartitions = 5,
        lengthCol = col("doc_id") % 7)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    var cum = 0L
    p.foreach { case (id, t, bin, off) =>
      assert(t == id % 7, s"doc $id: lengthCol ignored (n_tokens $t, expected ${id % 7})")
      assert(bin == cum / 64 && off == cum % 64, s"doc $id: wrong bin/offset")
      cum += t
    }
  }

  test("no cache leaks: operator releases its persisted intermediate") {
    Packing.sequencePack(docs, seqLen = 1024, numPartitions = 3).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "sequencePack leaked a persisted intermediate into the cache manager")
  }

  test("no RDD persist leaks: only the returned checkpoint stays persisted; bounded jobs") {
    // the one-pass cache is an RDD persist, which the cacheManager
    // check above cannot see
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (out, jobs) = jobsSubmitted(Packing.sequencePack(docs, seqLen = 1024, numPartitions = 3))
    val held = sc.getPersistentRDDs.keySet -- before
    val returned = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(returned.size == 1 && held == returned,
      s"persisted RDDs left behind: $held, returned checkpoint: $returned")
    // range sampling + range shuffle + partition sums + checkpoint
    assert(jobs <= 4, s"sequencePack submitted $jobs jobs")
    Dedup.releaseCheckpoint(out)
  }
}

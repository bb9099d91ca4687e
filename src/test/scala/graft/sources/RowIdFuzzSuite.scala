package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized DML-sequence hardening for the stable-row-id contract
  * (round 18): on a table declaring a materialized row-id column, ANY
  * interleaving of append / DV delete / update / merge / compact must
  * keep three invariants the fixtures can't cover combinatorially —
  *  1. a row that survives a step keeps its id byte-stably,
  *  2. live ids stay unique,
  *  3. the bookkeeping stays sound (every live file stamped, ranges
  *     disjoint, hwm covers every assigned id).
  * Deterministic seed; the sequence is random but replayable.
  */
class RowIdFuzzSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_ridfuzz").toString + "/t"

  private def liveIds(root: String): Map[Long, Long] =
    DeltaRead.readWithRowIds(spark, root)
      .select(col("k"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertSound(root: String): Unit = {
    val s = DeltaRead.snapshot(spark, root)
    assert(s.files.keySet == s.rowIds.keySet, "every live file stamped")
    val hwm = {
      val m = """"rowIdHighWaterMark"\s*:\s*(-?\d+)""".r
      m.findFirstMatchIn(s.domains("delta.rowTracking")).map(_.group(1).toLong).get
    }
    val ranges = s.rowIds.toSeq.map { case (rel, (b, _)) =>
      val nr = s.stats.get(rel).flatMap(DeltaRead.parseAddStats).map(_.rows).get
      (b, b + nr - 1)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aEnd), (bStart, _)) => assert(aEnd < bStart, "ranges disjoint")
      case _ => ()
    }
    ranges.lastOption.foreach { case (_, end) => assert(hwm >= end, "hwm covers") }
  }

  test("random DML sequences never re-key surviving rows (materialized ids)") {
    fuzz(Map.empty)
  }

  test("random DML sequences never re-key surviving rows (deletion-vector merges)") {
    fuzz(Map("delta.enableDeletionVectors" -> "true"))
  }

  /** The seeded DML sequence on a table declaring a materialized row-id
    * column plus `props`.
    */
  private def fuzz(props: Map[String, String]): Unit = {
    val rnd = new scala.util.Random(4242L)
    val root = tmp()
    var nextKey = 0L
    def freshRows(n: Int) = {
      val ks = (nextKey until nextKey + n); nextKey += n
      ks.map(k => (k, k % 7)).toDF("k", "v")
    }
    DeltaWrite.append(spark, freshRows(40).repartition(2), root)
    DeltaWrite.setProperties(spark, root, props ++ Map(
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))
    var before = liveIds(root)
    val ops = Seq.newBuilder[String]
    for (step <- 1 to 12) {
      val op = rnd.nextInt(5)
      val survivorsKeepIds: Boolean = op match {
        case 0 => // append fresh keys
          ops += "append"
          DeltaWrite.append(spark, freshRows(5 + rnd.nextInt(10)).coalesce(1), root)
          true
        case 1 => // DV delete a random key slice
          val m = 2 + rnd.nextInt(5)
          ops += s"delete(k%$m=0)"
          DeltaWrite.delete(spark, root, s"k % $m = 0")
          true
        case 2 => // update a random slice in place
          val m = 2 + rnd.nextInt(5)
          ops += s"update(k%$m=1)"
          DeltaWrite.update(spark, root, s"k % $m = 1", Map("v" -> "v + 100"))
          true
        case 3 => // merge: update a slice + insert fresh keys
          val upd = DeltaRead.read(spark, root).where(col("k") % 3 === 2)
            .select(col("k"), (col("v") + 1000L).as("v"))
          val ins = freshRows(3)
          ops += "merge"
          DeltaWrite.merge(spark, upd.unionByName(ins), root, Seq("k"))
          true
        case _ => // compact
          ops += "compact"
          DeltaWrite.compact(spark, root, targetFiles = 1 + rnd.nextInt(2))
          true
      }
      val after = liveIds(root)
      assert(after.values.toSeq.distinct.size == after.size,
        s"duplicate live ids after step $step (${ops.result().mkString(" -> ")})")
      if (survivorsKeepIds) before.foreach { case (k, rid) =>
        after.get(k).foreach(a => assert(a == rid,
          s"step $step re-keyed k=$k: $rid -> $a (${ops.result().mkString(" -> ")})"))
      }
      assertSound(root)
      before = after
    }
    assert(before.nonEmpty)
  }
}

package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File sizing of Delta writes. Deletion-vector DELETE / UPDATE / MERGE
  * write only the rows they change, rebalanced into byte-sized files: a
  * small DML commits one data file and one change-data file (one per
  * partition value it touches), whatever the partitioning of the scan
  * it read. Every writer drops the zero-row file Spark leaves for an
  * empty first task.
  */
class DvDmlFilesSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dvfiles").toString + "/t"

  private def of(acts: Seq[(String, JsonNode)], kind: String): Seq[JsonNode] =
    acts.collect { case (`kind`, n) => n }

  private def rel(n: JsonNode): String = DeltaRead.decodePath(n.get("path").asText())

  /** The adds of commit `acts` that are new files, not DV re-adds of a
    * file the same commit removed.
    */
  private def newAdds(acts: Seq[(String, JsonNode)]): Seq[JsonNode] = {
    val removed = of(acts, "remove").map(rel).toSet
    of(acts, "add").filterNot(n => removed.contains(rel(n)))
  }

  private def rowsIn(root: String, n: JsonNode): Long =
    spark.read.parquet(new java.io.File(root, rel(n)).toString).count()

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Four 100-row files (ids 0..399, v = 2 * id) with the change data
    * feed, row tracking, a materialized row-id column and deletion
    * vectors; returns the version of the property commit.
    */
  private def fourFileTable(root: String): Long = {
    (0 until 4).foreach(f => DeltaWrite.append(spark,
      spark.range(f * 100L, f * 100L + 100L).select(col("id"), (col("id") * 2).as("v"))
        .coalesce(1), root))
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid",
      "delta.enableDeletionVectors" -> "true"))
  }

  /** A 4-partition source, so an unbalanced write would land one file
    * per source partition.
    */
  private def mergeSource: DataFrame =
    Seq(20L, 120L, 220L, 320L, 1000L, 1001L).toDF("id")
      .select(col("id"), lit(-1L).as("v")).repartition(4)

  test("DV DELETE, UPDATE and MERGE each commit one change-data file and one data file") {
    val root = tmp()
    val props = fourFileTable(root)
    assert(DeltaRead.snapshot(spark, root).files.size == 4)
    val idOf: Map[Long, Long] = DeltaRead.readWithRowIds(spark, root)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    assert(idOf.size == 400)
    // each statement matches one row in every file
    val vDel = DeltaWrite.delete(spark, root, "id % 100 = 7")
    val vUpd = DeltaWrite.update(spark, root, "id % 100 = 11", Map("v" -> "-v"))
    val vMrg = DeltaWrite.merge(spark, mergeSource, root, Seq("id"))
    assert(Seq(vDel, vUpd, vMrg) == Seq(props + 1, props + 2, props + 3))
    Seq(vDel -> 0, vUpd -> 1, vMrg -> 1).foreach { case (v, adds) =>
      val acts = CommitActions(root, v)
      assert(of(acts, "remove").size == 4, s"v$v soft-deletes one row in each file")
      assert(of(acts, "cdc").size == 1, s"v$v commits one change-data file")
      assert(newAdds(acts).size == adds, s"v$v commits $adds new data file(s)")
      (of(acts, "cdc") ++ newAdds(acts)).foreach(n =>
        assert(rowsIn(root, n) > 0, s"v$v committed a zero-row file ${rel(n)}"))
    }

    val deleted = Seq(7L, 107L, 207L, 307L)
    val updated = Seq(11L, 111L, 211L, 311L)
    val merged = Seq(20L, 120L, 220L, 320L)
    val inserted = Seq(1000L, 1001L)
    val expected = (0L until 400L).filterNot(deleted.contains).map { id =>
      (id, if (updated.contains(id)) -2 * id else if (merged.contains(id)) -1L else 2 * id)
    } ++ inserted.map(_ -> -1L)
    assert(sorted(DeltaRead.read(spark, root)) == sorted(expected.toDF("id", "v")))

    val changes: Seq[(Long, Long, String, Long)] =
      deleted.map(id => (id, 2 * id, "delete", vDel)) ++
        updated.flatMap(id => Seq((id, 2 * id, "update_preimage", vUpd),
          (id, -2 * id, "update_postimage", vUpd))) ++
        merged.flatMap(id => Seq((id, 2 * id, "update_preimage", vMrg),
          (id, -1L, "update_postimage", vMrg))) ++
        inserted.map(id => (id, -1L, "insert", vMrg))
    assert(sorted(DeltaRead.readChanges(spark, root, vDel)
        .select("id", "v", "_change_type", "_commit_version")) ==
      sorted(changes.toDF("id", "v", "_change_type", "_commit_version")))

    // carried and updated rows keep their ids; inserts mint fresh ones
    val keyed = DeltaRead.readChangesWithRowIds(spark, root, vDel)
      .select("id", "v", "_change_type", "_commit_version", "_row_id")
    assert(sorted(keyed.where(col("_change_type") =!= "insert")) ==
      sorted(changes.filter(_._3 != "insert").map { case (id, v, t, cv) =>
        (id, v, t, cv, idOf(id)) }.toDF("id", "v", "_change_type", "_commit_version", "_row_id")))
    val fresh = keyed.where(col("_change_type") === "insert")
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    assert(fresh.keySet == inserted.toSet)
    assert(fresh.values.toSet.size == 2 && fresh.values.forall(_ > idOf.values.max))
    val live = DeltaRead.readWithRowIds(spark, root).select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(live == idOf.filter(kv => !deleted.contains(kv._1)) ++ fresh)
  }

  test("partitioned DV DML writes at most one file per partition value it touches") {
    val root = tmp()
    (0 until 3).foreach(f => DeltaWrite.append(spark,
      spark.range(f * 100L, f * 100L + 100L)
        .select(col("id"), (col("id") * 2).as("v"), (col("id") % 3).as("p")).repartition(2),
      root, Seq("p")))
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableChangeDataFeed" -> "true", "delta.enableDeletionVectors" -> "true"))
    assert(DeltaRead.snapshot(spark, root).files.size > 3)
    val vDel = DeltaWrite.delete(spark, root, "id % 10 = 5")
    val vUpd = DeltaWrite.update(spark, root, "id % 10 = 3", Map("v" -> "-v"))
    val src = (Seq(4L, 14L, 100L, 201L) ++ (1000L until 1006L))
      .toDF("id").select(col("id"), lit(-1L).as("v"), (col("id") % 3).as("p")).repartition(4)
    val vMrg = DeltaWrite.merge(spark, src, root, Seq("id"))
    def touched(cond: Long => Boolean) = (0L until 300L).filter(cond).map(_ % 3).toSet
    Seq((vDel, touched(_ % 10 == 5), false), (vUpd, touched(_ % 10 == 3), true),
        (vMrg, Set(0L, 1L, 2L), true)).foreach { case (v, parts, adds) =>
      val acts = CommitActions(root, v)
      def perPart(ns: Seq[JsonNode]) =
        ns.map(_.get("partitionValues").get("p").asText().toLong).groupBy(identity)
          .map { case (p, hits) => p -> hits.size }
      assert(perPart(of(acts, "cdc")) == parts.map(_ -> 1).toMap,
        s"v$v: one change-data file per partition value touched")
      assert(perPart(newAdds(acts)) == (if (adds) parts.map(_ -> 1).toMap else Map.empty),
        s"v$v: one new data file per partition value touched")
    }
    val expected = (0L until 300L).filterNot(_ % 10 == 5).filterNot(src.select("id")
        .as[Long].collect().contains).map { id =>
      (id, if (id % 10 == 3) -2 * id else 2 * id, id % 3)
    } ++ src.as[(Long, Long, Long)].collect()
    assert(sorted(DeltaRead.read(spark, root).select("id", "v", "p")) ==
      sorted(expected.toDF("id", "v", "p")))
  }

  test("a small DV UPDATE pays one job per rebalanced write") {
    val root = tmp()
    fourFileTable(root)
    val (v, jobs) = jobsSubmitted(DeltaWrite.update(spark, root, "id % 100 = 11",
      Map("v" -> "-v")))
    // written unbalanced, this UPDATE submitted 5 jobs on this table;
    // the data write and the change-data write add one shuffle-map job
    // each
    assert(jobs == 7, s"the update submitted $jobs jobs")
    assert(of(CommitActions(root, v), "cdc").size == 1)
  }

  test("an append of a filtered frame commits no zero-row file") {
    val root = tmp()
    val v = DeltaWrite.append(spark, spark.range(0, 100, 1, 4).where($"id" >= 50)
      .select(col("id")), root)
    val adds = of(CommitActions(root, v), "add")
    assert(adds.nonEmpty)
    adds.foreach { n =>
      val rows = DeltaRead.parseAddStats(n.get("stats").asText()).map(_.rows)
      assert(rows.exists(_ > 0), s"zero-row add ${rel(n)}")
    }
    assert(DeltaRead.read(spark, root).count() == 50)
    // a write of nothing keeps its lone file
    val empty = tmp()
    val v0 = DeltaWrite.append(spark, spark.range(0, 10, 1, 2).where($"id" < 0)
      .select(col("id")), empty)
    assert(of(CommitActions(empty, v0), "add").size == 1)
    assert(DeltaRead.read(spark, empty).count() == 0)
  }

  test("a copy-on-write CDF merge whose first touched file matches nothing commits no zero-row cdc file") {
    val root = tmp()
    // the largest file (read first) holds the even ids 0..398; key 201
    // falls inside its range without matching a row, key 1010 matches
    // in the second file
    DeltaWrite.append(spark, spark.range(0L, 400L, 2L).select(col("id"), col("id").as("v"))
      .coalesce(1), root)
    DeltaWrite.append(spark, spark.range(1000L, 1050L).select(col("id"), col("id").as("v"))
      .coalesce(1), root)
    DeltaWrite.setProperties(spark, root, Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaWrite.merge(spark, Seq((201L, -1L), (1010L, -1L)).toDF("id", "v"), root,
      Seq("id"))
    val acts = CommitActions(root, v)
    assert(of(acts, "remove").size == 2, "both files are touched and rewritten")
    val cdc = of(acts, "cdc")
    assert(cdc.nonEmpty)
    cdc.foreach(n => assert(rowsIn(root, n) > 0, s"zero-row cdc file ${rel(n)}"))
    assert(sorted(DeltaRead.readChanges(spark, root, v).select("id", "v", "_change_type")) ==
      Seq("[1010,-1,update_postimage]", "[1010,1010,update_preimage]", "[201,-1,insert]"))
  }
}

package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE on deletion-vector tables (`delta.enableDeletionVectors=true`):
  * the default upsert soft-deletes the matched target rows in their
  * files' DVs and writes only the source's rows. Twin tables — one with
  * the property, one copy-on-write — take the same merge sequence and
  * must agree on every snapshot row and every change row; the DV twin's
  * commits must leave unmatched rows where they are.
  */
class DvMergeSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dvmerge").toString + "/t"

  private def paths(acts: Seq[(String, JsonNode)], kind: String): Seq[String] =
    acts.collect { case (`kind`, n) => DeltaRead.decodePath(n.get("path").asText()) }

  /** Whether some MERGE commit re-added a file it removed, with a DV. */
  private def softDeleted(root: String): Boolean =
    DeltaRead.versions(spark, root).exists { v =>
      val acts = CommitActions(root, v)
      acts.head._2.get("operation").asText() == "MERGE" && {
        val removed = paths(acts, "remove").toSet
        acts.exists { case (k, n) =>
          k == "add" && n.has("deletionVector") &&
            removed.contains(DeltaRead.decodePath(n.get("path").asText()))
        }
      }
    }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Keys at or past this value (and null keys) only ever enter a
    * twin through a merge insert.
    */
  private val InsertedKeys = 1000L

  /** Two tables built alike from `base`, the second with deletion
    * vectors enabled, each taking every merge of `merges` on `id`;
    * asserts the twins agree and that only the second soft-deleted.
    * Inserted rows' fresh row ids may differ (the DV twin's new files
    * hold fewer rows), so change rows of inserted keys compare without
    * their ids.
    */
  private def twins(base: DataFrame, props: Map[String, String],
                    partitionBy: Seq[String] = Nil, mapped: Boolean = false)
                   (merges: DataFrame*): Unit = {
    val cow = tmp()
    val dv = tmp()
    Seq(cow -> "false", dv -> "true").foreach { case (root, on) =>
      DeltaWrite.append(spark, base, root, partitionBy)
      DeltaWrite.setProperties(spark, root, props + ("delta.enableDeletionVectors" -> on))
      if (mapped) DeltaWrite.enableColumnMapping(spark, root)
      merges.foreach(src => DeltaWrite.merge(spark, src, root, Seq("id")))
    }
    assert(!softDeleted(cow), "the copy-on-write twin must rewrite touched files")
    assert(softDeleted(dv), "the DV twin must soft-delete its matched rows")
    assert(sorted(DeltaRead.read(spark, cow)) == sorted(DeltaRead.read(spark, dv)),
      "twin snapshots differ")
    val from = DeltaRead.versions(spark, cow).max - merges.size + 1
    if (props.get("delta.enableChangeDataFeed").contains("true")) {
      def changes(root: String) =
        sorted(DeltaRead.readChanges(spark, root, from).drop("_commit_timestamp"))
      assert(changes(cow) == changes(dv), "twin change feeds differ")
    }
    if (props.contains("delta.rowTracking.materializedRowIdColumnName")) {
      val inserted = col("_change_type") === "insert" || col("id").isNull ||
        col("id") >= InsertedKeys
      def keyed(root: String) = sorted(DeltaRead.readChangesWithRowIds(spark, root, from)
        .drop("_commit_timestamp")
        .withColumn("_row_id", when(inserted, lit(null)).otherwise(col("_row_id"))))
      assert(keyed(cow) == keyed(dv), "twin id-keyed change feeds differ")
      def ids(root: String) = sorted(DeltaRead.readWithRowIds(spark, root)
        .where(col("id") < InsertedKeys).select("id", "v", "_row_id"))
      assert(ids(cow) == ids(dv), "carried and updated rows must keep their ids")
    }
  }

  /** 40 keys in 3 files, key 7 held by two rows, one null key. */
  private def base: DataFrame =
    (0L until 40L).map(k => (Option(k), s"b$k", k % 3)).toDF("id", "v", "p")
      .unionByName(Seq((Option(7L), "b7'", 1L), (Option.empty[Long], "bnull", 0L))
        .toDF("id", "v", "p"))
      .repartition(3, col("p"))

  private def src(rows: (Option[Long], String, Long)*): DataFrame =
    rows.toDF("id", "v", "p").coalesce(1)

  private val first = Seq((Some(3L), "m3", 0L), (Some(7L), "m7", 2L), (Some(15L), "m15", 1L),
    (Some(1000L), "m1000", 1L), (None, "mnull", 2L))
  private val second = Seq((Some(3L), "n3", 1L), (Some(1000L), "n1000", 0L),
    (Some(20L), "n20", 2L), (Some(1001L), "n1001", 2L))

  test("DV merge twins: null source keys and a two-row target key") {
    twins(base, Map("delta.checkpointInterval" -> "100"))(src(first: _*), src(second: _*))
  }

  test("DV merge twins: partitioned table with change data feed") {
    twins(base, Map("delta.enableChangeDataFeed" -> "true"), partitionBy = Seq("p"))(
      src(first: _*), src(second: _*))
  }

  test("DV merge twins: column-mapped table with change data feed") {
    twins(base, Map("delta.enableChangeDataFeed" -> "true"), mapped = true)(
      src(first: _*), src(second: _*))
  }

  test("DV merge twins: change data feed with materialized row ids") {
    twins(base, Map("delta.enableChangeDataFeed" -> "true",
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))(
      src(first: _*), src(second: _*))
  }

  test("DV merge re-adds each touched file with a DV and adds only the source's rows") {
    val root = tmp()
    (0 until 4).foreach(f => DeltaWrite.append(spark,
      spark.range(f * 100L, f * 100L + 100L).select(col("id"), (col("id") * 2).as("v"))
        .coalesce(1), root))
    DeltaWrite.setProperties(spark, root, Map("delta.enableDeletionVectors" -> "true"))
    val before = DeltaRead.snapshot(spark, root)
    // keys 5 and 150 fall in the first two files; 1000 inserts
    val source = Seq((5L, -5L), (150L, -150L), (1000L, -1L)).toDF("id", "v").coalesce(1)
    val v = DeltaWrite.merge(spark, source, root, Seq("id"))
    val acts = CommitActions(root, v)
    val touched = before.files.keySet.filter { rel =>
      spark.read.parquet(new java.io.File(root, rel).toString)
        .where(col("id").isin(5L, 150L)).count() > 0
    }
    assert(touched.size == 2)
    assert(paths(acts, "remove").toSet == touched, "only the matched files are removed")
    val (readded, added) = acts.collect { case ("add", n) => n }
      .partition(n => touched.contains(DeltaRead.decodePath(n.get("path").asText())))
    assert(readded.size == 2 && readded.forall(n =>
      n.get("deletionVector").get("cardinality").asLong() == 1L),
      "each touched file comes back under its own path with a one-row DV")
    val newRows = added.map(n => DeltaRead.decodePath(n.get("path").asText()))
      .map(rel => spark.read.parquet(new java.io.File(root, rel).toString))
      .reduce(_.unionByName(_))
    assert(sorted(newRows) == sorted(source), "the new files hold exactly the source rows")
    val after = DeltaRead.read(spark, root)
    assert(after.count() == 401)
    assert(sorted(after.where(col("id").isin(5L, 150L, 1000L))) == sorted(source))
  }

  test("copy-on-write CDF merge without row ids splits the source on one matched-key frame") {
    // the postimage semi-join and the insert anti-join share one build
    // side holding only the matched keys; a persisted variant of the
    // matched rows cost 4 more jobs (one cache stage per reference)
    val root = tmp()
    (0 until 3).foreach(f => DeltaWrite.append(spark,
      spark.range(f * 100L, f * 100L + 100L).select(col("id"), (col("id") * 2).as("v"))
        .coalesce(1), root))
    DeltaWrite.setProperties(spark, root, Map("delta.enableChangeDataFeed" -> "true"))
    val source = Seq((5L, -5L), (150L, -150L), (1000L, -1L)).toDF("id", "v").coalesce(1)
    val (v, jobs) = jobsSubmitted(DeltaWrite.merge(spark, source, root, Seq("id")))
    assert(!softDeleted(root))
    assert(jobs <= 7, s"the merge submitted $jobs jobs")
    assert(sorted(DeltaRead.readChanges(spark, root, v).select("id", "v", "_change_type")) ==
      Seq("[1000,-1,insert]", "[150,-150,update_postimage]", "[150,300,update_preimage]",
        "[5,-5,update_postimage]", "[5,10,update_preimage]"))
  }

  test("DV merge falls back to copy-on-write for a custom mergeFn and past the DV cap") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(20L).select(col("id"), col("id").as("v")).coalesce(1),
      root)
    DeltaWrite.setProperties(spark, root, Map("delta.enableDeletionVectors" -> "true"))
    // the cap counts the live DVs (here one file's 4 rows) plus the
    // matched rows
    DeltaWrite.delete(spark, root, "id < 4")
    val snap = DeltaRead.snapshot(spark, root)
    val live = 4L
    assert(DeltaWrite.mergeUsesDvs(snap, customMergeFn = false, 0L))
    assert(DeltaWrite.mergeUsesDvs(snap, customMergeFn = false,
      DeletionVectors.maxDeletedRows - live))
    assert(!DeltaWrite.mergeUsesDvs(snap, customMergeFn = false,
      DeletionVectors.maxDeletedRows - live + 1))
    assert(!DeltaWrite.mergeUsesDvs(snap, customMergeFn = true, 0L))
    val upsert = (t: DataFrame, s: DataFrame) =>
      s.unionByName(t.join(s.select("id"), Seq("id"), "left_anti"))
    val v = DeltaWrite.merge(spark, Seq((5L, -5L)).toDF("id", "v"), root, Seq("id"), upsert)
    val acts = CommitActions(root, v)
    val removed = paths(acts, "remove").toSet
    assert(removed.nonEmpty)
    assert(acts.collect { case ("add", n) => n }.forall(n => !n.has("deletionVector") &&
      !removed.contains(DeltaRead.decodePath(n.get("path").asText()))),
      "a custom mergeFn rewrites the touched files")
    assert(sorted(DeltaRead.read(spark, root)) ==
      sorted((4L until 20L).map(k => (k, if (k == 5L) -5L else k)).toDF("id", "v")))
    val plain = tmp()
    DeltaWrite.append(spark, Seq((1L, 1L)).toDF("id", "v"), plain)
    assert(!DeltaWrite.mergeUsesDvs(DeltaRead.snapshot(spark, plain),
      customMergeFn = false, 0L), "the table must opt in")
  }
}

package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RESTORE (rollback-to-version as a zero-I/O commit): entry carry-over
  * by reference, history/audit semantics, the vacuumed-target refusal,
  * no-op behavior, and the rewrite classification for delta readers.
  */
class RestoreSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def ids(root: String): Seq[Long] =
    VersionedTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq

  test("restore republishes the target's snapshot: appends and deletes undone, zero data I/O") {
    val root = tmp("restore_basic")
    val v1 = VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((4L, "d")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelete(spark, root, "id = 2")
    assert(ids(root) == Seq(1L, 3L, 4L))

    val dirsBefore = VersionedTable.history(spark, root).map(_.dataDirs)
    val v4 = VersionedTable.restore(spark, root, v1)
    assert(v4 == 4L)
    assert(ids(root) == Seq(1L, 2L, 3L))
    // ZERO-COPY: the restored manifest references v1's EXACT entries —
    // no new data dir was written
    val h = VersionedTable.history(spark, root)
    assert(h.map(_.version) == Seq(1L, 2L, 3L, 4L), "rolled-over versions stay auditable")
    assert(h.last.dataDirs == dirsBefore.head, "restore must carry v1's entries by reference")
    // time travel into the rolled-over middle still answers
    assert(VersionedTable.readVersion(spark, root, 3L).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }

  test("restore is a rewrite for delta readers; restore-to-current is a no-op") {
    val root = tmp("restore_kind")
    val v1 = VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "b")).toDF("id", "v"), compactAfter = Int.MaxValue)
    val v3 = VersionedTable.restore(spark, root, v1)
    // the restore span is NOT streamable row-wise (it removed rows)
    assert(VersionedTable.appendedFilesBetween(spark, root, v1, v3).isEmpty)
    // restoring to the version we're already at mints nothing
    assert(VersionedTable.restore(spark, root, v1) == v3)
    assert(VersionedTable.currentSnapshot(spark, root).get.version == v3)
  }

  test("restore refuses a vacuumed target instead of publishing dangling references") {
    val root = tmp("restore_vac")
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "b")).toDF("id", "v"), compactAfter = Int.MaxValue)
    // compact then vacuum with keep=1, grace=0: v1/v2's delta dirs die
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(spark, root, keep = 1, graceMs = 0L)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, root, 1L)
    }
    assert(e1.getMessage.contains("vacuum"), s"unexpected: ${e1.getMessage}")
    // a never-committed version refuses too
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, root, 99L)
    }
    assert(e2.getMessage.contains("no committed version"), s"unexpected: ${e2.getMessage}")
  }

  test("restore racing a vacuum: swept target detected post-publish, table rolls forward, loud refusal") {
    val root = tmp("restore_race")
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "b")).toDF("id", "v"), compactAfter = Int.MaxValue)
    // compact so v1/v2's delta dirs become unreferenced by the head
    VersionedTable.compact(spark, root)
    val e = intercept[IllegalStateException] {
      VersionedTable.restoreHooked(spark, root, 1L,
        // the racing vacuum lands AFTER validation, BEFORE the CAS
        afterValidate = () => VersionedTable.vacuum(spark, root, keep = 1, graceMs = 0L))
    }
    assert(e.getMessage.contains("raced a vacuum"), s"unexpected: ${e.getMessage}")
    // the table healed forward: current head readable, pre-restore rows
    val ids = VersionedTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"healed head must be the pre-restore snapshot: $ids")
  }

  test("restore keeps the hive layout marker: partitioned reads survive the rollback") {
    val root = tmp("restore_hive")
    val v1 = VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, 1, "a"), (2L, 2, "b")).toDF("id", "p", "v"),
      partitionBy = Seq("p"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((3L, 3, "c")).toDF("id", "p", "v"),
      partitionBy = Seq("p"), compactAfter = Int.MaxValue)
    VersionedTable.restore(spark, root, v1)
    val got = VersionedTable.read(spark, root).select("id", "p", "v")
      .as[(Long, Int, String)].collect().toSet
    assert(got == Set((1L, 1, "a"), (2L, 2, "b")))
    // DSv2 face reads the restored snapshot with partition pruning
    val dsv2 = spark.read.format("graft").load(root).where(col("p") === 1)
    assert(dsv2.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("restoring a pre-marker manifest preserves layout ABSENCE (no coerced flat marker)") {
    val root = tmp("restore_premarker")
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "b")).toDF("id", "v"), compactAfter = Int.MaxValue)
    // simulate a legacy v1 pointer: strip its marker lines entirely
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1p = new org.apache.hadoop.fs.Path(root, "_manifest/v0000000001")
    val legacy = VersionedTable.readSmall(fs, v1p).get.split("\n")
      .filterNot(_.startsWith("#")).mkString("\n")
    val out = fs.create(v1p, true)
    try out.write((legacy + "\n").getBytes("UTF-8")) finally out.close()
    val v3 = VersionedTable.restore(spark, root, 1L)
    val restored = VersionedTable.readSmall(fs,
      new org.apache.hadoop.fs.Path(root, f"_manifest/v$v3%010d")).get
    assert(!restored.contains("#layout="),
      s"restore of a pre-marker manifest must not mint an explicit-flat marker:\n$restored")
    assert(ids(root) == Seq(1L))
  }

  test("GRAFT_RESTORE by TAG resolves the tagged commit; unknown tag refuses") {
    val root = tmp("restore_tag")
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a")).toDF("id", "v"), compactAfter = Int.MaxValue,
      tag = Some("pre-backfill"))
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "b")).toDF("id", "v"), compactAfter = Int.MaxValue)
    val row = spark.sql(s"GRAFT_RESTORE('$root', TAG 'pre-backfill')").collect().head
    assert(row.getLong(0) == 3L && row.getLong(1) == 1L)
    assert(ids(root) == Seq(1L))
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT_RESTORE('$root', TAG 'nope')").collect()
    }
    assert(e.getMessage.contains("no surviving version tagged"))
  }

  test("matview refresh across a restore span refuses with the rebuild instruction (delta maintenance unsound)") {
    val src = tmp("restore_mv_src"); val agg = tmp("restore_mv_agg")
    val v1 = VersionedTable.commitDelta(spark, src, "parquet",
      Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), compactAfter = Int.MaxValue)
    MaterializedAgg.refresh(spark, src, agg, Seq("k"),
      Seq(MaterializedAgg.MAgg("xs", "x", "sum")))
    VersionedTable.commitDelta(spark, src, "parquet",
      Seq((3L, 30L)).toDF("k", "x"), compactAfter = Int.MaxValue)
    VersionedTable.restore(spark, src, v1) // rollback = rewrite for delta readers
    val e = intercept[IllegalArgumentException] { MaterializedAgg.refresh(spark, agg) }
    assert(e.getMessage.contains("rebuild"), s"unexpected: ${e.getMessage}")
    // ...and the instructed rebuild answers against the restored source
    MaterializedAgg.rebuild(spark, agg)
    val got = VersionedTable.read(spark, agg).select("k", "xs")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 20L))
  }

  test("history LIMIT: the newest N versions only, ascending, bounded manifest reads") {
    val root = tmp("restore_histlim")
    (1 to 5).foreach { i =>
      VersionedTable.commitDelta(spark, root, "parquet",
        Seq((i.toLong, s"v$i")).toDF("id", "v"), compactAfter = Int.MaxValue)
    }
    assert(VersionedTable.history(spark, root, 2).map(_.version) == Seq(4L, 5L))
    assert(VersionedTable.history(spark, root).map(_.version) == (1L to 5L))
    val sql = spark.sql(s"GRAFT_VERSIONS('$root', LIMIT 3)")
      .select("version").collect().map(_.getLong(0)).toSeq
    assert(sql == Seq(3L, 4L, 5L))
    intercept[IllegalArgumentException] { VersionedTable.history(spark, root, 0) }
  }

  test("GRAFT_RESTORE SQL statement performs the rollback and reports the versions") {
    val root = tmp("restore_sql")
    val v1 = VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, "a")).toDF("id", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "b")).toDF("id", "v"), compactAfter = Int.MaxValue)
    val row = spark.sql(s"GRAFT_RESTORE('$root', $v1)").collect().head
    assert(row.getLong(0) == 3L && row.getLong(1) == v1)
    assert(ids(root) == Seq(1L))
  }
}

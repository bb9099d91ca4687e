package graft.streaming

import graft.SparkSpec
import graft.sources.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The graft-delta streaming SOURCE: version-gated micro-batches over
  * a native-protocol Delta table — append streaming, the full-snapshot
  * first batch, startingVersion pinning, the non-append refusal and
  * its ignoreDeletes/ignoreChanges escape hatches (delta-spark's
  * source contract), and dataChange=false invisibility.
  */
class DeltaStreamSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private var nextQ = 0
  private def sinkName(): String = { nextQ += 1; s"dstream_$nextQ" }

  test("appends stream micro-batch by version; first batch is the full snapshot") {
    val root = tmp("dstream_app")
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root)
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v").coalesce(1), root)
    val name = sinkName()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // both committed versions arrive as the bootstrap snapshot
      assert(spark.table(name).orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v").coalesce(1), root)
      q.processAllAvailable()
      assert(spark.table(name).count() == 4)
    } finally q.stop()
  }

  test("startingVersion streams only commits after N; a rewrite fails the stream") {
    val root = tmp("dstream_sv")
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root) // v0
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v").coalesce(1), root) // v1
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "0").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // v0's snapshot is history; only v1's append streams
      assert(spark.table(name).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
      // an overwrite is not streamable without an escape hatch
      DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "v").coalesce(1), root) // v2
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("ignoreChanges") ||
        Option(e.getCause).exists(_.getMessage.contains("ignoreChanges")))
    } finally q.stop()
    // ignoreChanges: the rewrite's adds stream (documented re-stream caveat)
    val name2 = sinkName()
    val q2 = spark.readStream.format("graft-delta")
      .option("startingVersion", "1").option("ignoreChanges", "true").load(root)
      .writeStream.format("memory").queryName(name2).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    } finally q2.stop()
  }

  test("startingVersion past the head streams only commits after it") {
    val root = tmp("dstream_pasthead")
    (0L to 2L).foreach { i => // v0..v2
      DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v").coalesce(1), root)
    }
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "5").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      (3L to 6L).foreach { i => // v3..v6
        DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v").coalesce(1), root)
        q.processAllAvailable()
      }
      assert(spark.table(name).as[(Long, String)].collect().toSeq == Seq((6L, "v6")))
    } finally q.stop()
  }

  test("maxFilesPerTrigger paces the tail commit-by-commit; nothing lost or duplicated") {
    val root = tmp("dstream_rate")
    DeltaWrite.append(spark, Seq((0L, "base")).toDF("id", "v").coalesce(1), root) // v0
    // four single-file commits AFTER the starting version
    (1L to 4L).foreach { i =>
      DeltaWrite.append(spark, Seq((i, s"v$i")).toDF("id", "v").coalesce(1), root)
    }
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "0")
      .option("maxFilesPerTrigger", "1").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // content complete and exactly-once despite the pacing
      assert(spark.table(name).orderBy("id").as[(Long, String)].collect().toSeq ==
        (1L to 4L).map(i => (i, s"v$i")))
      // the cap split the 4-commit backlog into one batch per commit
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 4,
        s"expected 4 paced batches, saw ${batches.length}: " +
          batches.map(_.numInputRows).mkString(","))
      assert(batches.forall(_.numInputRows == 1), "each batch carries ONE file's rows")
      // a late commit still streams (pacing never stalls the head)
      DeltaWrite.append(spark, Seq((5L, "v5")).toDF("id", "v").coalesce(1), root)
      q.processAllAvailable()
      assert(spark.table(name).count() == 5)
    } finally q.stop()
    // a positive-integer guard on the option
    val bad = intercept[Exception] {
      spark.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", "zero").load(root)
        .writeStream.format("memory").queryName(sinkName())
        .option("checkpointLocation", tmp("dstream_rate_ck")).start()
        .processAllAvailable()
    }
    assert(bad.getMessage != null)
  }

  test("delete-only commits skip under ignoreDeletes; dataChange=false never streams") {
    val root = tmp("dstream_del")
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root) // v0
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val removed = DeltaRead.snapshot(spark, root).files.keys.head
    // v1: a delete-only commit (hand-written, as a DELETE would leave)
    assert(graft.pipeline.VersionedTable.casPublish(fs,
      new org.apache.hadoop.fs.Path(logP, f"${1L}%020d.json"),
      s"""{"remove":{"path":"${DeltaWrite.encodePath(removed)}","deletionTimestamp":1,"dataChange":true}}""" + "\n"))
    // v2: an OPTIMIZE-shaped commit — add+remove with dataChange=false
    assert(graft.pipeline.VersionedTable.casPublish(fs,
      new org.apache.hadoop.fs.Path(logP, f"${2L}%020d.json"),
      s"""{"add":{"path":"opt.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":false}}
         |{"remove":{"path":"${DeltaWrite.encodePath(removed)}","deletionTimestamp":2,"dataChange":false}}"""
        .stripMargin + "\n"))
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "0").option("ignoreDeletes", "true").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // the delete-only commit skipped, the dataChange=false pair was
      // invisible (opt.parquet would fail the load if it streamed)
      assert(spark.table(name).count() == 0)
    } finally q.stop()
  }

  test("OPTIMIZE compaction is invisible to the stream (dataChange=false end-to-end)") {
    val root = tmp("dstream_opt")
    for (i <- 0 until 3) // v0..v2
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "2").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      DeltaWrite.compact(spark, root, targetFiles = 1) // v3, dataChange=false
      q.processAllAvailable()
      assert(spark.table(name).count() == 0, "a compaction must not re-stream rows")
      DeltaWrite.append(spark, Seq((9L, "z")).toDF("id", "v").coalesce(1), root) // v4
      q.processAllAvailable()
      assert(spark.table(name).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    } finally q.stop()
  }

  test("restart resumes from the checkpointed offset (no skip, no replay)") {
    val root = tmp("dstream_ck")
    val ckpt = java.nio.file.Files.createTempDirectory("dstream_ckpt").toString
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root)
    // foreachBatch sink: the memory sink refuses checkpoint recovery,
    // and recovery is exactly what this case pins
    def run(into: java.util.Queue[Long]): Unit = {
      val q = spark.readStream.format("graft-delta").load(root)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("id").as[Long].collect().foreach(into.add); ()
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    val first = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    run(first)
    assert(first.toArray(Array.empty[java.lang.Long]).toSeq == Seq(1L))
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v").coalesce(1), root)
    val second = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    run(second)
    // only the new commit: the first run's snapshot batch is not replayed
    assert(second.toArray(Array.empty[java.lang.Long]).toSeq == Seq(2L))
  }

  test("readChangeFeed streams typed changes: bootstrap inserts, then merge/delete rows") {
    val root = tmp("dstream_cdf")
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root) // v0
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))                            // v1
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // bootstrap: the snapshot as inserts at the head version
      assert(spark.table(name)
        .select($"id", $"_change_type", $"_commit_version")
        .as[(Long, String, Long)].collect().toSet ==
        Set((1L, "insert", 1L), (2L, "insert", 1L)))
      // a MERGE and a DELETE stream properly typed (no failure, no
      // ignoreChanges needed — the exact CDC contract)
      DeltaWrite.merge(spark, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
        root, Seq("id"))                                                      // v2
      DeltaWrite.delete(spark, root, "id = 1")                                // v3
      q.processAllAvailable()
      val tail = spark.table(name).where($"_commit_version" >= 2L)
        .select($"id", $"v", $"_change_type", $"_commit_version")
        .as[(Long, String, String, Long)].collect().toSet
      assert(tail == Set(
        (2L, "b", "update_preimage", 2L),
        (2L, "B", "update_postimage", 2L),
        (3L, "c", "insert", 2L),
        (1L, "a", "delete", 3L)), s"unexpected change tail: $tail")
    } finally q.stop()
    // option hygiene: ignoreChanges + CDF refuse; CDF-less tables
    // refuse (createSource runs on the stream thread — the refusal
    // surfaces as the query's failure, not at start())
    def refuses(build: => org.apache.spark.sql.streaming.StreamingQuery,
                needle: String): Unit = {
      val qe = build
      try {
        val e = intercept[StreamingQueryException] { qe.processAllAvailable() }
        assert(e.getMessage.contains(needle) ||
          Option(e.getCause).exists(_.getMessage.contains(needle)), e.getMessage)
      } finally qe.stop()
    }
    refuses(spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("ignoreChanges", "true")
      .load(root).writeStream.format("memory").queryName(sinkName()).start(),
      "no meaning")
    val plain = tmp("dstream_cdf_off")
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), plain)
    refuses(spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(plain)
      .writeStream.format("memory").queryName(sinkName()).start(),
      "enableChangeDataFeed")
  }

  test("withRowIds: batches carry stable _row_id matching the batch read") {
    val root = tmp("dstream_rid")
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).sortWithinPartitions("id"), root)                             // v0
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableRowTracking" -> "true"))                                      // v1
    val name = sinkName()
    val q = spark.readStream.format("graft-delta")
      .option("withRowIds", "true").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // bootstrap snapshot carries ids = the batch readWithRowIds view
      val boot = spark.table(name).select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      val batch0 = DeltaRead.readWithRowIds(spark, root).select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      assert(boot == batch0, s"bootstrap ids $boot != batch ids $batch0")
      // an append's micro-batch carries the SAME ids the batch read
      // assigns the new rows (q139's formula applied per span)
      DeltaWrite.append(spark, Seq((3L, "c"), (4L, "d")).toDF("id", "v")
        .coalesce(1).sortWithinPartitions("id"), root)                           // v2
      q.processAllAvailable()
      val streamed = spark.table(name).select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      val batch1 = DeltaRead.readWithRowIds(spark, root).select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch1, s"streamed ids $streamed != batch ids $batch1")
    } finally q.stop()
    // CDF mode: change rows stream WITH ids
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))            // v3
    val name2 = sinkName()
    val q2 = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("withRowIds", "true")
      .option("startingVersion", "3").load(root)
      .writeStream.format("memory").queryName(name2).start()
    try {
      val preIds = DeltaRead.readWithRowIds(spark, root).select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      DeltaWrite.delete(spark, root, "id = 2")                                   // v4
      q2.processAllAvailable()
      val rows = spark.table(name2)
        .select("id", "_change_type", "_row_id")
        .as[(Long, String, Long)].collect().toSeq
      assert(rows == Seq((2L, "delete", preIds(2L))),
        s"CDF stream rows: $rows, expected delete of id=2 with rid ${preIds(2L)}")
    } finally q2.stop()
    // a table without rowTracking refuses the option loudly
    val root2 = tmp("dstream_norid")
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root2)
    val e = intercept[Exception] {
      spark.readStream.format("graft-delta")
        .option("withRowIds", "true").load(root2)
        .writeStream.format("memory").queryName(sinkName()).start()
        .processAllAvailable()
    }
    assert(e.getMessage.contains("rowTracking") ||
      Option(e.getCause).exists(_.getMessage.contains("rowTracking")))
  }

  test("deletion vectors apply to the stream's bootstrap snapshot batch") {
    val root = tmp("dstream_dv")
    DeltaWrite.append(spark,
      (0L until 6L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), root) // v0
    // hand-append a DELETE: remove(F) + add(F, inline DV of row indexes 1,4)
    val dataFile = DeltaRead.snapshot(spark, root).files.keySet.head
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(root, dataFile))
    val logP = java.nio.file.Paths.get(root, "_delta_log",
      f"${1L}%020d.json")
    java.nio.file.Files.write(logP, (Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"remove":{"path":"$dataFile","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"$dataFile","partitionValues":{},"size":$size,""" +
        s""""modificationTime":1,"dataChange":true,${graft.sources.DvTestUtil.inlineDvJson(Seq(1L, 4L))}}}"""
    ).mkString("\n") + "\n").getBytes("UTF-8"))
    // a fresh stream bootstraps from the CURRENT snapshot — the DV'd
    // one — so ids 1 and 4 never enter the sink
    val name = sinkName()
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).orderBy("id").as[(Long, String)].collect().map(_._1).toSeq ==
        Seq(0L, 2L, 3L, 5L))
    } finally q.stop()
  }

  test("variant columns stream: bootstrap + tail appends deliver extractable variants") {
    val root = tmp("dstream_var")
    def vdf(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id",
      """parse_json(concat('{"p":"x', id % 3, '"}')) AS v""").coalesce(1)
    DeltaWrite.append(spark, vdf(0L, 3L), root)
    val name = sinkName()
    // extraction INSIDE the streaming query: the variant value crosses
    // the micro-batch boundary as a first-class column
    val q = spark.readStream.format("graft-delta").load(root)
      .selectExpr("id", "variant_get(v, '$.p', 'string') AS p")
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((0L, "x0"), (1L, "x1"), (2L, "x2")))
      DeltaWrite.append(spark, vdf(3L, 5L), root)
      q.processAllAvailable()
      assert(spark.table(name).orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((0L, "x0"), (1L, "x1"), (2L, "x2"), (3L, "x0"), (4L, "x1")))
    } finally q.stop()
  }
}

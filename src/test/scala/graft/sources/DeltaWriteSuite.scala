package graft.sources

import graft.SparkSpec
import graft.pipeline.{Append, MergeUpsert, Overwrite, OverwritePartition, OverwriteWhere, SinkSpec, Writer}
import org.apache.spark.sql.functions._

/** Native Delta writer: log-protocol commits round-tripped through
  * graft's own reader (the only Delta client in this container —
  * DeltaReadSuite pins that reader against hand-crafted
  * PROTOCOL.md-shaped logs, so agreement with it IS protocol
  * conformance here). Covers create/append/overwrite/dynamic
  * partition overwrite, time travel across writes, schema guards,
  * metaData id carry-through, hive-escaped partition values,
  * concurrent-writer serialization, and the Writer merge-mode
  * composition.
  */
class DeltaWriteSuite extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_deltaw").toString + "/t"

  test("create + append + overwrite round-trip with time travel") {
    val root = tmp()
    val v0 = DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    assert(v0 == 0L)
    val v1 = DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), root)
    assert(v1 == 1L)
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite drops the old files from the snapshot...
    val v2 = DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), root)
    assert(v2 == 2L)
    assert(DeltaRead.read(spark, root).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // ...but time travel still reads them (remove != delete)
    assert(DeltaRead.read(spark, root, Some(1L)).count() == 3)
    assert(DeltaRead.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("append realigns column order and refuses schema drift") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root)
    // reordered columns land correctly by name
    DeltaWrite.append(spark, Seq(("b", 2L)).toDF("v", "id"), root)
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val extra = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((3L, "c", true)).toDF("id", "v", "flag"), root)
    }
    assert(extra.getMessage.contains("extra: [flag]"))
    val typed = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq(("3", "c")).toDF("id", "v"), root)
    }
    assert(typed.getMessage.contains("type mismatch"))
  }

  test("schema-changing overwrite re-emits metaData carrying the table id") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root)
    val id0 = DeltaRead.snapshot(spark, root).metaId
    assert(id0 != null)
    DeltaWrite.overwrite(spark, Seq((1L, "a", 0.5)).toDF("id", "v", "score"), root)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.metaId == id0)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(DeltaRead.read(spark, root).columns.toSeq == Seq("id", "v", "score"))
  }

  test("partitioned writes: values from the log, hive escapes, pruning-capable plan") {
    val root = tmp()
    // ':' and ' ' force hive escaping in the dir name; the log must
    // carry the RAW value and the encoded path must decode to disk
    val df = Seq((1L, "a:x", 10.0), (2L, "b y", 20.0), (3L, "a:x", 30.0))
      .toDF("id", "grp", "x")
    DeltaWrite.append(spark, df, root, partitionBy = Seq("grp"))
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.partitionColumns == Seq("grp"))
    assert(snap.files.values.map(_("grp")).toSet == Set("a:x", "b y"))
    val back = DeltaRead.read(spark, root)
    assert(back.orderBy("id").select("id", "grp", "x").as[(Long, String, Double)]
      .collect().toSeq == Seq((1L, "a:x", 10.0), (2L, "b y", 20.0), (3L, "a:x", 30.0)))
    // every add carried a size -> the log-planned ManifestFileIndex
    // scan (one native scan, partition pruning) must be in play
    assert(snap.sizes.values.forall(_ > 0))
    val plan = back.where($"grp" === "a:x").queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"expected one log-planned scan, got:\n$plan")
    // appends inherit the table's layout; a conflicting request refuses
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, df, root, partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partitioned by"))
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val root = tmp()
    DeltaWrite.append(spark,
      Seq((1L, "p1", "base"), (2L, "p2", "base"), (3L, "p3", "base"))
        .toDF("id", "grp", "src"),
      root, partitionBy = Seq("grp"))
    val before = DeltaRead.snapshot(spark, root)
    DeltaWrite.overwritePartitions(spark,
      Seq((20L, "p2", "new")).toDF("id", "grp", "src"), root, Seq("grp"))
    val after = DeltaRead.snapshot(spark, root)
    // p1/p3 files carried over untouched (same physical files)
    val keep = before.files.collect { case (p, pv) if pv("grp") != "p2" => p }.toSet
    assert(keep.subsetOf(after.files.keySet))
    assert(DeltaRead.read(spark, root).orderBy("id")
      .select("id", "grp", "src").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "p1", "base"), (3L, "p3", "base"), (20L, "p2", "new")))
  }

  test("concurrent appenders serialize through the log CAS — both commits land") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((0L, "seed")).toDF("id", "v"), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            DeltaWrite.append(spark, Seq((i.toLong, s"w$i")).toDF("id", "v"), root)
        })
      }
      val versions = futures.map(_.get()).sorted
      assert(versions == Seq(1L, 2L, 3L, 4L), s"got $versions")
    } finally pool.shutdown()
    assert(DeltaRead.read(spark, root).count() == 5)
    assert(DeltaRead.read(spark, root).agg(sum("id")).as[Long].head() == 10L)
  }

  test("Writer sink composition: upsert and replaceWhere on a delta path") {
    val root = tmp()
    val base = Seq(("k1", 1L, "old"), ("k2", 2L, "old")).toDF("hash_key", "n", "src")
    Writer.write(spark, base, SinkSpec(root, format = "delta", mode = Append))
    val up = Seq(("k2", 20L, "new"), ("k3", 30L, "new")).toDF("hash_key", "n", "src")
    Writer.write(spark, up, SinkSpec(root, format = "delta", mode = MergeUpsert))
    assert(DeltaRead.read(spark, root).orderBy("hash_key")
      .select("hash_key", "n", "src").as[(String, Long, String)].collect().toSeq ==
      Seq(("k1", 1L, "old"), ("k2", 20L, "new"), ("k3", 30L, "new")))
    Writer.write(spark, Seq(("k1", 100L, "rw")).toDF("hash_key", "n", "src"),
      SinkSpec(root, format = "delta", mode = OverwriteWhere("hash_key = 'k1'")))
    assert(DeltaRead.read(spark, root).orderBy("hash_key")
      .select("hash_key", "n").as[(String, Long)].collect().toSeq ==
      Seq(("k1", 100L), ("k2", 20L), ("k3", 30L)))
    // guards: delta+versioned and delta catalog tables refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      Writer.write(spark, base, SinkSpec(root, format = "delta", versioned = true))
    }
    assert(e1.getMessage.contains("already versioned by its transaction log"))
    val e2 = intercept[IllegalArgumentException] {
      Writer.write(spark, base, SinkSpec(root, format = "delta", table = Some("t")))
    }
    assert(e2.getMessage.contains("delta-spark"))
  }

  test("adds carry footer-derived stats: numRecords, min/max, nullCount") {
    val root = tmp()
    DeltaWrite.append(spark,
      Seq((1L, Some("a"), 1.5), (2L, None, -3.25), (3L, Some("c"), 0.0))
        .toDF("id", "v", "x").coalesce(1), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.pipeline.VersionedTable.readSmall(fs,
      new org.apache.hadoop.fs.Path(root, "_delta_log/00000000000000000000.json")).get
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val adds = log.split("\n").map(mapper.readTree).filter(_.has("add"))
    assert(adds.length == 1)
    val stats = mapper.readTree(adds.head.get("add").get("stats").asText())
    assert(stats.get("numRecords").asLong() == 3L)
    assert(stats.get("minValues").get("id").asLong() == 1L)
    assert(stats.get("maxValues").get("id").asLong() == 3L)
    assert(stats.get("minValues").get("v").asText() == "a")
    assert(stats.get("minValues").get("x").asDouble() == -3.25)
    assert(stats.get("nullCount").get("v").asLong() == 1L)
    assert(stats.get("nullCount").get("id").asLong() == 0L)
  }

  test("auto-checkpoint: DELETE and UPDATE landing on the interval fold the log") {
    val root = tmp()
    DeltaWrite.append(spark, (1L to 5L).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1), root)                                                          // v0
    DeltaWrite.setProperties(spark, root, Map("delta.checkpointInterval" -> "3"))  // v1
    DeltaWrite.append(spark, Seq((6L, "r6")).toDF("id", "v"), root)                // v2
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def assertCheckpointAt(v: Long): Unit = {
      assert(fs.exists(new org.apache.hadoop.fs.Path(logP, f"$v%020d.checkpoint.parquet")),
        s"no checkpoint at v$v")
      val ptr = graft.pipeline.VersionedTable.readSmall(fs,
        new org.apache.hadoop.fs.Path(logP, "_last_checkpoint")).get
      assert(mapper.readTree(ptr).get("version").asLong() == v)
    }
    assert(DeltaWrite.delete(spark, root, "id = 1") == 3L)
    assertCheckpointAt(3L)
    DeltaWrite.append(spark, Seq((7L, "r7")).toDF("id", "v"), root)                // v4
    DeltaWrite.append(spark, Seq((8L, "r8")).toDF("id", "v"), root)                // v5
    assert(DeltaWrite.update(spark, root, "id = 2", Map("v" -> "'B'")) == 6L)
    assertCheckpointAt(6L)
    assert(DeltaRead.read(spark, root).orderBy("id").select("v").as[String].collect()
      .toSeq == Seq("B", "r3", "r4", "r5", "r6", "r7", "r8"))
  }

  test("auto-checkpoint folds the log at the interval; pointer fast path serves reads") {
    val root = tmp()
    for (i <- 0 to 11) // v0..v11: auto-checkpoint fires at v10
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    assert(fs.exists(new org.apache.hadoop.fs.Path(logP,
      "00000000000000000010.checkpoint.parquet")))
    val ptr = graft.pipeline.VersionedTable.readSmall(fs,
      new org.apache.hadoop.fs.Path(logP, "_last_checkpoint")).get
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(ptr).get("version").asLong() == 10L)
    // checkpoint + 1-commit tail reconstructs the same table
    assert(DeltaRead.read(spark, root).agg(sum("id")).as[Long].head() == (0 to 11).sum)
    // time travel BELOW the checkpoint still replays the JSON log
    assert(DeltaRead.read(spark, root, Some(5L)).count() == 6)
  }

  test("checkpoint-only log (cleaned JSON) still reads: metaData/schema live in the checkpoint") {
    val root = tmp()
    for (i <- 0 until 3)
      DeltaWrite.append(spark, Seq((i.toLong, s"g$i", i * 1.0)).toDF("id", "grp", "x")
        .coalesce(1), root, partitionBy = Seq("grp"))
    assert(DeltaWrite.checkpoint(spark, root) == 2L)
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate delta log cleanup: drop every NNN.json <= checkpoint
    for (v <- 0 to 2)
      assert(fs.delete(new org.apache.hadoop.fs.Path(logP, f"$v%020d.json"), false))
    val back = DeltaRead.read(spark, root)
    assert(back.columns.toSeq == Seq("id", "grp", "x"))
    assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((0L, "g0", 0.0), (1L, "g1", 1.0), (2L, "g2", 2.0)))
  }

  test("second checkpoint increments the first: carried adds survive, removes reconcile") {
    val root = tmp()
    for (i <- 0 until 4)
      DeltaWrite.append(spark, Seq((i.toLong, s"p$i", "base")).toDF("id", "grp", "src")
        .coalesce(1), root, partitionBy = Seq("grp"))
    assert(DeltaWrite.checkpoint(spark, root) == 3L)
    // post-checkpoint: replace p1, append p9 — then checkpoint again
    DeltaWrite.overwritePartitions(spark,
      Seq((10L, "p1", "new")).toDF("id", "grp", "src").coalesce(1), root, Seq("grp"))
    DeltaWrite.append(spark, Seq((9L, "p9", "base")).toDF("id", "grp", "src")
      .coalesce(1), root)
    assert(DeltaWrite.checkpoint(spark, root) == 5L)
    // the new checkpoint alone must hold the reconciled state
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- 0 to 5)
      fs.delete(new org.apache.hadoop.fs.Path(logP, f"$v%020d.json"), false)
    fs.delete(new org.apache.hadoop.fs.Path(logP,
      "00000000000000000003.checkpoint.parquet"), false)
    assert(DeltaRead.read(spark, root).orderBy("id")
      .select("id", "grp", "src").as[(Long, String, String)].collect().toSeq ==
      Seq((0L, "p0", "base"), (2L, "p2", "base"), (3L, "p3", "base"),
        (9L, "p9", "base"), (10L, "p1", "new")))
  }

  test("appendStream txn marks: replayed batches drop, marks survive checkpointing") {
    val root = tmp()
    val app = "suite-app"
    assert(DeltaWrite.appendStream(spark,
      Seq((1L, "b0")).toDF("id", "v"), root, app, 0L) == 0L)
    assert(DeltaWrite.appendStream(spark,
      Seq((2L, "b1")).toDF("id", "v"), root, app, 1L) == 1L)
    // replay of batch 1 (crash-restart shape): recognized, dropped
    assert(DeltaWrite.appendStream(spark,
      Seq((2L, "b1")).toDF("id", "v"), root, app, 1L) == 1L)
    assert(DeltaRead.read(spark, root).count() == 2)
    assert(DeltaRead.snapshot(spark, root).txns == Map(app -> 1L))
    // the mark survives a checkpoint + cleaned log
    assert(DeltaWrite.checkpoint(spark, root) == 1L)
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- 0 to 1)
      fs.delete(new org.apache.hadoop.fs.Path(logP, f"$v%020d.json"), false)
    assert(DeltaRead.snapshot(spark, root).txns == Map(app -> 1L))
    assert(DeltaWrite.appendStream(spark,
      Seq((2L, "b1")).toDF("id", "v"), root, app, 1L) == 1L)
    assert(DeltaRead.read(spark, root).count() == 2)
    // a NEW batch still lands
    assert(DeltaWrite.appendStream(spark,
      Seq((3L, "b2")).toDF("id", "v"), root, app, 2L) == 2L)
    assert(DeltaRead.read(spark, root).count() == 3)
  }

  test("streaming deltaAppendSink: micro-batches commit exactly-once end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = tmp()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_deltas_ck").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.deltaAppendSink(
      mem.toDF().toDF("id", "v"), root, ckpt)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)]
        .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
      val txns = DeltaRead.snapshot(spark, root).txns
      assert(txns.size == 1 && txns.head._2 == 1L, s"got $txns")
    } finally q.stop()
  }

  test("deltaAppendSink kill-and-restart: the re-executed batch dedupes via txn") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = tmp()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_deltas_kr").toString
    val mem = MemoryStream[(Long, String)]
    val q1 = graft.streaming.EventStreams.deltaAppendSink(
      mem.toDF().toDF("id", "v"), root, ckpt)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
      mem.addData((3L, "c"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(DeltaRead.read(spark, root).count() == 3L)
    assert(DeltaRead.snapshot(spark, root).txns.values.toSeq == Seq(1L))
    // CRASH WINDOW: the Delta commit for batch 1 landed, but the
    // streaming checkpoint's commit marker never did (process killed
    // between the two) — on restart Spark RE-EXECUTES batch 1 with the
    // same offsets. Drop the marker to force exactly that window.
    assert(new java.io.File(s"$ckpt/commits/1").delete(),
      "fixture: the batch-1 streaming commit marker must exist")
    new java.io.File(s"$ckpt/commits/.1.crc").delete() // local-FS checksum sibling
    val q2 = graft.streaming.EventStreams.deltaAppendSink(
      mem.toDF().toDF("id", "v"), root, ckpt)
    try {
      q2.processAllAvailable() // replays batch 1: txn mark drops it
      assert(DeltaRead.read(spark, root).count() == 3L,
        "the replayed batch must not duplicate rows")
      assert(DeltaRead.snapshot(spark, root).txns.values.toSeq == Seq(1L))
      mem.addData((4L, "d")) // and NEW batches still land after recovery
      q2.processAllAvailable()
    } finally q2.stop()
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(DeltaRead.snapshot(spark, root).txns.values.toSeq == Seq(2L))
  }

  test("checkpoints carry unexpired remove tombstones; expired ones drop") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root)    // v0
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v").coalesce(1), root)    // v1
    DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "v").coalesce(1), root) // v2: 2 removes
    assert(DeltaWrite.checkpoint(spark, root) == 2L)
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    def tombsOf(v: Long): Seq[String] =
      spark.read.parquet(new org.apache.hadoop.fs.Path(logP,
          f"$v%020d.checkpoint.parquet").toString)
        .where(col("remove.path").isNotNull)
        .select("remove.path").as[String].collect().toSeq.sorted
    assert(tombsOf(2L).length == 2, "both overwritten files must be tombstoned")
    // second fold: tombstones CARRY from the previous checkpoint and the
    // new overwrite's remove joins them
    DeltaWrite.overwrite(spark, Seq((10L, "y")).toDF("id", "v").coalesce(1), root) // v3
    assert(DeltaWrite.checkpoint(spark, root) == 3L)
    assert(tombsOf(3L).length == 3, s"2 carried + 1 new, got ${tombsOf(3L)}")
    // an EXPIRED tombstone (ancient deletionTimestamp, here hand-written
    // as a foreign log-cleaner would leave it) drops at the next fold
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.pipeline.VersionedTable.casPublish(fs,
      new org.apache.hadoop.fs.Path(logP, f"${4L}%020d.json"),
      """{"remove":{"path":"ghost.parquet","deletionTimestamp":1000,"dataChange":true}}""" + "\n"))
    assert(DeltaWrite.checkpoint(spark, root) == 4L)
    val t4 = tombsOf(4L)
    assert(!t4.contains("ghost.parquet") && t4.length == 3, s"got $t4")
    // state reconstruction is tombstone-agnostic throughout
    assert(DeltaRead.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((10L, "y")))
  }

  test("log-resident data skipping: a selective filter opens only intersecting files") {
    val root = tmp()
    // two files with disjoint id ranges (stats from the write's footers)
    DeltaWrite.append(spark, (1L to 100L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(1), root)
    DeltaWrite.append(spark, (1000L to 1100L).map(i => (i, s"b$i")).toDF("id", "v")
      .coalesce(1), root)
    val filtered = DeltaRead.read(spark, root).where($"id" < 50)
    assert(filtered.count() == 49)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    val scanned = scannedFiles(filtered)
    assert(scanned == 1, s"expected 1 file after stats skipping, scanned $scanned")
    // an unfiltered read still opens both
    val all = DeltaRead.read(spark, root)
    assert(all.count() == 201)
    val scannedAll = scannedFiles(all)
    assert(scannedAll == 2)
    // skipping survives a checkpoint (stats carried through the fold)
    assert(DeltaWrite.checkpoint(spark, root) == 1L)
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- 0 to 1)
      fs.delete(new org.apache.hadoop.fs.Path(logP, f"$v%020d.json"), false)
    val afterCk = DeltaRead.read(spark, root).where($"id" >= 1000)
    assert(afterCk.count() == 101)
    val scannedCk = scannedFiles(afterCk)
    assert(scannedCk == 1, s"expected 1 file post-checkpoint, scanned $scannedCk")
  }

  test("compact + vacuum lifecycle: fold files, keep time travel until vacuum reclaims") {
    val root = tmp()
    for (i <- 0 until 5) // v0..v4: five 1-file commits
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    assert(DeltaRead.snapshot(spark, root).files.size == 5)
    val v = DeltaWrite.compact(spark, root, targetFiles = 1)
    assert(v == 5L)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.files.size == 1, s"expected one folded file: ${snap.files.keys}")
    assert(DeltaRead.read(spark, root).select(sum("id")).as[Long].head() == 10L)
    // old files stay on disk: pre-compact time travel still works
    assert(DeltaRead.read(spark, root, Some(4L)).count() == 5)
    // a second compact is a no-op
    assert(DeltaWrite.compact(spark, root, targetFiles = 1) == 5L)
    // vacuum with a zero window reclaims exactly the five folded files
    val deleted = DeltaWrite.vacuum(spark, root, retentionMs = 0L)
    assert(deleted.length == 5, s"deleted: $deleted")
    assert(DeltaRead.read(spark, root).select(sum("id")).as[Long].head() == 10L)
    // time travel below the compaction now fails (files physically gone)
    intercept[Exception] { DeltaRead.read(spark, root, Some(3L)).count() }
    // idempotent: nothing left to reclaim
    assert(DeltaWrite.vacuum(spark, root, retentionMs = 0L).isEmpty)
  }

  test("racing checkpointers at one version: one rename wins, content stays sound") {
    val root = tmp()
    for (i <- 0 until 4)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futures = (1 to 3).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = DeltaWrite.checkpoint(spark, root)
        })
      }
      // all racers report the same folded version (losers yield quietly)
      assert(futures.map(_.get()).toSet == Set(3L))
    } finally pool.shutdown()
    val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exactly one checkpoint file, no stray tmp dirs
    val names = fs.listStatus(logP).map(_.getPath.getName).toSeq
    assert(names.count(_.contains(".checkpoint")) == 1, s"log dir: $names")
    assert(!names.exists(_.startsWith(".ckpt-tmp-")), s"tmp leak: $names")
    // and the checkpointed state reads exactly
    for (v <- 0 to 3)
      fs.delete(new org.apache.hadoop.fs.Path(logP, f"$v%020d.json"), false)
    assert(DeltaRead.read(spark, root).select(sum("id")).as[Long].head() == 6L)
  }

  test("CLI delta-checkpoint folds the log; a second run is a no-op") {
    val root = tmp()
    for (i <- 0 until 3)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    graft.Cli.executeTable(spark, "delta-checkpoint", root, Nil)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      "_delta_log/00000000000000000002.checkpoint.parquet")))
    graft.Cli.executeTable(spark, "delta-checkpoint", root, Nil) // idempotent
    assert(DeltaRead.read(spark, root).count() == 3)
  }

  test("CLI delta-compact and delta-vacuum drive the maintenance pair") {
    val root = tmp()
    for (i <- 0 until 4)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    assert(DeltaRead.snapshot(spark, root).files.size == 4)
    graft.Cli.executeTable(spark, "delta-compact", root, List("--target-files", "1"))
    assert(DeltaRead.snapshot(spark, root).files.size == 1)
    assert(DeltaRead.read(spark, root).count() == 4)
    // retention 0 sweeps the four folded originals immediately
    graft.Cli.executeTable(spark, "delta-vacuum", root, List("--retention-hours", "0"))
    assert(DeltaRead.read(spark, root).count() == 4, "table still reads after vacuum")
    val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).count(p => p.endsWith(".parquet") && !p.contains("_delta_log"))
    assert(dataFiles == 1, s"expected only the compacted file, found $dataFiles")
  }

  test("legacy column invariants (delta.invariants) enforce on incoming batches") {
    import org.apache.spark.sql.types._
    val root = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    val sch = StructType(Seq(
      StructField("x", LongType, nullable = true, new MetadataBuilder()
        .putString("delta.invariants",
          """{"expression":{"expression":"x > 0"}}""").build())))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
        s"""{"metaData":{"id":"inv-table","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(sch.json)},"partitionColumns":[],""" +
        s""""configuration":{}}}""" + "\n").getBytes("UTF-8"))
    DeltaWrite.append(spark, Seq(1L, 2L).toDF("x"), root)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq(3L, -1L).toDF("x"), root)
    }
    assert(e.getMessage.contains("invariant(x)"))
    assert(DeltaRead.read(spark, root).count() == 2, "violating batch must not land")
  }

  test("identity columns: omitted values allocate from the high-water mark; explicit inserts gate") {
    import org.apache.spark.sql.types._
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    def mkTable(allowExplicit: Boolean): String = {
      val root = tmp()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
      val mb = new MetadataBuilder()
        .putLong("delta.identity.start", 10L)
        .putLong("delta.identity.step", 5L)
      if (allowExplicit) mb.putBoolean("delta.identity.allowExplicitInsert", true)
      val sch = StructType(Seq(
        StructField("v", StringType),
        StructField("id", LongType, nullable = true, mb.build())))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
        (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""" + "\n" +
          s"""{"metaData":{"id":"id-table","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(sch.json)},"partitionColumns":[],""" +
          s""""configuration":{}}}""" + "\n").getBytes("UTF-8"))
      root
    }
    val root = mkTable(allowExplicit = false)
    // first allocation starts AT start; high-water lands in the commit
    DeltaWrite.append(spark, Seq("a", "b").toDF("v"), root)
    assert(DeltaRead.read(spark, root).orderBy("id").as[(String, Long)]
      .collect().toSeq == Seq("a" -> 10L, "b" -> 15L))
    val snap1 = DeltaRead.snapshot(spark, root)
    assert(snap1.schema("id").metadata.getLong("delta.identity.highWaterMark") == 15L)
    // the next batch continues past the mark
    DeltaWrite.append(spark, Seq("c").toDF("v"), root)
    assert(DeltaRead.read(spark, root).where("v = 'c'").select("id")
      .as[Long].head() == 20L)
    // GENERATED ALWAYS: supplying the column refuses
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq(("d", 99L)).toDF("v", "id"), root)
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))

    // allowExplicitInsert = true: supplied values land, mark moves past
    val root2 = mkTable(allowExplicit = true)
    DeltaWrite.append(spark, Seq(("x", 42L)).toDF("v", "id"), root2)
    assert(DeltaRead.snapshot(spark, root2)
      .schema("id").metadata.getLong("delta.identity.highWaterMark") == 42L)
    DeltaWrite.append(spark, Seq("y").toDF("v"), root2) // allocated PAST 42
    assert(DeltaRead.read(spark, root2).where("v = 'y'").select("id")
      .as[Long].head() == 47L)
  }

  test("identity columns: MERGE gates on allowExplicitInsert and bumps the mark; UPDATE refuses SET") {
    import org.apache.spark.sql.types._
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    def mkTable(allowExplicit: Boolean): String = {
      val root = tmp()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
      val mb = new MetadataBuilder()
        .putLong("delta.identity.start", 10L)
        .putLong("delta.identity.step", 5L)
      if (allowExplicit) mb.putBoolean("delta.identity.allowExplicitInsert", true)
      val sch = StructType(Seq(
        StructField("v", StringType),
        StructField("id", LongType, nullable = true, mb.build())))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
        (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""" + "\n" +
          s"""{"metaData":{"id":"id-dml","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(sch.json)},"partitionColumns":[],""" +
          s""""configuration":{}}}""" + "\n").getBytes("UTF-8"))
      root
    }
    // GENERATED ALWAYS: MERGE realigns to the table schema, so the
    // source would insert explicit identity values — refuse up front
    val root = mkTable(allowExplicit = false)
    DeltaWrite.append(spark, Seq("a", "b").toDF("v"), root) // ids 10, 15
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, Seq(("a", 10L)).toDF("v", "id"), root, Seq("v"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // UPDATE refuses SET on an identity column on ANY identity table
    val eu = intercept[IllegalArgumentException] {
      DeltaWrite.update(spark, root, "v = 'a'", Map("id" -> "99"))
    }
    assert(eu.getMessage.contains("identity column"), eu.getMessage)
    // non-identity SET still works and leaves the mark untouched
    DeltaWrite.update(spark, root, "v = 'a'", Map("v" -> "'A'"))
    assert(DeltaRead.read(spark, root).where("v = 'A'").count() == 1L)
    assert(DeltaRead.snapshot(spark, root)
      .schema("id").metadata.getLong("delta.identity.highWaterMark") == 15L)

    // GENERATED BY DEFAULT: merge's explicit values land and the mark
    // bumps PAST the merged extreme in the SAME commit, so a later
    // allocating append cannot collide
    val root2 = mkTable(allowExplicit = true)
    DeltaWrite.append(spark, Seq("x").toDF("v"), root2) // id 10, hw 10
    DeltaWrite.merge(spark, Seq(("y", 100L)).toDF("v", "id"), root2, Seq("v"))
    assert(DeltaRead.snapshot(spark, root2)
      .schema("id").metadata.getLong("delta.identity.highWaterMark") == 100L)
    DeltaWrite.append(spark, Seq("z").toDF("v"), root2)
    assert(DeltaRead.read(spark, root2).where("v = 'z'").select("id")
      .as[Long].head() == 105L)
    assert(DeltaRead.read(spark, root2).select("id").as[Long].collect().toSet
      == Set(10L, 100L, 105L), "identity values must stay collision-free")

    // a source that OMITS the identity column null-fills it under the
    // default mergeFn's unionByName — committing NULL identity values
    // would break the contract silently, so the merge must refuse
    val en = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, Seq(("y", 100L)).toDF("v", "id")
        .withColumn("id", lit(null).cast("long")), root2, Seq("v"))
    }
    assert(en.getMessage.contains("NULL"), en.getMessage)
    assert(DeltaRead.read(spark, root2).select("id").as[Long].collect().toSet
      == Set(10L, 100L, 105L), "the refused merge must not have committed")
  }

  test("full overwrite on a mapped table: survivors keep ids, new columns mint, maxColumnId monotone") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)  // v0
    DeltaWrite.enableColumnMapping(spark, root)                               // v1
    val s1 = DeltaRead.snapshot(spark, root)
    val kId = s1.schema("k").metadata.getLong("delta.columnMapping.id")
    val kPhys = s1.colMap("k")
    // overwrite with an EVOLVED schema: v dropped, extra added, k kept
    DeltaWrite.overwrite(spark, Seq((10L, 1.5), (20L, 2.5)).toDF("k", "extra"), root) // v2
    val s2 = DeltaRead.snapshot(spark, root)
    assert(s2.schema.fieldNames.toSeq == Seq("k", "extra"))
    assert(s2.schema("k").metadata.getLong("delta.columnMapping.id") == kId,
      "surviving column must carry its column-mapping id")
    assert(s2.colMap("k") == kPhys, "surviving column must keep its physical binding")
    val extraId = s2.schema("extra").metadata.getLong("delta.columnMapping.id")
    assert(extraId > 2L, s"new column must mint PAST the existing ids, got $extraId")
    assert(s2.colMap("extra").startsWith("col-"),
      "new column's physical name must be a fresh token, never its logical name")
    assert(s2.configuration("delta.columnMapping.maxColumnId").toLong == extraId,
      "maxColumnId must bump to the newest minted id in the same commit")
    assert(DeltaRead.read(spark, root).orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq(10L -> 1.5, 20L -> 2.5))
    // the parquet on disk carries PHYSICAL column names
    val dataCols = spark.read.parquet(
      s2.files.keys.map(rel => root + "/" + rel).toSeq: _*).columns.toSet
    assert(dataCols == Set(kPhys, s2.colMap("extra")), s"physical names expected: $dataCols")
    // post-overwrite DML stays green on the evolved mapping
    DeltaWrite.append(spark, Seq((30L, 3.5)).toDF("k", "extra"), root)
    DeltaWrite.delete(spark, root, "k = 10")
    assert(DeltaRead.read(spark, root).orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq(20L -> 2.5, 30L -> 3.5))
    // a RE-PARTITIONING overwrite: the new partition column mints too,
    // dirs land physical, and the logical read round-trips
    DeltaWrite.overwrite(spark, Seq((1L, "x", 9.0), (2L, "y", 8.0)).toDF("k", "grp", "extra"),
      root, partitionBy = Seq("grp"))
    val s3 = DeltaRead.snapshot(spark, root)
    assert(s3.partitionColumns == Seq("grp"))
    val grpPhys = s3.colMap("grp")
    assert(grpPhys.startsWith("col-"))
    assert(s3.files.keys.forall(_.startsWith(grpPhys + "=")),
      s"partition dirs must use the physical name: ${s3.files.keys}")
    assert(s3.configuration("delta.columnMapping.maxColumnId").toLong > extraId)
    assert(DeltaRead.read(spark, root).where("grp = 'x'").select("k")
      .as[Long].head() == 1L)
  }

  test("readChanges refuses a cdc-less DV commit inside the span (delta-spark's posture)") {
    val root = tmp()
    DeltaWrite.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), root) // v0
    DeltaWrite.delete(spark, root, "id = 1")                          // v1: DV, no CDF yet
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))                    // v2
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), root)    // v3
    // a span starting after the cdc-less DV commit reads fine
    assert(DeltaRead.readChanges(spark, root, 3L)
      .where($"_change_type" === "insert").count() == 1L)
    // a span covering it refuses: whole-file derivation would report
    // the file's SURVIVING row (id=2) as delete+insert churn
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readChanges(spark, root, 0L)
    }
    assert(e.getMessage.contains("deletion-vector"), e.getMessage)
  }

  test("generated columns: computed when omitted, validated when supplied, recomputed by UPDATE") {
    import org.apache.spark.sql.types._
    // delta-spark-shaped fixture: y is GENERATED ALWAYS AS (x * 2)
    val root = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    val gschema = StructType(Seq(
      StructField("x", LongType),
      StructField("y", LongType, nullable = true, new MetadataBuilder()
        .putString("delta.generationExpression", "x * 2").build())))
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""" + "\n" +
        s"""{"metaData":{"id":"gen-table","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(gschema.json)},"partitionColumns":[],""" +
        s""""configuration":{}}}""" + "\n").getBytes("UTF-8"))
    // omitted -> computed
    DeltaWrite.append(spark, Seq(1L, 2L).toDF("x"), root)
    assert(DeltaRead.read(spark, root).orderBy("x").as[(Long, Long)].collect().toSeq ==
      Seq(1L -> 2L, 2L -> 4L))
    // supplied and matching -> accepted; diverging -> the statement fails
    DeltaWrite.append(spark, Seq((3L, 6L)).toDF("x", "y"), root)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((4L, 9L)).toDF("x", "y"), root)
    }
    assert(e.getMessage.contains("generated column 'y'"))
    // UPDATE of a source column recomputes the generated one
    DeltaWrite.update(spark, root, "x = 1", Map("x" -> "10"))
    assert(DeltaRead.read(spark, root).where("x = 10").as[(Long, Long)]
      .collect().toSeq == Seq(10L -> 20L))
    // explicitly assigning a diverging value refuses (UPDATE and MERGE)
    intercept[IllegalArgumentException] {
      DeltaWrite.update(spark, root, "x = 2", Map("y" -> "5"))
    }
    intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, Seq((2L, 5L)).toDF("x", "y"), root, Seq("x"))
    }
    assert(DeltaRead.read(spark, root).where("y <> x * 2").count() == 0)
    // full OVERWRITE with a supplied diverging value refuses too (the
    // same-schema overwrite keeps the generation contract alive)
    intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(spark, Seq((7L, 9L)).toDF("x", "y"), root)
    }
    // altering a generation SOURCE column refuses; dropping the
    // generated column itself removes the contract with it
    DeltaWrite.enableColumnMapping(spark, root)
    intercept[IllegalArgumentException] { DeltaWrite.renameColumn(spark, root, "x", "z") }
    intercept[IllegalArgumentException] { DeltaWrite.dropColumn(spark, root, "x") }
    DeltaWrite.dropColumn(spark, root, "y")
    assert(DeltaRead.snapshot(spark, root).schema.fieldNames.toSeq == Seq("x"))
  }

  test("RESTORE on a column-mapped table: physical binding survives, maxColumnId stays monotone") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root) // v0
    DeltaWrite.enableColumnMapping(spark, root)                               // v1
    DeltaWrite.append(spark, Seq((2L, "b", 9L)).toDF("id", "v", "extra"), root,
      mergeSchema = true)                                                     // v2 mints id 3
    assert(DeltaRead.snapshot(spark, root)
      .configuration("delta.columnMapping.maxColumnId") == "3")
    DeltaWrite.restore(spark, root, 1L)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq(1L -> "a"))
    // the rewind must NOT rewind the id high-water mark
    assert(snap.configuration("delta.columnMapping.maxColumnId") == "3",
      "maxColumnId rewound — a later evolution would re-mint a used id")
    // the next evolution mints a FRESH id past the high-water mark
    DeltaWrite.append(spark, Seq((3L, "c", 1.5)).toDF("id", "v", "later"), root,
      mergeSchema = true)
    val laterId = DeltaRead.snapshot(spark, root)
      .schema("later").metadata.getLong("delta.columnMapping.id")
    assert(laterId == 4L, s"minted id $laterId reused the restored-away id")
    // idempotence under the monotone override: a repeat restore no-ops
    val r1 = DeltaWrite.restore(spark, root, 1L)
    assert(DeltaWrite.restore(spark, root, 1L) == r1)
  }

  test("ALTER-COLUMN family: map columns binds old files; rename/drop are metaData-only; DML follows") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "x")
      .coalesce(1), root)
    // unmapped: rename/drop refuse toward enableColumnMapping
    intercept[IllegalArgumentException] { DeltaWrite.renameColumn(spark, root, "v", "w") }
    val v1 = DeltaWrite.enableColumnMapping(spark, root)
    val snap1 = DeltaRead.snapshot(spark, root)
    // physical names = the ORIGINAL names, so the existing file binds
    assert(snap1.colMap == Map("id" -> "id", "v" -> "v", "x" -> "x"))
    assert(snap1.configuration("delta.columnMapping.mode") == "name")
    assert(snap1.configuration("delta.columnMapping.maxColumnId") == "3")
    assert(snap1.minReader >= 2 && snap1.minWriter >= 5)
    assert(DeltaRead.read(spark, root).count() == 2)
    // a second enable is a no-op at the same version
    assert(DeltaWrite.enableColumnMapping(spark, root) == v1)

    DeltaWrite.renameColumn(spark, root, "v", "word")
    val snap2 = DeltaRead.snapshot(spark, root)
    assert(snap2.schema.fieldNames.toSeq == Seq("id", "word", "x"))
    assert(snap2.colMap("word") == "v", "rename must keep the physical name")
    // old rows read under the new logical name
    assert(DeltaRead.read(spark, root).select("word").orderBy("word")
      .as[String].collect().toSeq == Seq("a", "b"))

    DeltaWrite.dropColumn(spark, root, "x")
    assert(DeltaRead.snapshot(spark, root).schema.fieldNames.toSeq == Seq("id", "word"))
    // DML under the new shape: append, update, delete all still work
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "word"), root)
    DeltaWrite.update(spark, root, "id = 1", Map("word" -> "'A'"))
    DeltaWrite.delete(spark, root, "id = 2")
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "A", 3L -> "c"))
    // guards: dropping the partition/only column, constraint references
    intercept[IllegalArgumentException] { DeltaWrite.dropColumn(spark, root, "nope") }
    DeltaWrite.addCheckConstraint(spark, root, "w_set", "word IS NOT NULL")
    intercept[IllegalArgumentException] { DeltaWrite.renameColumn(spark, root, "word", "w2") }
    intercept[IllegalArgumentException] { DeltaWrite.dropColumn(spark, root, "word") }
  }

  test("CHECK constraints: add validates history, writes enforce, protocol carries the feature") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x").coalesce(1), root)
    // adding a constraint the history violates refuses and commits nothing
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.addCheckConstraint(spark, root, "x_big", "x > 15")
    }
    assert(e.getMessage.contains("x_big"))
    assert(DeltaRead.snapshot(spark, root).version == 0L)
    // a valid constraint lands with the protocol upgraded
    val v = DeltaWrite.addCheckConstraint(spark, root, "x_pos", "x > 0")
    val snap = DeltaRead.snapshot(spark, root)
    assert(v == 1L && snap.configuration("delta.constraints.x_pos") == "x > 0")
    assert(snap.minWriter >= 3 || snap.writerFeatures.contains("checkConstraints"))
    // appends enforce: NULL passes (SQL CHECK), FALSE fails whole
    DeltaWrite.append(spark, Seq((3L, Option(5.0)), (4L, Option.empty[Double]))
      .toDF("id", "x").coalesce(1), root)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((5L, -1.0)).toDF("id", "x"), root)
    }
    assert(e2.getMessage.contains("x_pos") && e2.getMessage.contains("APPEND"))
    assert(DeltaRead.read(spark, root).count() == 4)
    // UPDATE enforces on the post-update image
    intercept[IllegalArgumentException] {
      DeltaWrite.update(spark, root, "id = 1", Map("x" -> "-9"))
    }
    // MERGE enforces on the merged frame
    intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, Seq((2L, -3.0)).toDF("id", "x"), root, Seq("id"))
    }
    assert(DeltaRead.read(spark, root).where("x < 0").count() == 0)
    // drop, then the violating write lands
    DeltaWrite.dropCheckConstraint(spark, root, "x_pos")
    DeltaWrite.append(spark, Seq((5L, -1.0)).toDF("id", "x"), root)
    assert(DeltaRead.read(spark, root).count() == 5)
  }

  test("DV-based UPDATE: matched rows re-land updated, untouched files carry byte-identical") {
    val root = tmp()
    // two files with DISJOINT id ranges: the second must not be touched
    DeltaWrite.append(spark, (0L until 100L).map(i => (i, s"v$i", i % 5))
      .toDF("id", "v", "grp").coalesce(1), root)
    DeltaWrite.append(spark, (100L until 200L).map(i => (i, s"v$i", i % 5))
      .toDF("id", "v", "grp").coalesce(1), root)
    val before = DeltaRead.snapshot(spark, root)
    val v = DeltaWrite.update(spark, root, "id < 50 AND grp = 2",
      Map("v" -> "concat(v, '!')", "grp" -> "grp + 10"))
    assert(v == 2L)
    val after = DeltaRead.snapshot(spark, root)
    // the untouched second file carries byte-identical (same rel path, no DV)
    val untouched = before.files.keySet.filter(f => !after.dvs.contains(f))
    assert(after.files.keySet.intersect(before.files.keySet).nonEmpty)
    assert(untouched.exists(after.files.contains), "second file must carry unrewritten")
    // exactly the matched rows changed; simultaneous semantics on grp
    val got = DeltaRead.read(spark, root).orderBy("id")
      .as[(Long, String, Long)].collect()
    assert(got.length == 200)
    got.foreach { case (id, vv, g) =>
      if (id < 50 && id % 5 == 2) assert(vv == s"v$id!" && g == 12, s"row $id: ($vv, $g)")
      else assert(vv == s"v$id" && g == id % 5, s"row $id must be untouched: ($vv, $g)")
    }
    // the touched file holds a DV; matched count = 10 (ids 2,7,...,47)
    assert(after.dvs.values.map(_.cardinality).sum == 10L)
    // no-match update: no commit
    assert(DeltaWrite.update(spark, root, "id > 9999", Map("v" -> "'x'")) == 2L)
  }

  test("UPDATE swap is simultaneous; partition-column update moves the row's directory") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("a", "b", "p"),
      root, partitionBy = Seq("p"))
    // swap a and b where a = 1: RHS must see PRE-update values
    DeltaWrite.update(spark, root, "a = 1", Map("a" -> "b", "b" -> "a"))
    val swapped = DeltaRead.read(spark, root).orderBy("b")
      .as[(Long, Long, String)].collect()
    assert(swapped.toSeq == Seq((10L, 1L, "p1"), (2L, 20L, "p2")), swapped.toSeq.toString)
    // move row a=2 from p2 to p9: the image lands under p=p9
    DeltaWrite.update(spark, root, "a = 2", Map("p" -> "'p9'"))
    val moved = DeltaRead.read(spark, root).where("a = 2")
      .as[(Long, Long, String)].collect()
    assert(moved.toSeq == Seq((2L, 20L, "p9")))
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.files.exists(_._2.get("p").contains("p9")),
      "updated image must land in the new partition directory")
  }

  test("UPDATE on a CDF table writes update_preimage/update_postimage cdc rows") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root)
    DeltaWrite.setProperties(spark, root, Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaWrite.update(spark, root, "id = 1", Map("v" -> "'A'"))
    val changes = DeltaRead.readChanges(spark, root, v, Some(v))
      .select("id", "v", "_change_type").orderBy("_change_type")
      .as[(Long, String, String)].collect()
    assert(changes.toSeq == Seq((1L, "A", "update_postimage"), (1L, "a", "update_preimage")),
      changes.toSeq.toString)
  }

  test("multi-part checkpoint: complete 1..k run, parts pointer, cleaned-log read, incremental fold") {
    val root = tmp()
    for (i <- 0 until 5)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    DeltaWrite.delete(spark, root, "id = 1") // live DV must survive the fold
    val v = DeltaWrite.checkpoint(spark, root, parts = 3)
    assert(v == 5L)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    def names() = logDir.listFiles().map(_.getName).toSeq
    val partNames = names().filter(_.matches(f"$v%020d\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
    val k = partNames.length
    assert(k >= 2 && k <= 3, s"expected a multi-part run, got $partNames")
    assert(partNames.toSet ==
      (1 to k).map(i => f"$v%020d.checkpoint.$i%010d.$k%010d.parquet").toSet,
      s"part run not contiguous: $partNames")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = mapper.readTree(graft.pipeline.VersionedTable.readSmall(fs,
      new org.apache.hadoop.fs.Path(root, "_delta_log/_last_checkpoint")).get)
    assert(ptr.get("version").asLong() == v && ptr.get("parts").asInt() == k)
    // cleaned log: delete every commit JSON — state must live in the parts
    names().filter(_.endsWith(".json")).foreach(n => new java.io.File(logDir, n).delete())
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(0L -> "r0", 2L -> "r2", 3L -> "r3", 4L -> "r4"),
      "multi-part checkpoint alone must serve the snapshot (DV included)")
    // incremental fold ON TOP of a multi-part checkpoint
    DeltaWrite.append(spark, Seq((9L, "r9")).toDF("id", "v").coalesce(1), root)
    val v2 = DeltaWrite.checkpoint(spark, root) // auto → single part at this size
    assert(v2 == v + 1)
    names().filter(_.endsWith(".json")).foreach(n => new java.io.File(logDir, n).delete())
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(0L -> "r0", 2L -> "r2", 3L -> "r3", 4L -> "r4", 9L -> "r9"))
  }

  test("incomplete multi-part run is ignored: reads fall back to the commit tail") {
    val root = tmp()
    for (i <- 0 until 3)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    val v = DeltaWrite.checkpoint(spark, root, parts = 2)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val parts = logDir.listFiles().map(_.getName)
      .filter(_.matches(f"$v%020d\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")).sorted
    assert(parts.length == 2, s"setup: expected 2 parts, got ${parts.toSeq}")
    // simulate a torn publish: part 2 and the pointer vanish
    assert(new java.io.File(logDir, parts.last).delete())
    assert(new java.io.File(logDir, "_last_checkpoint").delete())
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(0L -> "r0", 1L -> "r1", 2L -> "r2"),
      "an incomplete part run must be ignored, not half-applied")
  }

  test("OPTIMIZE ZORDER: clustered dataChange=false rewrite shrinks per-file stat ranges") {
    val root = tmp()
    // two independent uniform dims — the worst case for 1-D sorting
    val n = 20000L
    val df = spark.range(n).select(
      abs(xxhash64(col("id")) % 10000).as("x"),
      abs(xxhash64(col("id"), lit(7)) % 10000).as("y"))
    DeltaWrite.append(spark, df.repartition(16), root)
    val before = DeltaRead.snapshot(spark, root)
    val v0 = before.version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def rangeFrac(snap: DeltaRead.Snapshot, c: String): Double = {
      val fr = snap.files.keySet.toSeq.map { rel =>
        val st = mapper.readTree(snap.stats(rel))
        (st.get("maxValues").get(c).asDouble() -
          st.get("minValues").get(c).asDouble()) / 10000.0
      }
      fr.sum / fr.size
    }
    // round-robin layout: every file spans ~the whole range on both dims
    assert(rangeFrac(before, "x") > 0.9 && rangeFrac(before, "y") > 0.9)

    graft.Cli.executeTable(spark, "delta-compact", root,
      List("--zorder-by", "x,y", "--zorder-files", "16"))
    val after = DeltaRead.snapshot(spark, root)
    assert(after.files.size == 16, s"expected 16 clustered files, got ${after.files.size}")
    assert(DeltaRead.read(spark, root).count() == n, "rows lost in the clustered rewrite")
    // 16 files over a 2-D z-grid → ~1/4 of each dimension per file
    val (zx, zy) = (rangeFrac(after, "x"), rangeFrac(after, "y"))
    assert(zx < 0.55 && zy < 0.55, s"per-file range fracs not clustered: x=$zx y=$zy")
    // the rewrite commit is pure repackaging: every action dataChange=false
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = graft.pipeline.VersionedTable.readSmall(fs,
      new org.apache.hadoop.fs.Path(root, f"_delta_log/${after.version}%020d.json")).get
    val acts = log.split("\n").map(mapper.readTree)
      .filter(a => a.has("add") || a.has("remove"))
    assert(acts.nonEmpty && acts.forall { a =>
      val node = if (a.has("add")) a.get("add") else a.get("remove")
      node.has("dataChange") && !node.get("dataChange").asBoolean()
    }, "OPTIMIZE ZORDER must commit dataChange=false actions only")
    // time travel across the rewrite keeps working
    assert(DeltaRead.read(spark, root, Some(v0)).count() == n)
  }

  test("roaring serializer round-trips through the reader decode, incl. bitmap containers") {
    val cases = Seq(
      Seq(0L, 2L, 5L),                                    // array container
      (0L until 5000L).toSeq,                             // bitmap container (>4096 in one key)
      Seq(1L, 70000L, (1L << 32) | 3L, (1L << 32) | 9L),  // multi-key, multi-bitmap
      (0L until 4096L).toSeq,                             // exactly at the array limit
      (0L until 4097L).toSeq)                             // just past it
    cases.foreach { rows =>
      val bytes = DeletionVectors.encodeRoaringBitmapArray(rows.toArray)
      assert(DeletionVectors.decodeRoaringBitmapArray(bytes).toSeq == rows.sorted,
        s"round-trip failed for ${rows.length} rows")
    }
  }

  test("DV-emitting delete: soft-deletes via bitmaps, zero data I/O, protocol carried") {
    val root = tmp()
    DeltaWrite.append(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2), root) // v0, 2 files
    val filesBefore = DeltaRead.snapshot(spark, root).files.keySet
    val v1 = DeltaWrite.delete(spark, root, "id % 2 = 0")
    assert(v1 == 1L)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.files.keySet == filesBefore, "no data file was rewritten")
    assert(snap.dvs.nonEmpty && snap.dvs.values.map(_.cardinality).sum == 5L)
    assert(snap.minReader == 3 && snap.readerFeatures.contains("deletionVectors"),
      "first DV upgrades the protocol")
    assert(snap.writerFeatures.contains("appendOnly") && snap.writerFeatures.contains("invariants"),
      "legacy writer features expand into the upgraded protocol, not clobbered")
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 5L, 7L, 9L))
    assert(DeltaRead.read(spark, root, Some(0L)).count() == 10L, "time travel pre-delete")
    // second delete UNIONS through the (path, dv.uniqueId) replay
    val v2 = DeltaWrite.delete(spark, root, "id = 1")
    assert(v2 == 2L)
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 5L, 7L, 9L))
    // no-match and already-deleted deletes commit NOTHING
    assert(DeltaWrite.delete(spark, root, "id = 999") == 2L)
    assert(DeltaWrite.delete(spark, root, "id = 0") == 2L)
    assert(DeltaRead.versions(spark, root).max == 2L)
    // compaction materializes the soft-deletes; checkpoint then unblocks
    val cv = DeltaWrite.compact(spark, root, targetFiles = 1)
    assert(DeltaRead.snapshot(spark, root).dvs.isEmpty)
    assert(DeltaRead.read(spark, root).count() == 4L)
    assert(DeltaWrite.checkpoint(spark, root) == cv)
  }

  test("DV-emitting delete: a fully-deleted file DROPS (remove-only), not a full mask") {
    val root = tmp()
    // two files with disjoint key ranges: the predicate kills one whole file
    DeltaWrite.append(spark, (0L until 5L).map(i => (i, "a")).toDF("id", "v").coalesce(1), root)
    DeltaWrite.append(spark, (100L until 105L).map(i => (i, "b")).toDF("id", "v").coalesce(1), root)
    assert(DeltaRead.snapshot(spark, root).files.size == 2)
    DeltaWrite.delete(spark, root, "id >= 100")
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.files.size == 1, "the fully-deleted file must leave the snapshot")
    assert(snap.dvs.isEmpty, "no mask needed — the file is gone")
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (0L until 5L).toSeq)
    // a PARTIAL delete on the surviving file still goes the DV route
    DeltaWrite.delete(spark, root, "id = 3")
    val snap2 = DeltaRead.snapshot(spark, root)
    assert(snap2.files.size == 1 && snap2.dvs.size == 1)
    assert(DeltaRead.read(spark, root).count() == 4L)
  }

  test("DV-emitting delete: large bitmaps, on-disk 'u' spill, vacuum keeps the DV file") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(10000L).selectExpr("id", "cast(id as string) as v")
      .coalesce(1), root)
    // inlineMaxBytes=0 forces the on-disk framing path; 5000 deleted
    // rows in one 64k block exercises the bitmap container
    val v1 = DeltaWrite.delete(spark, root, "id < 5000", inlineMaxBytes = 0)
    assert(v1 == 1L)
    val snap = DeltaRead.snapshot(spark, root)
    val dv = snap.dvs.values.head
    assert(dv.storageType == "u" && dv.cardinality == 5000L)
    assert(DeltaRead.read(spark, root).count() == 5000L)
    assert(DeltaRead.read(spark, root).agg(org.apache.spark.sql.functions.min("id"))
      .head().getLong(0) == 5000L)
    // the on-disk DV file is snapshot state: vacuum must keep it
    val swept = DeltaWrite.vacuum(spark, root, retentionMs = 0L)
    assert(!swept.exists(_.contains("deletion_vector")), s"swept a live DV: $swept")
    assert(DeltaRead.read(spark, root).count() == 5000L)
  }

  test("DV delete + read survive URI-unsafe partition values (space, percent)") {
    val root = tmp()
    // 'a b' keeps a RAW space in its hive dir name (space is not in
    // Hive's escape set) while _metadata.file_path surfaces it
    // URL-encoded — the exact mismatch that silently resurrected
    // soft-deleted rows before the canonical-URI keying; 'c%d'
    // hive-escapes to c%25d and stresses the decode direction
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c%d"), (4L, "c%d")).toDF("id", "cat")
    // one task → ONE file per partition dir, so the single-row deletes
    // below are partial (DV-emitting), not whole-file drops
    DeltaWrite.append(spark, df.repartition(1), root, partitionBy = Seq("cat"))
    val v1 = DeltaWrite.delete(spark, root, "id = 1 or id = 3")
    assert(v1 == 1L)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.dvs.nonEmpty, "the partial deletes must be DV-backed")
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 4L), "soft-deleted rows must stay deleted across encoded paths")
    assert(DeltaRead.read(spark, root).select("cat").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("a b", "c%d"))
    // deleting the REST of each file drops the files outright
    DeltaWrite.delete(spark, root, "id = 2 or id = 4")
    assert(DeltaRead.read(spark, root).count() == 0L)
  }

  test("checkpoint carries protocol features; protocol-less tail inherits, never downgrades") {
    val root = tmp()
    DeltaWrite.append(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2), root)                        // v0, 2 files
    DeltaWrite.delete(spark, root, "id = 3")        // v1: upgrade to v3/v7 + DV
    DeltaWrite.compact(spark, root, targetFiles = 1) // v2: folds 2→1, retires the DV
    val cv = DeltaWrite.checkpoint(spark, root)
    assert(cv == 2L)
    def protoOf(v: Long) = {
      val ck = spark.read.parquet(s"$root/_delta_log/" + f"$v%020d.checkpoint.parquet")
      ck.where(col("protocol.minReaderVersion").isNotNull).select("protocol.*").head()
    }
    val pr = protoOf(cv)
    assert(pr.getAs[Int]("minReaderVersion") == 3 && pr.getAs[Int]("minWriterVersion") == 7,
      "the checkpoint must not fold a v3/v7 table into a default protocol")
    assert(pr.getSeq[String](pr.fieldIndex("readerFeatures")).contains("deletionVectors"))
    val wf = pr.getSeq[String](pr.fieldIndex("writerFeatures"))
    assert(wf.contains("deletionVectors") && wf.contains("appendOnly"),
      "feature lists survive the fold intact")
    // every checkpoint file action is dataChange=false (protocol shape)
    val ck = spark.read.parquet(s"$root/_delta_log/" + f"$cv%020d.checkpoint.parquet")
    assert(ck.where(col("add.path").isNotNull && col("add.dataChange") === true).count() == 0)
    assert(ck.where(col("remove.path").isNotNull && col("remove.dataChange") === true)
      .count() == 0)
    // incremental fold over a PROTOCOL-LESS tail inherits the
    // checkpointed protocol instead of writing the (1,2) default
    DeltaWrite.append(spark, Seq((100L, "x")).toDF("id", "v"), root) // v3
    val cv2 = DeltaWrite.checkpoint(spark, root)
    assert(cv2 == 3L)
    val pr2 = protoOf(cv2)
    assert(pr2.getAs[Int]("minReaderVersion") == 3 && pr2.getAs[Int]("minWriterVersion") == 7)
    assert(pr2.getSeq[String](pr2.fieldIndex("readerFeatures")).contains("deletionVectors"))
    // checkpoint-only read (cleaned JSON log) still sees the v3 protocol
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.list(logDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(java.nio.file.Files.delete)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.minReader == 3 && snap.readerFeatures.contains("deletionVectors"))
    assert(snap.minWriter == 7 && snap.writerFeatures.contains("deletionVectors"))
    assert(DeltaRead.read(spark, root).count() == 10L)
  }

  test("writer gates: appendOnly forbids data removal; unknown writer features refuse") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2), root)
    val schemaJson = DeltaRead.snapshot(spark, root).schema.json
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def commit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    // v1: a foreign writer flips the table append-only
    commit(1L, Seq(
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${mapper.writeValueAsString(schemaJson)},""" +
        """"partitionColumns":[],"configuration":{"delta.appendOnly":"true"}}}"""))
    // appends stay allowed...
    val v2 = DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), root)
    assert(v2 == 2L)
    // ...and dataChange=false compaction too (delta-spark's posture)...
    val cv = DeltaWrite.compact(spark, root, targetFiles = 1)
    assert(cv == 3L)
    // ...but anything that removes committed rows refuses
    Seq(
      () => DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), root),
      () => DeltaWrite.delete(spark, root, "id = 1")
    ).foreach { op =>
      val e = intercept[UnsupportedOperationException](op())
      assert(e.getMessage.contains("delta.appendOnly"), e.getMessage)
    }
    assert(DeltaRead.read(spark, root).count() == 3L)
    // CDF-enabled table: appends stay legal (CDF readers derive
    // inserts from add actions — no _change_data needed), data-removing
    // commits refuse (their row-level changes need cdc files)
    val cdfRoot = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), cdfRoot)
    val cdfSchema = DeltaRead.snapshot(spark, cdfRoot).schema.json
    java.nio.file.Files.write(
      java.nio.file.Paths.get(cdfRoot, "_delta_log", f"${1L}%020d.json"),
      (Seq(
        // CDF legally requires writer v4 (implies the feature)
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"cdf","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${mapper.writeValueAsString(cdfSchema)},""" +
          """"partitionColumns":[],""" +
          """"configuration":{"delta.enableChangeDataFeed":"true"}}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    assert(DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), cdfRoot) == 2L)
    // data-removing commits are CDF-legal since the writer produces
    // _change_data files (full coverage in the dedicated CDF tests)
    assert(DeltaWrite.delete(spark, cdfRoot, "id = 1") == 3L)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cdfRoot, "_delta_log", f"${3L}%020d.json")), "UTF-8")
      .contains("\"cdc\""), "a DV delete on a CDF table must write cdc actions")
    assert(DeltaRead.read(spark, cdfRoot).count() == 2L)

    // v4: vacuumProtocolCheck + timestampNtz are satisfied features —
    // reads, appends AND vacuum (whose protocol check IS the former's
    // contract) keep working
    commit(4L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["vacuumProtocolCheck","timestampNtz"],""" +
        """"writerFeatures":["vacuumProtocolCheck","timestampNtz","appendOnly"]}}"""))
    assert(DeltaRead.read(spark, root).count() == 3L)
    assert(DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), root) == 5L)
    DeltaWrite.vacuum(spark, root, retentionMs = 0L) // must not refuse
    // v6: a v7 protocol demanding a feature this writer lacks — writes
    // AND vacuum refuse (vacuumProtocolCheck's posture: never sweep a
    // table whose protocol you don't fully understand).
    // rowTracking became IMPLEMENTED in round 17, so the pin uses a
    // name no protocol version defines.
    commit(6L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["futureCompression"]}}"""))
    val e = intercept[UnsupportedOperationException] {
      DeltaWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), root)
    }
    assert(e.getMessage.contains("futureCompression"), e.getMessage)
    val ev = intercept[UnsupportedOperationException] {
      DeltaWrite.vacuum(spark, root, retentionMs = 0L)
    }
    assert(ev.getMessage.contains("futureCompression"), ev.getMessage)
  }

  test("file-pruned merge: untouched adds carry byte-identical; upsert semantics exact") {
    val root = tmp()
    val base = spark.range(8000L).select(col("id").as("hash_key"),
      (col("id") * 2).as("v"), lit("base").as("src"))
    DeltaWrite.append(spark,
      base.repartitionByRange(8, col("hash_key")).sortWithinPartitions("hash_key"), root)
    val before = DeltaRead.snapshot(spark, root)
    assert(before.files.size == 8)
    // fixes hit only the low-range file(s); inserts are disjoint above
    val src = spark.range(100L).select(col("id").as("hash_key"),
        (col("id") * 100).as("v"), lit("fix").as("src"))
      .unionByName(spark.range(3L).select((col("id") + 1000000L).as("hash_key"),
        col("id").as("v"), lit("new").as("src")))
    val v1 = DeltaWrite.merge(spark, src, root, Seq("hash_key"))
    assert(v1 == 1L)
    val after = DeltaRead.snapshot(spark, root)
    val carried = before.files.keySet.intersect(after.files.keySet)
    assert(carried.size >= 6, // range sampling may split the fix span over 2 files
      s"stats pruning must carry the non-intersecting files; carried ${carried.size}/8")
    carried.foreach { f =>
      assert(before.stats.get(f) == after.stats.get(f) &&
        before.sizes(f) == after.sizes(f),
        s"carried add entry for $f must survive the merge commit unchanged")
    }
    // the commit removes EXACTLY the touched files — untouched ones
    // carry by absence of a remove action
    val commitJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    val removeCount = commitJson.split("\n").count(_.contains("\"remove\""))
    assert(removeCount == 8 - carried.size,
      s"expected ${8 - carried.size} removes, saw $removeCount")
    // upsert semantics: fixes replaced, inserts added, rest untouched
    val out = DeltaRead.read(spark, root)
    assert(out.count() == 8003L)
    assert(out.where("src = 'fix'").count() == 100L)
    assert(out.where("hash_key < 100 and src = 'base'").count() == 0L)
    assert(out.where("src = 'new'").count() == 3L)
    assert(out.where("hash_key >= 100 and hash_key < 8000 and src = 'base'")
      .count() == 7900L)

    // merge over a DV-carrying touched file: the soft-deleted row must
    // NOT resurrect, and the remove retires the DV identity
    DeltaWrite.delete(spark, root, "hash_key = 200") // v2: DV
    assert(DeltaRead.snapshot(spark, root).dvs.nonEmpty)
    val src2 = spark.range(199L, 202L).select(col("id").as("hash_key"),
      lit(-1L).as("v"), lit("fix2").as("src"))
    DeltaWrite.merge(spark, src2, root, Seq("hash_key")) // v3
    val out3 = DeltaRead.read(spark, root)
    assert(out3.where("hash_key = 200").collect().map(_.getString(2)).toSeq ==
      Seq("fix2"), "the soft-deleted row resurfaces ONLY as the new source row")
    assert(out3.count() == 8003L) // 8003 - 1 deleted - 2 replaced + 3 src rows
    assert(out3.where("src = 'fix2'").count() == 3L)
  }

  test("mergeSchema append: additive evolution, null backfill, configuration carried") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root)
    val id0 = DeltaRead.snapshot(spark, root).metaId
    // strict appends still refuse extras (the default is unchanged)
    intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((2L, "b", 1.5)).toDF("id", "v", "score"), root)
    }
    // flip the table append-only via a foreign metaData commit — the
    // evolving append below must CARRY this configuration through its
    // re-emitted metaData, not silently drop the enforcement
    val schemaJson = DeltaRead.snapshot(spark, root).schema.json
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json"),
      (s"""{"metaData":{"id":"${id0}","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${m.writeValueAsString(schemaJson)},"partitionColumns":[],""" +
        """"configuration":{"delta.appendOnly":"true"}}}""" + "\n").getBytes("UTF-8"))
    // evolving append: the score column joins the schema, nullable
    val v2 = DeltaWrite.append(spark, Seq((2L, "b", 1.5)).toDF("id", "v", "score"),
      root, mergeSchema = true)
    assert(v2 == 2L)
    val out = DeltaRead.read(spark, root).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "v", "score"))
    val rows = out.collect()
    assert(rows(0).isNullAt(2), "the pre-evolution file reads the new column as null")
    assert(rows(1).getDouble(2) == 1.5)
    val snap2 = DeltaRead.snapshot(spark, root)
    assert(snap2.metaId == id0, "evolution must carry the table id")
    assert(snap2.configuration.get("delta.appendOnly").contains("true"),
      "evolution must carry the table configuration")
    // overwrite still refused (appendOnly carried) — proves the carry
    intercept[UnsupportedOperationException] {
      DeltaWrite.overwrite(spark, Seq((9L, "z", 0.0)).toDF("id", "v", "score"), root)
    }
    // a df MISSING table columns null-fills under mergeSchema
    val v3 = DeltaWrite.append(spark, Seq((3L, 2.5)).toDF("id", "score"),
      root, mergeSchema = true)
    assert(v3 == 3L)
    assert(DeltaRead.read(spark, root).where("id = 3").head().isNullAt(1))
    // type changes refuse — mergeSchema is additive only
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.append(spark, Seq((4L, "x", "nope")).toDF("id", "v", "score"),
        root, mergeSchema = true)
    }
    assert(e.getMessage.contains("type mismatch"), e.getMessage)
    // time travel reads the ORIGINAL schema at v0
    assert(DeltaRead.read(spark, root, Some(0L)).columns.toSeq == Seq("id", "v"))
  }

  test("SinkSpec merge_schema: delta append evolves; non-delta and non-append refuse") {
    val root = tmp()
    Writer.write(spark, Seq((1L, "a")).toDF("id", "v"),
      SinkSpec(root, format = "delta"))
    Writer.write(spark, Seq((2L, "b", 1.5)).toDF("id", "v", "score"),
      SinkSpec(root, format = "delta", mergeSchema = true))
    assert(DeltaRead.read(spark, root).columns.toSeq == Seq("id", "v", "score"))
    assert(DeltaRead.read(spark, root).count() == 2L)
    intercept[IllegalArgumentException] {
      Writer.write(spark, Seq((1L, "a")).toDF("id", "v"),
        SinkSpec(tmp(), format = "parquet", mergeSchema = true))
    }
    intercept[IllegalArgumentException] {
      Writer.write(spark, Seq((1L, "a")).toDF("id", "v"),
        SinkSpec(root, format = "delta", mode = Overwrite, mergeSchema = true))
    }
    // YAML surface parses into the flag
    val spec = graft.pipeline.YamlLoader.load(
      s"""pipeline_name: ms
         |sources: [{name: d, type: file, format: parquet, path: "/x"}]
         |target: {name: t, type: file, format: delta, path: "$root", merge_schema: true}
         |""".stripMargin)
    assert(spec.sink.exists(_.mergeSchema))
  }

  test("purgeDvs rewrites only DV-heavy files; clean adds carry byte-identical") {
    val root = tmp()
    // 4 files, 1000 rows each, disjoint ranges
    DeltaWrite.append(spark, spark.range(4000L)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"), root)
    // heavy delete on the low range (~50% of file 1), light on file 2 (~1%)
    DeltaWrite.delete(spark, root, "id < 500")
    DeltaWrite.delete(spark, root, "id = 1500")
    val before = DeltaRead.snapshot(spark, root)
    assert(before.dvs.size == 2)
    val v = DeltaWrite.purgeDvs(spark, root, minDeletedFraction = 0.05)
    assert(v == before.version + 1)
    val after = DeltaRead.snapshot(spark, root)
    // only the HEAVY file rewrote: the light DV survives, and every
    // clean/light add entry is byte-identical
    assert(after.dvs.size == 1 && after.dvs.values.head.cardinality == 1L,
      s"the 1-row DV must survive the threshold: ${after.dvs}")
    val carried = before.files.keySet.intersect(after.files.keySet)
    assert(carried.size == 3, s"3 of 4 files must carry; carried ${carried.size}")
    carried.foreach { f =>
      assert(before.stats.get(f) == after.stats.get(f) &&
        before.sizes(f) == after.sizes(f))
    }
    // read-back identical before/after the purge (dataChange=false)
    assert(DeltaRead.read(spark, root).count() == 3499L)
    assert(DeltaRead.read(spark, root).where("id < 500").count() == 0L)
    assert(DeltaRead.read(spark, root).where("id = 1500").count() == 0L)
    val commitJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")), "UTF-8")
    assert(!commitJson.contains("\"dataChange\":true"),
      "purge actions must all be dataChange=false")
    // nothing above the threshold → no-op
    assert(DeltaWrite.purgeDvs(spark, root, minDeletedFraction = 0.05) == v)
    // threshold 0 materializes the remaining light DV too
    val v2 = DeltaWrite.purgeDvs(spark, root, minDeletedFraction = 0.0)
    assert(v2 == v + 1 && DeltaRead.snapshot(spark, root).dvs.isEmpty)
    assert(DeltaRead.read(spark, root).count() == 3499L)
  }

  test("append into a name-mode column-mapped table: physical parquet, logical read-back") {
    import org.apache.spark.sql.types._
    def mappedField(logical: String, dt: DataType, id: Long, physical: String) =
      StructField(logical, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", physical).build())
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    // synthetic mapped table: one physical-named data file + hand log
    val root = tmp()
    val stage = java.nio.file.Files.createTempDirectory("graft_cm_stage").toString
    Seq((1L, "a"), (2L, "b")).toDF("col-aaa111", "col-bbb222")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(root, "f1.parquet"))
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222")))
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(root, "f1.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cm-table","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(mapped.json)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$size,""" +
          s""""modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    assert(DeltaRead.read(spark, root).count() == 2L)
    // the append takes LOGICAL columns (any order) and lands physical
    val v1 = DeltaWrite.append(spark, Seq(("c", 3L)).toDF("v", "id"), root)
    assert(v1 == 1L)
    val out = DeltaRead.read(spark, root).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the new data FILE itself carries physical names (what delta-spark
    // and any other mapped reader resolve against)
    val snap = DeltaRead.snapshot(spark, root)
    val newRel = (snap.files.keySet - "f1.parquet").head
    assert(spark.read.parquet(s"$root/$newRel").columns.toSeq ==
      Seq("col-aaa111", "col-bbb222"))
    // footer stats keyed by PHYSICAL name (skipping happens physical)
    assert(snap.stats.get(newRel).exists(_.contains("col-aaa111")))
    // full overwrite (round 15): same-shape replace keeps the mapping —
    // survivors carry their (id, physicalName) and the data re-lands
    // under the SAME physical columns
    DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "v"), root)
    val so = DeltaRead.snapshot(spark, root)
    assert(so.colMap == Map("id" -> "col-aaa111", "v" -> "col-bbb222"),
      s"survivors must keep their physical bindings: ${so.colMap}")
    assert(DeltaRead.read(spark, root).as[(Long, String)].collect().toSeq ==
      Seq((9L, "z")))
  }

  test("append into a PARTITIONED mapped table: physical dirs and partitionValues keys") {
    import org.apache.spark.sql.types._
    def mappedField(logical: String, dt: DataType, id: Long, physical: String) =
      StructField(logical, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", physical).build())
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    val root = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("p", LongType, 2, "col-ppp333")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cm-part","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(mapped.json)},"partitionColumns":["p"],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    val v1 = DeltaWrite.append(spark, Seq((1L, 7L), (2L, 8L)).toDF("id", "p"), root)
    assert(v1 == 1L)
    val snap = DeltaRead.snapshot(spark, root)
    // dirs and log partitionValues keys are PHYSICAL; the frame logical
    assert(snap.files.keySet.forall(_.startsWith("col-ppp333=")),
      s"physical partition dirs expected: ${snap.files.keySet}")
    val commitJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    assert(commitJson.contains(""""partitionValues":{"col-ppp333""""),
      "add.partitionValues must key by the physical name")
    val out = DeltaRead.read(spark, root).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "p"))
    assert(out.as[(Long, Long)].collect().toSeq == Seq((1L, 7L), (2L, 8L)))
    // partition pruning through the logical name still works
    assert(out.where(col("p") === 8L).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("mapped-table DML: DV delete, dynamic overwrite, merge, compact stay physical") {
    import org.apache.spark.sql.types._
    def mappedField(logical: String, dt: DataType, id: Long, physical: String) =
      StructField(logical, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", physical).build())
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    val root = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222"),
      mappedField("p", LongType, 3, "col-ppp333")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cm-dml","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(mapped.json)},"partitionColumns":["p"],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"3"}}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    // v1: logical-named append lands physical
    val rows = (0L until 20L).map(i => (i, s"v$i", i % 2))
    DeltaWrite.append(spark, rows.toDF("id", "v", "p").repartition(1), root)
    assert(DeltaRead.read(spark, root).count() == 20L)

    // v2: DV DELETE with a LOGICAL condition; the re-add must keep
    // PHYSICAL partitionValues keys or foreign readers mis-place it
    DeltaWrite.delete(spark, root, "id = 4")
    val delJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(java.nio.file.Paths.get(root, "_delta_log")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString == f"${2L}%020d.json").get), "UTF-8")
    assert(delJson.contains(""""partitionValues":{"col-ppp333""""),
      s"DV re-add must keep physical pv keys: $delJson")
    assert(DeltaRead.read(spark, root).where("id = 4").count() == 0L)
    assert(DeltaRead.read(spark, root).count() == 19L)

    // v3: MERGE — logical key column, physical stats probe
    val src = Seq((1L, "fixed", 1L), (100L, "new", 0L)).toDF("id", "v", "p")
    DeltaWrite.merge(spark, src, root, Seq("id"))
    val out = DeltaRead.read(spark, root)
    assert(out.where("id = 1").select("v").head().getString(0) == "fixed")
    assert(out.count() == 20L) // 19 + 1 insert
    assert(out.where("id = 4").count() == 0L, "merge must not resurrect the DV'd row")

    // v4: DYNAMIC partition overwrite of p=0 only
    val repl = Seq((200L, "only", 0L)).toDF("id", "v", "p")
    DeltaWrite.overwritePartitions(spark, repl, root, Seq("p"))
    val out4 = DeltaRead.read(spark, root)
    assert(out4.where("p = 0").count() == 1L, "p=0 fully replaced")
    assert(out4.where("p = 1").count() == 10L, "p=1 untouched")

    // v5: compact folds to one file per partition, physical names kept
    DeltaWrite.compact(spark, root, targetFiles = 2)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.files.keySet.forall(_.startsWith("col-ppp333=")),
      s"compacted dirs must stay physical: ${snap.files.keySet}")
    val out5 = DeltaRead.read(spark, root)
    assert(out5.columns.toSeq == Seq("id", "v", "p"))
    assert(out5.count() == 11L)
    // data files themselves carry physical column names throughout
    snap.files.keySet.foreach { rel =>
      assert(spark.read.parquet(s"$root/$rel").columns.sorted.toSeq ==
        Seq("col-aaa111", "col-bbb222"))
    }
    // v6: full overwrite (round 15) may legally DE-partition the table;
    // the mapping survives and the read round-trips
    DeltaWrite.overwrite(spark, Seq((9L, "z", 0L)).toDF("id", "v", "p"), root)
    val s6 = DeltaRead.snapshot(spark, root)
    assert(s6.partitionColumns.isEmpty, "full overwrite re-partitions the table")
    assert(s6.colMap == Map("id" -> "col-aaa111", "v" -> "col-bbb222",
      "p" -> "col-ppp333"), s"survivors must keep physical bindings: ${s6.colMap}")
    assert(DeltaRead.read(spark, root).as[(Long, String, Long)].collect().toSeq ==
      Seq((9L, "z", 0L)))
  }

  test("checkpoint folds LIVE deletion vectors; v7+mapping+DV survive a cleaned log") {
    import org.apache.spark.sql.types._
    def mappedField(logical: String, dt: DataType, id: Long, physical: String) =
      StructField(logical, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", physical).build())
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    val root = tmp()
    val stage = java.nio.file.Files.createTempDirectory("graft_ckdv_stage").toString
    (0L until 10L).map(i => (i, s"v$i")).toDF("col-k1", "col-v2")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(root, "f1.parquet"))
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-k1"),
      mappedField("v", StringType, 2, "col-v2")))
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(root, "f1.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"ckdv","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(mapped.json)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2","graft.marker":"keep-me"}}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$size,""" +
          s""""modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))
    DeltaWrite.delete(spark, root, "id < 3")        // v1: LIVE DV, upgrade to 3/7
    val before = DeltaRead.snapshot(spark, root)
    assert(before.minWriter == 7 && before.dvs.nonEmpty)
    // the DV must survive the fold — no refusal, no silent drop
    assert(DeltaWrite.checkpoint(spark, root) == 1L)
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.list(logDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(java.nio.file.Files.delete)
    val snap = DeltaRead.snapshot(spark, root)
    // protocol, features, configuration, mapping: all byte-equal
    assert(snap.minReader == before.minReader && snap.minWriter == before.minWriter)
    assert(snap.readerFeatures == before.readerFeatures &&
      snap.writerFeatures == before.writerFeatures)
    assert(snap.configuration == before.configuration &&
      snap.configuration("graft.marker") == "keep-me")
    assert(snap.colMap == before.colMap)
    assert(snap.dvs.mapValues(_.uniqueId).toMap ==
      before.dvs.mapValues(_.uniqueId).toMap, "the DV identity must survive the fold")
    assert(DeltaRead.read(spark, root).count() == 7L,
      "checkpoint-only read must still mask the soft-deleted rows")
    // incremental fold: a second checkpoint CARRIES the DV'd add
    DeltaWrite.append(spark, Seq((100L, "x")).toDF("id", "v"), root) // v2
    DeltaWrite.delete(spark, root, "id = 5")                         // v3: grows the DV
    assert(DeltaWrite.checkpoint(spark, root) == 3L)
    java.nio.file.Files.list(logDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(java.nio.file.Files.delete)
    assert(DeltaRead.read(spark, root).count() == 7L) // 10 - 4 deleted + 1 appended
    assert(DeltaRead.snapshot(spark, root).dvs.values.map(_.cardinality).sum == 4L)
  }

  test("mergeSchema on a mapped table mints ids under maxColumnId; reads + DML follow") {
    import org.apache.spark.sql.types._
    def mappedField(logical: String, dt: DataType, id: Long, physical: String) =
      StructField(logical, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", physical).build())
    def jstr(s: String) = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(s)
    // delta-spark-shaped fixture: physical-named parquet + hand log
    val root = tmp()
    val stage = java.nio.file.Files.createTempDirectory("graft_cme_stage").toString
    Seq((1L, "a"), (2L, "b")).toDF("col-aaa111", "col-bbb222")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_delta_log"))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(root, "f1.parquet"))
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222")))
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(root, "f1.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cm-ev","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(mapped.json)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"2"}}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$size,""" +
          s""""modificationTime":1,"dataChange":true}}"""
      ).mkString("\n") + "\n").getBytes("UTF-8"))

    // v1: evolve with a THIRD column — id minted past maxColumnId,
    // physical name fresh, configuration bumped in the same commit
    val v1 = DeltaWrite.append(spark,
      Seq((3L, "c", 1.5)).toDF("id", "v", "score"), root, mergeSchema = true)
    assert(v1 == 1L)
    val s1 = DeltaRead.snapshot(spark, root)
    assert(s1.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    val scoreF = s1.schema("score")
    assert(scoreF.metadata.getLong("delta.columnMapping.id") == 3L)
    val scorePhys = scoreF.metadata.getString("delta.columnMapping.physicalName")
    assert(scorePhys.startsWith("col-") && scorePhys != "col-aaa111")
    assert(s1.configuration("delta.columnMapping.maxColumnId") == "3")
    assert(s1.colMap("score") == scorePhys)
    // the new data FILE carries only physical names (incl. the minted one)
    val newRel = (s1.files.keySet - "f1.parquet").head
    assert(spark.read.parquet(s"$root/$newRel").columns.toSet ==
      Set("col-aaa111", "col-bbb222", scorePhys))
    // logical read-back: pre-evolution rows null-fill the new column
    val out = DeltaRead.read(spark, root).orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(out == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(1.5))))

    // v2: a SECOND evolution mints monotonically (id=4), never reuses
    val v2 = DeltaWrite.append(spark,
      Seq((4L, "d", 2.5, "x")).toDF("id", "v", "score", "tag"), root,
      mergeSchema = true)
    assert(v2 == 2L)
    val s2 = DeltaRead.snapshot(spark, root)
    assert(s2.schema("tag").metadata.getLong("delta.columnMapping.id") == 4L)
    assert(s2.configuration("delta.columnMapping.maxColumnId") == "4")
    assert(s2.schema("score").metadata.getString("delta.columnMapping.physicalName")
      == scorePhys, "an evolution must never re-mint existing columns")

    // in-place DML keeps working on the evolved mapped table
    DeltaWrite.delete(spark, root, "score > 2.0") // drops id=4
    assert(DeltaRead.read(spark, root).count() == 3L)
    DeltaWrite.merge(spark,
      Seq((1L, "A", 9.0, "y")).toDF("id", "v", "score", "tag"), root, Seq("id"))
    val fin = DeltaRead.read(spark, root).orderBy("id")
      .select($"id", $"v", $"score", $"tag")
      .as[(Long, String, Option[Double], Option[String])].collect().toSeq
    assert(fin == Seq((1L, "A", Some(9.0), Some("y")),
      (2L, "b", None, None), (3L, "c", Some(1.5), None)))
  }

  test("RESTORE rewinds files, DVs, and schema as one zero-I/O commit") {
    val root = tmp()
    DeltaWrite.append(spark, (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2), root)                       // v0
    DeltaWrite.delete(spark, root, "id < 3")       // v1: DV, protocol v3
    DeltaWrite.append(spark, Seq((100L, "x", 1.5)).toDF("id", "v", "score"),
      root, mergeSchema = true)                    // v2: evolved schema
    assert(DeltaRead.read(spark, root).count() == 8L)
    // back to v0: all 10 rows, the 2-column schema, no DVs
    val rv = DeltaWrite.restore(spark, root, 0L)
    assert(rv == 3L)
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.dvs.isEmpty && snap.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(snap.minReader == 3, "restore must never downgrade the protocol")
    assert(DeltaRead.read(spark, root).count() == 10L)
    // FORWARD to v1: the soft deletes return (the re-add carries the DV)
    val rv2 = DeltaWrite.restore(spark, root, 1L)
    assert(rv2 == 4L)
    assert(DeltaRead.read(spark, root).count() == 7L)
    assert(DeltaRead.snapshot(spark, root).dvs.nonEmpty)
    // no-op restore commits nothing
    assert(DeltaWrite.restore(spark, root, 1L) == rv2)
    // history is append-only: time travel across the restores works
    assert(DeltaRead.read(spark, root, Some(2L)).count() == 8L)
    assert(DeltaRead.read(spark, root, Some(3L)).count() == 10L)
    // the shared SQL statement routes here; TAG refuses on delta
    val sq = spark.sql(s"GRAFT_RESTORE('$root', 0)").head()
    assert(sq.getLong(0) == 5L && sq.getLong(1) == 0L)
    assert(DeltaRead.read(spark, root).count() == 10L)
    intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT_RESTORE('$root', TAG 'x')")
    }
  }

  test("CDF: setProperties upgrades the protocol; delete/merge write cdc; readChanges spans") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("id", "v", "x").repartition(2), root)   // v0
    // the change feed refuses before the flag is set
    intercept[IllegalArgumentException] { DeltaRead.readChanges(spark, root, 0L) }
    val pv = DeltaWrite.setProperties(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))                  // v1 (metaData only)
    assert(pv == 1L)
    val s1 = DeltaRead.snapshot(spark, root)
    assert(s1.minWriter == 4, "enabling CDF must upgrade the writer protocol")
    assert(s1.configuration("delta.enableChangeDataFeed") == "true")
    DeltaWrite.append(spark, Seq((5L, "e", 50.0)).toDF("id", "v", "x"), root) // v2
    DeltaWrite.merge(spark, Seq((2L, "B", 21.0), (6L, "f", 60.0)).toDF("id", "v", "x"),
      root, Seq("id"))                                              // v3
    DeltaWrite.delete(spark, root, "id = 1")                        // v4

    // cdc-action shape: merge + delete carry them (dataChange=false,
    // paths under _change_data/); the pure append stays file-less
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def cdcActions(v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")), "UTF-8")
        .split("\n").toSeq.filter(_.contains("\"cdc\""))
        .map(l => mapper.readTree(l).get("cdc"))
    assert(cdcActions(2L).isEmpty, "a pure append must not write cdc files")
    Seq(3L, 4L).foreach { v =>
      val cs = cdcActions(v)
      assert(cs.nonEmpty, s"commit $v must carry cdc actions")
      cs.foreach { c =>
        assert(c.get("path").asText().startsWith("_change_data/"), c.toString)
        assert(!c.get("dataChange").asBoolean(true), "cdc actions are dataChange=false")
      }
    }
    // cdc files never replay into the table snapshot
    val head = DeltaRead.snapshot(spark, root)
    assert(head.files.keySet.forall(!_.startsWith("_change_data/")))
    assert(DeltaRead.read(spark, root).count() == 5L)

    val got = DeltaRead.readChanges(spark, root, 2L)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == Set(
      (5L, "e", "insert", 2L),
      (2L, "b", "update_preimage", 3L),
      (2L, "B", "update_postimage", 3L),
      (6L, "f", "insert", 3L),
      (1L, "a", "delete", 4L)), s"change set mismatch: $got")
    // derivation from add actions covers the pre-CDF history too; the
    // metaData-only commit contributes nothing
    val all = DeltaRead.readChanges(spark, root, 0L)
    assert(all.where($"_commit_version" === 0L && $"_change_type" === "insert")
      .count() == 4L)
    assert(all.where($"_commit_version" === 1L).count() == 0L)

    // overwrite: whole-file derivation — every LIVE row deletes (the
    // v4 DV masks id=1 out of the removed file's delete set), the new
    // rows insert; no cdc files written
    DeltaWrite.overwrite(spark, Seq((9L, "z", 90.0)).toDF("id", "v", "x"), root) // v5
    assert(cdcActions(5L).isEmpty)
    val ov = DeltaRead.readChanges(spark, root, 5L, Some(5L))
    assert(ov.where($"_change_type" === "delete").count() == 5L)
    assert(ov.where($"_change_type" === "delete" && $"id" === 1L).count() == 0L,
      "a DV-masked row is already dead — an overwrite must not report it deleted")
    assert(ov.where($"_change_type" === "insert").select($"id").head().getLong(0) == 9L)

    // custom mergeFn cannot attribute changes → refuses on CDF tables
    val e = intercept[UnsupportedOperationException] {
      DeltaWrite.merge(spark, Seq((9L, "y", 1.0)).toDF("id", "v", "x"), root,
        Seq("id"), mergeFn = (t, s) => s)
    }
    assert(e.getMessage.contains("change data feed"), e.getMessage)
    // RESTORE on a CDF table emits file-granular cdc: the retired v5
    // file's live row deletes, the re-instated v4 files' live rows
    // insert (5 rows: 2B,3,4,5,6 — the v4 DV keeps id=1 out)
    val rv = DeltaWrite.restore(spark, root, 4L) // v6
    assert(rv == 6L && cdcActions(6L).nonEmpty)
    val rch = DeltaRead.readChanges(spark, root, 6L)
    assert(rch.where($"_change_type" === "delete").select($"id")
      .as[Long].collect().toSeq == Seq(9L))
    assert(rch.where($"_change_type" === "insert").select($"id")
      .as[Long].collect().toSet == Set(2L, 3L, 4L, 5L, 6L))
    assert(DeltaRead.read(spark, root).count() == 5L)
  }

  test("CDF on a partitioned table: cdc actions carry partitionValues; span reads prune") {
    val root = tmp()
    val df = (0L until 20L).map(i => (i, if (i % 2 == 0) "even" else "odd", i * 1.0))
      .toDF("id", "grp", "x")
    DeltaWrite.append(spark, df, root, partitionBy = Seq("grp"))    // v0
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))                  // v1
    DeltaWrite.delete(spark, root, "id < 4")                        // v2: both partitions
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cdcs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"${2L}%020d.json")), "UTF-8")
      .split("\n").toSeq.filter(_.contains("\"cdc\"")).map(l => mapper.readTree(l).get("cdc"))
    assert(cdcs.map(_.get("partitionValues").get("grp").asText()).toSet ==
      Set("even", "odd"))
    val ch = DeltaRead.readChanges(spark, root, 2L)
    assert(ch.where($"_change_type" === "delete").select($"id")
      .as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
    assert(ch.select($"grp").distinct().as[String].collect().toSet == Set("even", "odd"))
  }

  test("RESTORE rewinds configuration drift even when files already match") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root)  // v0
    DeltaWrite.setProperties(spark, root, Map("graft.owner" -> "teamA")) // v1
    DeltaWrite.setProperties(spark, root, Map("graft.owner" -> "teamB")) // v2
    // files/DVs/schema all match v1 — only configuration drifted; the
    // restore must still commit a metaData-only rewind
    val rv = DeltaWrite.restore(spark, root, 1L)
    assert(rv == 3L, "config-only drift must produce a restore commit")
    assert(DeltaRead.snapshot(spark, root).configuration("graft.owner") == "teamA")
    // and an exact match stays a no-op
    assert(DeltaWrite.restore(spark, root, 1L) == 3L)
  }

  test("merge on a stats-unsupported key type degrades to full rewrite, not an error") {
    val root = tmp()
    val base = Seq((java.sql.Date.valueOf("2024-01-01"), "a"),
      (java.sql.Date.valueOf("2024-02-01"), "b")).toDF("d", "v")
    DeltaWrite.append(spark, base, root)
    val src = Seq((java.sql.Date.valueOf("2024-02-01"), "B"),
      (java.sql.Date.valueOf("2024-03-01"), "c")).toDF("d", "v")
    DeltaWrite.merge(spark, src, root, Seq("d")) // date key: no range pruning
    val got = DeltaRead.read(spark, root).as[(java.sql.Date, String)].collect()
      .map { case (d, v) => d.toString -> v }.toMap
    assert(got == Map("2024-01-01" -> "a", "2024-02-01" -> "B", "2024-03-01" -> "c"))
  }

  test("encodePath is the exact inverse of the reader's URI decode") {
    val names = Seq("part-00000-abc.snappy.parquet", "grp=a%3Ax/f.parquet",
      "dir name/with space.parquet", "uni-é中.parquet", "p=%25lit/f.parquet")
    names.foreach { n =>
      val enc = DeltaWrite.encodePath(n)
      assert(new java.net.URI(enc).getPath == n, s"round-trip failed for '$n' -> '$enc'")
    }
  }

  test("delta.checkpointInterval is honored: interval=3 auto-folds at v3, not at v10") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root)              // v0
    DeltaWrite.setProperties(spark, root, Map("delta.checkpointInterval" -> "3")) // v1
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), root)              // v2
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    assert(!logDir.list().exists(_.contains(".checkpoint")),
      "no fold before the configured interval")
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), root)              // v3 → fold
    assert(logDir.list().contains(f"${3L}%020d.checkpoint.parquet"),
      "interval=3 must fold at v3 (default 10 would not)")
    DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), root)              // v4
    DeltaWrite.append(spark, Seq((5L, "e")).toDF("id", "v"), root)              // v5
    assert(!logDir.list().exists(_.startsWith(f"${4L}%020d.checkpoint")) &&
      !logDir.list().exists(_.startsWith(f"${5L}%020d.checkpoint")))
    DeltaWrite.append(spark, Seq((6L, "f")).toDF("id", "v"), root)              // v6 → fold
    assert(logDir.list().contains(f"${6L}%020d.checkpoint.parquet"))
    // unparseable / non-positive values fall back to the default of 10
    assert(DeltaWrite.effectiveCheckpointInterval(Map(
      "delta.checkpointInterval" -> "nope")) == 10)
    assert(DeltaWrite.effectiveCheckpointInterval(Map(
      "delta.checkpointInterval" -> "0")) == 10)
    assert(DeltaWrite.effectiveCheckpointInterval(Map.empty) == 10)
  }

  test("v2 checkpoint policy: sidecar layout written, snapshot served from it alone") {
    val root = tmp()
    // one data file so the DELETE below soft-deletes via a DV instead of
    // dropping a whole single-row file
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root) // v0
    // setting the policy upgrades the protocol to carry v2Checkpoint
    DeltaWrite.setProperties(spark, root, Map("delta.checkpointPolicy" -> "v2")) // v1
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.minReader == 3 && snap.minWriter == 7)
    assert(snap.readerFeatures.contains("v2Checkpoint") &&
      snap.writerFeatures.contains("v2Checkpoint"))
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), root)              // v2
    DeltaWrite.delete(spark, root, "id = 2")                                    // v3: DV
    val cv = DeltaWrite.checkpoint(spark, root)
    assert(cv == 3L)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val names = logDir.list().toSeq
    val mainName = names.find(_.matches(
      f"$cv%020d\\.checkpoint\\.[0-9a-f]{8}-[0-9a-f-]{27}\\.parquet"))
    assert(mainName.isDefined, s"v2 UUID-named main checkpoint expected, got: $names")
    assert(!names.contains(f"$cv%020d.checkpoint.parquet"),
      "policy=v2 must not emit the classic form")
    val sidecars = new java.io.File(logDir, "_sidecars").list().toSeq
      .filterNot(_.startsWith(".")) // local-FS checksum shadows
    assert(sidecars.nonEmpty && sidecars.forall(_.matches(
      "[0-9a-f]{8}-[0-9a-f-]{27}\\.parquet")))
    // main file: non-file actions + checkpointMetadata + sidecar refs, NO file actions
    val mainDf = spark.read.parquet(new java.io.File(logDir, mainName.get).toString)
    assert(mainDf.columns.toSet ==
      Set("protocol", "metaData", "txn", "checkpointMetadata", "sidecar"),
      "a domain-less table's v2 main must NOT carry a domainMetadata column " +
        "(readers gate an extra collect on its presence)")
    assert(mainDf.where(col("checkpointMetadata.version") === cv).count() == 1,
      "exactly one checkpointMetadata action stamping the version")
    val referenced = mainDf.where(col("sidecar.path").isNotNull)
      .select("sidecar.path").collect().map(_.getString(0)).toSet
    assert(referenced.nonEmpty && referenced.subsetOf(sidecars.toSet))
    // every sidecar row is an add or remove, nothing else
    val sideDf = spark.read.parquet(referenced.map(n =>
      new java.io.File(new java.io.File(logDir, "_sidecars"), n).toString).toSeq: _*)
    assert(sideDf.columns.toSet == Set("add", "remove"))
    assert(sideDf.where(col("add.path").isNotNull).count() > 0)
    // the DV from v3's DELETE must survive the fold inside the sidecar add
    assert(sideDf.where(col("add.deletionVector.pathOrInlineDv").isNotNull).count() == 1)
    // _last_checkpoint points at the fold
    val ptr = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(logDir, "_last_checkpoint").toPath), "UTF-8")
    assert(ptr.contains("\"version\":3"))
    // JSON tail cleaned: state must be served from the v2 checkpoint alone
    names.filter(_.endsWith(".json")).foreach(n => new java.io.File(logDir, n).delete())
    val s2 = DeltaRead.snapshot(spark, root)
    assert(s2.version == 3L && s2.readerFeatures.contains("v2Checkpoint"))
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 3L -> "c"), "v2 checkpoint alone must serve the snapshot, DV applied")
    // post-checkpoint DML keeps working; the NEXT fold is v2 again (fold on top of v2)
    DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), root)              // v4
    val cv2 = DeltaWrite.checkpoint(spark, root)
    assert(cv2 == 4L)
    assert(logDir.list().exists(_.matches(
      f"$cv2%020d\\.checkpoint\\.[0-9a-f]{8}-[0-9a-f-]{27}\\.parquet")))
    logDir.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(logDir, n).delete())
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 3L -> "c", 4L -> "d"))
  }

  test("in-commit timestamps: enablement provenance, monotonic stamps, skew-proof travel") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root)    // v0
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableInCommitTimestamps" -> "true"))                            // v1
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.minWriter == 7 && snap.writerFeatures.contains("inCommitTimestamp"))
    assert(snap.minReader == 1, "ICT is writer-only — the reader version must not bump")
    assert(snap.configuration("delta.inCommitTimestampEnablementVersion") == "1")
    val enableTs =
      snap.configuration("delta.inCommitTimestampEnablementTimestamp").toLong
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    def commitJson(v: Long) = new java.io.File(logDir, f"$v%020d.json")
    def ictOf(v: Long): Long = {
      val first = new String(java.nio.file.Files.readAllBytes(
        commitJson(v).toPath), "UTF-8").split("\n").head
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(first)
      assert(n.has("commitInfo"), s"v$v: commitInfo must be the FIRST action, got $first")
      n.get("commitInfo").get("inCommitTimestamp").asLong()
    }
    assert(ictOf(1) == enableTs, "the enabling commit's stamp IS the provenance value")
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), root)                // v2
    DeltaWrite.delete(spark, root, "id = 1")                                      // v3
    assert(ictOf(2) > ictOf(1) && ictOf(3) > ictOf(2), "stamps strictly increase")
    // SKEW-PROOFING: hand-bump v3's stamp an hour into the future (a
    // writer with a fast clock); the next commit must land strictly
    // above it even though this machine's clock is behind
    val future = System.currentTimeMillis + 3600L * 1000
    val tampered = new String(java.nio.file.Files.readAllBytes(
      commitJson(3).toPath), "UTF-8")
      .replace(s""""inCommitTimestamp":${ictOf(3)}""",
        s""""inCommitTimestamp":$future""")
    java.nio.file.Files.write(commitJson(3).toPath, tampered.getBytes("UTF-8"))
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v"), root)                // v4
    assert(ictOf(4) == future + 1, "monotonicity wins over the wall clock")
    // timestamp time travel resolves by ICT, not file mtime: v3's file
    // mtime is NOW but its ICT is an hour ahead, so a query at v2's
    // stamp must land on v2
    assert(DeltaRead.versionAt(spark, root, ictOf(2)) == 2L)
    assert(DeltaRead.versionAt(spark, root, future - 1) == 2L,
      "between v2's and v3's stamps resolves to v2 — mtime would have said v3")
    assert(DeltaRead.versionAt(spark, root, future) == 3L)
    assert(DeltaRead.versionAt(spark, root, future + 1) == 4L)
    assert(DeltaRead.read(spark, root).count() == 2) // (2,b),(3,c) after the delete
  }

  test("expired-log cleanup: contiguous expired prefix below the newest checkpoint") {
    val root = tmp()
    for (i <- 0 until 6)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    assert(DeltaWrite.checkpoint(spark, root) == 5L) // default 30d retention → no-op sweep
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    assert((0 to 5).forall(v => new java.io.File(logDir, f"$v%020d.json").exists))
    // age v0..v2 past a 1-hour retention; v3 stays fresh
    val old = System.currentTimeMillis - 2L * 3600 * 1000
    (0 to 2).foreach(v =>
      assert(new java.io.File(logDir, f"$v%020d.json").setLastModified(old)))
    DeltaWrite.setProperties(spark, root,
      Map("delta.logRetentionDuration" -> "interval 1 hour")) // v6
    val del = DeltaWrite.cleanupExpiredLogs(spark, root)
    assert(del.filter(_.endsWith(".json")).toSet ==
      (0 to 2).map(v => f"$v%020d.json").toSet, del)
    // each expired commit's checksum sidecar goes with it
    assert(del.filter(_.endsWith(".crc")).toSet ==
      (0 to 2).map(v => f"$v%020d.crc").toSet, del)
    // state still replays from the checkpoint; the tail is intact
    assert(DeltaRead.read(spark, root).count() == 6)
    assert(!new java.io.File(logDir, f"${0L}%020d.json").exists)
    // CONTIGUITY: an expired commit past an unexpired one must survive
    // (deleting v4 with v3 alive would hole the log)
    assert(new java.io.File(logDir, f"${4L}%020d.json").setLastModified(old))
    assert(DeltaWrite.cleanupExpiredLogs(spark, root).isEmpty)
    // the kill switch wins even over expired entries
    (3 to 5).foreach(v =>
      new java.io.File(logDir, f"$v%020d.json").setLastModified(old))
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableExpiredLogCleanup" -> "false")) // v7
    assert(DeltaWrite.cleanupExpiredLogs(spark, root).isEmpty)
    // re-enabled: v3..v4 (below cp v5, expired) go; v5 itself is kept
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableExpiredLogCleanup" -> "true")) // v8
    val del2 = DeltaWrite.cleanupExpiredLogs(spark, root)
    assert(del2.filter(_.endsWith(".json")).toSet ==
      (3 to 4).map(v => f"$v%020d.json").toSet, del2)
    assert(new java.io.File(logDir, f"${5L}%020d.json").exists)
    assert(DeltaRead.read(spark, root).count() == 6)
  }

  test("expired-log cleanup deletes superseded checkpoints inside the prefix") {
    val root = tmp()
    for (i <- 0 until 4)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    assert(DeltaWrite.checkpoint(spark, root) == 3L)
    for (i <- 4 until 8)
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root)
    assert(DeltaWrite.checkpoint(spark, root) == 7L)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val old = System.currentTimeMillis - 2L * 3600 * 1000
    (0 to 6).foreach(v =>
      new java.io.File(logDir, f"$v%020d.json").setLastModified(old))
    DeltaWrite.setProperties(spark, root,
      Map("delta.logRetentionDuration" -> "interval 1 hour")) // v8
    val del = DeltaWrite.cleanupExpiredLogs(spark, root)
    assert(del.contains(f"${3L}%020d.checkpoint.parquet"), del)
    assert((0 to 6).forall(v => del.contains(f"$v%020d.json")), del)
    assert(new java.io.File(logDir, f"${7L}%020d.checkpoint.parquet").exists)
    assert(DeltaRead.read(spark, root).count() == 8)
    // retention parse surface
    assert(DeltaWrite.parseRetention("interval 30 days") == 30L * 24 * 3600 * 1000)
    assert(DeltaWrite.parseRetention("interval 1 week") == 7L * 24 * 3600 * 1000)
    assert(DeltaWrite.parseRetention("INTERVAL 2 HOURS") == 2L * 3600 * 1000)
    intercept[IllegalArgumentException] { DeltaWrite.parseRetention("interval 1 month") }
  }

  test("domain metadata: set/update/remove, checkpoint carry, foreign tables write") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root)      // v0
    // first set upgrades a legacy (1,2) protocol to v7 features form
    DeltaWrite.setDomainMetadata(spark, root, "graft.test", """{"k":1}""")          // v1
    val s1 = DeltaRead.snapshot(spark, root)
    assert(s1.minWriter == 7 && s1.writerFeatures.contains("domainMetadata"))
    assert(s1.minReader == 1, "domainMetadata is writer-only — reader version stays")
    assert(s1.domains == Map("graft.test" -> """{"k":1}"""))
    // update = another set (last action wins); second domain coexists
    DeltaWrite.setDomainMetadata(spark, root, "graft.test", """{"k":2}""")          // v2
    DeltaWrite.setDomainMetadata(spark, root, "other.domain", "cfg")                // v3
    assert(DeltaRead.snapshot(spark, root).domains ==
      Map("graft.test" -> """{"k":2}""", "other.domain" -> "cfg"))
    // ordinary writes keep working under the feature
    DeltaWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), root)                  // v4
    DeltaWrite.delete(spark, root, "id = 1")                                        // v5
    // removal tombstones: the domain disappears from replay
    DeltaWrite.removeDomainMetadata(spark, root, "other.domain")                    // v6
    assert(DeltaRead.snapshot(spark, root).domains == Map("graft.test" -> """{"k":2}"""))
    assert(DeltaWrite.removeDomainMetadata(spark, root, "other.domain") == 6L,
      "removing a non-live domain is a no-op at the current version")
    // CHECKPOINT CARRY: fold, clean the JSON tail, replay from parquet
    assert(DeltaWrite.checkpoint(spark, root) == 6L)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    logDir.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(logDir, n).delete())
    val s1b = DeltaRead.snapshot(spark, root)
    assert(s1b.domains == Map("graft.test" -> """{"k":2}"""),
      "live domains must survive the fold; the removed one must not resurrect")
    assert(DeltaRead.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // post-fold: set again (carry through an incremental re-fold too)
    DeltaWrite.setDomainMetadata(spark, root, "third", "t")                         // v7
    assert(DeltaWrite.checkpoint(spark, root) == 7L)
    logDir.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(logDir, n).delete())
    assert(DeltaRead.snapshot(spark, root).domains ==
      Map("graft.test" -> """{"k":2}""", "third" -> "t"))

    // FOREIGN-TABLE shape: a hand-written log already carrying the
    // feature + an action — graft reads the domain and WRITES into the
    // table (the feature previously refused all writes)
    val root2 = tmp()
    val log2 = new java.io.File(root2.stripPrefix("file:"), "_delta_log")
    log2.mkdirs()
    java.nio.file.Files.write(new java.io.File(log2, f"${0L}%020d.json").toPath,
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata"]}}""" + "\n" +
        """{"metaData":{"id":"dm-t","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{}}}""" + "\n" +
        """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"c\":[\"id\"]}","removed":false}}""" + "\n").getBytes("UTF-8"))
    assert(DeltaRead.snapshot(spark, root2).domains ==
      Map("delta.clustering" -> """{"c":["id"]}"""))
    DeltaWrite.append(spark, Seq(Tuple1(5L)).toDF("id"), root2)                     // v1
    assert(DeltaRead.read(spark, root2).collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(DeltaRead.snapshot(spark, root2).domains.contains("delta.clustering"),
      "an ordinary write must not disturb existing domains")

    // V2-policy table: the v2 MAIN file carries the domain rows
    val root3 = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), root3)     // v0
    DeltaWrite.setProperties(spark, root3, Map("delta.checkpointPolicy" -> "v2"))   // v1
    DeltaWrite.setDomainMetadata(spark, root3, "v2.domain", "x")                    // v2
    assert(DeltaWrite.checkpoint(spark, root3) == 2L)
    val log3 = new java.io.File(root3.stripPrefix("file:"), "_delta_log")
    log3.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(log3, n).delete())
    assert(DeltaRead.snapshot(spark, root3).domains == Map("v2.domain" -> "x"))
  }

  test("liquid-clustered tables: writes proceed and OPTIMIZE honors the clustering domain") {
    val root = tmp()
    // interleaved id/y so the initial files are NOT id-clustered
    val df = spark.range(400L).select(
      ((col("id") * 137) % 400).as("k"), col("id").as("y"))
    DeltaWrite.append(spark, df.repartition(8), root)                              // v0
    // the delta-spark liquid-clustering shape: writer features
    // clustering + domainMetadata, columns in the delta.clustering domain
    DeltaWrite.setDomainMetadata(spark, root, "delta.clustering",
      """{"clusteringColumns":[["k"]]}""")                                         // v1
    // hand-add the clustering writer feature (graft's own API has no
    // reason to mint it; a delta-spark table arrives with it)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val v1 = new java.io.File(logDir, f"${1L}%020d.json")
    val content = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    java.nio.file.Files.write(v1.toPath, content.replace(
      "\"domainMetadata\",", "\"clustering\",\"domainMetadata\",").getBytes("UTF-8"))
    new java.io.File(logDir, f".${1L}%020d.json.crc").delete() // local-FS shadow
    new java.io.File(logDir, f"${1L}%020d.crc").delete() // now-stale checksum sidecar
    assert(DeltaRead.snapshot(spark, root).writerFeatures.contains("clustering"))
    // ordinary writes into the clustered table proceed (feature allowed)
    DeltaWrite.append(spark, Seq((500L, 500L)).toDF("k", "y"), root)               // v2
    assert(DeltaWrite.clusteringColumnsOf(DeltaRead.snapshot(spark, root)) == Seq("k"))
    // OPTIMIZE with NO explicit zorder columns clusters by the domain's
    val v = DeltaWrite.compact(spark, root, targetFiles = 4, zorderFiles = 4)      // v3
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.version == v && snap.files.size == 4)
    // k-ranges across the rewritten files must be pairwise disjoint
    // (single-column Z-order = range clustering) — the before-state was
    // round-robin, where every file spans nearly the whole k domain
    val ranges = snap.files.keySet.toSeq.map { f =>
      val st = new com.fasterxml.jackson.databind.ObjectMapper().readTree(snap.stats(f))
      (st.path("minValues").path("k").asLong(), st.path("maxValues").path("k").asLong())
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 < b._1, s"k-ranges overlap after clustered OPTIMIZE: $ranges")
    }
    assert(DeltaRead.read(spark, root).count() == 401)
    // IDEMPOTENCE: a maintenance re-run with nothing committed since
    // is a no-op (the OPTIMIZE commit marked its own version), not a
    // full-table rewrite every cycle
    assert(DeltaWrite.compact(spark, root, targetFiles = 4, zorderFiles = 4) == v)
    // new data re-arms the implicit clustering — INCREMENTALLY (round
    // 17, ADVICE r16): only files added since the marker rewrite;
    // with small-file re-selection disabled the 4 already-clustered
    // files carry untouched (the pure path-membership pin)
    val clusteredFiles = DeltaRead.snapshot(spark, root).files.keySet
    DeltaWrite.append(spark, Seq((600L, 600L)).toDF("k", "y"), root)               // v4
    val v2 = DeltaWrite.compact(spark, root, targetFiles = 4, zorderFiles = 4,
      clusterSmallFileBytes = 0L)                                                  // v5
    val snapV2 = DeltaRead.snapshot(spark, root)
    assert(v2 > v)
    assert(clusteredFiles.subsetOf(snapV2.files.keySet),
      "already-clustered files must NOT rewrite on an incremental cycle")
    assert((snapV2.files.keySet -- clusteredFiles).nonEmpty,
      "the new data must land in fresh clustered file(s)")
    assert(DeltaRead.read(spark, root).count() == 402)
    // the DEFAULT threshold re-selects small clustered files when new
    // data arrives, so periodic small appends cannot grow the file
    // count without bound (delta-spark's minFileSize shape): all of
    // snapV2's tiny files consolidate with the new row into ≤4 files
    DeltaWrite.append(spark, Seq((601L, 601L)).toDF("k", "y"), root)               // v6
    val vCons = DeltaWrite.compact(spark, root, targetFiles = 4, zorderFiles = 4)  // v7
    val snapCons = DeltaRead.snapshot(spark, root)
    assert(vCons > v2 && snapCons.files.size <= 4,
      s"small clustered files must consolidate: ${snapCons.files.size}")
    assert(DeltaRead.read(spark, root).count() == 403)
    // a DV-only commit between cycles leaves nothing new to cluster:
    // the maintenance call no-ops instead of rewriting
    DeltaWrite.delete(spark, root, "y = 600")                                      // v8
    assert(DeltaWrite.compact(spark, root, targetFiles = 4, zorderFiles = 4) ==
      DeltaRead.snapshot(spark, root).version,
      "nothing new since the marker — the cycle must be a no-op")
    assert(DeltaRead.read(spark, root).count() == 402)
    // the domain survives the OPTIMIZE commits and the next fold
    val headV = DeltaRead.snapshot(spark, root).version
    assert(DeltaWrite.checkpoint(spark, root) == headV)
    logDir.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(logDir, n).delete())
    assert(DeltaWrite.clusteringColumnsOf(DeltaRead.snapshot(spark, root)) == Seq("k"))
    // a domain naming a NESTED or unknown column must not crash
    // OPTIMIZE — it is skipped and the compact proceeds plain
    DeltaWrite.setDomainMetadata(spark, root, "delta.clustering",
      """{"clusteringColumns":[["s","inner"],["ghost"]]}""")
    assert(DeltaWrite.clusteringColumnsOf(DeltaRead.snapshot(spark, root)).isEmpty)
    val v3 = DeltaWrite.compact(spark, root, targetFiles = 2)
    assert(DeltaRead.snapshot(spark, root).version == v3)
    assert(DeltaRead.read(spark, root).count() == 402)
  }

  test("version-checksum sidecars: every commit writes <v>.crc; a mismatched crc refuses the read") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root) // v0
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("id", "v").coalesce(1), root)            // v1
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    def crcNode(v: Long) = {
      val f = new java.io.File(logDir, f"$v%020d.crc")
      assert(f.exists, s"expected checksum sidecar for v$v")
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
    val snap1 = DeltaRead.snapshot(spark, root)
    val n1 = crcNode(1)
    assert(n1.get("numFiles").asLong == 2 && snap1.files.size == 2)
    assert(n1.get("tableSizeBytes").asLong == snap1.sizes.values.sum)
    assert(n1.get("numMetadata").asLong == 1 && n1.get("numProtocol").asLong == 1)
    assert(n1.get("metadata").get("schemaString").asText.contains("\"id\""))
    assert(n1.get("protocol").get("minReaderVersion").asInt == 1)
    assert(crcNode(0).get("numFiles").asLong == 1)
    // metadata-only and DML commits keep the running aggregates right
    DeltaWrite.overwrite(spark, Seq((9L, "z")).toDF("id", "v").coalesce(1), root)         // v2
    val snap2 = DeltaRead.snapshot(spark, root)
    assert(crcNode(2).get("numFiles").asLong == 1)
    assert(crcNode(2).get("tableSizeBytes").asLong == snap2.sizes.values.sum)
    DeltaWrite.setProperties(spark, root, Map("graft.test.k" -> "x"))                     // v3
    assert(crcNode(3).get("numFiles").asLong == 1)
    // a DV delete keeps the file (and its bytes) in the aggregates
    DeltaWrite.append(spark, Seq((10L, "y"), (11L, "w")).toDF("id", "v").coalesce(1), root) // v4
    DeltaWrite.delete(spark, root, "id = 10")                                             // v5 (DV)
    assert(crcNode(5).get("numFiles").asLong == 2)
    assert(DeltaRead.snapshot(spark, root).version == 5L) // validation passes en route
    // the optional state lists land when present: a txn mark and a
    // live domain appear in the next commit's checksum
    import scala.jdk.CollectionConverters._
    DeltaWrite.appendStream(spark, Seq((12L, "s")).toDF("id", "v").coalesce(1), root,
      "crc-app", 1L)                                                                // v6
    DeltaWrite.setDomainMetadata(spark, root, "crc.dom", "c")                       // v7
    val n7 = crcNode(7)
    assert(n7.path("setTransactions").elements().asScala
      .exists(t => t.path("appId").asText == "crc-app" && t.path("version").asLong == 1L))
    assert(n7.path("domainMetadata").elements().asScala
      .exists(d => d.path("domain").asText == "crc.dom"))
    // CORRUPTION: a crc that disagrees with the replayed state refuses
    val headFiles = n7.path("numFiles").asLong
    assert(headFiles == 3L, s"fixture: 3 live files expected at v7, got $headFiles")
    val crc7 = new java.io.File(logDir, f"${7L}%020d.crc")
    val txt = new String(java.nio.file.Files.readAllBytes(crc7.toPath), "UTF-8")
    java.nio.file.Files.write(crc7.toPath,
      txt.replace("\"numFiles\":3", "\"numFiles\":9").getBytes("UTF-8"))
    new java.io.File(logDir, f".${7L}%020d.crc.crc").delete() // local-FS checksum shadow
    val e = intercept[IllegalStateException] { DeltaRead.snapshot(spark, root) }
    assert(e.getMessage.contains("checksum validation"), e.getMessage)
    // earlier versions (their crc untouched) still travel fine
    assert(DeltaRead.snapshot(spark, root, Some(4L)).files.size == 2)
  }

  test("version-checksum sidecars: each of 10 consecutive appends writes exactly one <v>.crc") {
    val root = tmp()
    (1 to 10).foreach(i =>
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root))
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val crcs = logDir.list().filter(_.matches("""\d{20}\.crc""")).sorted.toSeq
    assert(crcs == (0 until 10).map(v => f"$v%020d.crc"), "every commit publish writes its checksum")
    val snap = DeltaRead.snapshot(spark, root) // validates the head crc en route
    assert(snap.version == 9L && snap.files.size == 10)
    val head = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new String(
      java.nio.file.Files.readAllBytes(new java.io.File(logDir, crcs.last).toPath), "UTF-8"))
    assert(head.get("numFiles").asLong == 10L)
  }

  test("row ids stay dense (0..n-1) across two auto-checkpoints") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((0L, "seed")).toDF("id", "v").coalesce(1), root)  // v0
    DeltaWrite.setProperties(spark, root, Map("delta.enableRowTracking" -> "true")) // v1
    (1 to 21).foreach(i =>                                                          // v2..v22
      DeltaWrite.append(spark, Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), root))
    val log = new java.io.File(root.stripPrefix("file:"), "_delta_log").list().toSet
    assert(Seq(10L, 20L).forall(v => log(f"$v%020d.checkpoint.parquet")),
      "the appends must cross two auto-checkpoints")
    val s = DeltaRead.snapshot(spark, root)
    assert(s.files.size == 22 && s.rowIds.size == 22)
    val ids = DeltaRead.readWithRowIds(spark, root).select("_row_id").as[Long].collect().sorted
    assert(ids.toSeq == (0L to 21L), s"ids must be the dense range: ${ids.take(5).toSeq}…")
  }

  /** Drive a table through every commit kind graft writes, reading the
    * snapshot after each commit so the cached snapshot advances one
    * commit at a time; returns those cached snapshots.
    */
  private def driveEveryCommitKind(root: String,
                                   props: Map[String, String]): Seq[DeltaRead.Snapshot] = {
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).selectExpr("id", "CAST(id % 5 AS STRING) AS v").coalesce(1)
    val seen = Seq.newBuilder[DeltaRead.Snapshot]
    def step(commit: => Long): Unit = { commit; seen += DeltaRead.snapshot(spark, root) }
    step(DeltaWrite.append(spark, rows(0, 40), root))
    step(DeltaWrite.setProperties(spark, root, props ++ Map(
      "delta.enableChangeDataFeed" -> "true", "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true", "delta.enableInCommitTimestamps" -> "true")))
    step(DeltaWrite.append(spark, rows(40, 60), root))
    step(DeltaWrite.delete(spark, root, "id % 7 = 3"))
    step(DeltaWrite.update(spark, root, "id % 7 = 5", Map("v" -> "'u'")))
    step(DeltaWrite.merge(spark, rows(55, 70).withColumn("v", lit("m")), root, Seq("id")))
    step(DeltaWrite.purgeDvs(spark, root, 0.01))
    step(DeltaWrite.delete(spark, root, "id % 11 = 0"))
    step(DeltaWrite.appendStream(spark, rows(70, 75), root, "replay-app", 1L))
    step(DeltaWrite.setDomainMetadata(spark, root, "test.domain", """{"k":1}"""))
    step(DeltaWrite.removeDomainMetadata(spark, root, "test.domain"))
    step(DeltaWrite.append(spark, rows(75, 80).withColumn("w", lit(1)), root,
      mergeSchema = true))
    step(DeltaWrite.compact(spark, root))
    step(DeltaWrite.restore(spark, root, 5L))
    seen.result()
  }

  test("cached advance, cold replay and every checkpoint form agree") {
    def cold(root: String, version: Option[Long] = None): DeltaRead.Snapshot = {
      DeltaRead.invalidateSnapshotCache()
      DeltaRead.snapshot(spark, root, version)
    }
    def logNames(root: String): Seq[String] =
      new java.io.File(root.stripPrefix("file:"), "_delta_log").list().toSeq
    // (policy, checkpoint part counts to fold a copy of the table with)
    Seq(Map.empty[String, String] -> Seq(0, 2),
        Map("delta.checkpointPolicy" -> "v2") -> Seq(0)).foreach { case (policy, forms) =>
      val root = tmp()
      val seen = driveEveryCommitKind(root, policy)
      val head = seen.last
      assert(head.version > 10L && head.version % 10L != 0L,
        s"the drive must cross the v10 auto-checkpoint and end unfolded: v${head.version}")
      seen.foreach(s => assert(cold(root, Some(s.version)) == s, s"cached v${s.version}"))
      assert(cold(root) == head)
      forms.foreach { parts =>
        val copy = tmp()
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(root.stripPrefix("file:")), new java.io.File(copy.stripPrefix("file:")))
        assert(DeltaWrite.checkpoint(spark, copy, parts) == head.version)
        val folded = logNames(copy).filter(_.startsWith(f"${head.version}%020d.checkpoint"))
        if (parts == 2) assert(folded.size == 2, folded)
        if (policy.nonEmpty) assert(folded.exists(_.matches(""".*checkpoint\.[0-9a-f-]{36}\.parquet""")),
          folded)
        assert(cold(copy) == head, s"policy $policy, parts $parts")
      }
    }
  }

  // --- nested column-mapped schema changes (round 16) ---------------

  private def mkMappedTable(root: String, s: org.apache.spark.sql.types.StructType,
                            mapMode: String, maxId: Long): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def jstr(x: String) = mapper.writeValueAsString(x)
    val lines = Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm-w-table","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(s.json)},"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":${jstr(mapMode)},""" +
        s""""delta.columnMapping.maxColumnId":${jstr(maxId.toString)}}}}""")
    val p = java.nio.file.Paths.get(root.stripPrefix("file:"),
      "_delta_log", f"${0L}%020d.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def nestedMappedRoundTrip(mapMode: String): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def mf(n: String, dt: DataType, id: Long, phys: String) =
      StructField(n, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val idKey = "delta.columnMapping.id"
    val physKey = "delta.columnMapping.physicalName"
    val root = tmp()
    mkMappedTable(root, StructType(Seq(
      mf("id", LongType, 1, "col-a"),
      mf("s", StructType(Seq(
        mf("x", LongType, 3, "col-x"), mf("y", StringType, 4, "col-y"))), 2, "col-s"))),
      mapMode, maxId = 9)
    val logical = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))
    DeltaWrite.append(spark, spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Row(10L, "ten")), Row(2L, Row(20L, "twenty"))), logical), root)    // v1
    // FULL OVERWRITE with an evolved nested schema: survivors keep
    // their bindings, the new inner field and the new top-level
    // column mint fresh ids above the configured high-water mark
    val logical2 = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType),
        StructField("w", LongType)))),
      StructField("extra", StringType)))
    DeltaWrite.overwrite(spark, spark.createDataFrame(java.util.Arrays.asList(
      Row(3L, Row(30L, "thirty", 300L), "e3")), logical2), root)                 // v2
    val snap = DeltaRead.snapshot(spark, root)
    val sF = snap.schema("s")
    assert(sF.metadata.getLong(idKey) == 2 && sF.metadata.getString(physKey) == "col-s")
    val inner = sF.dataType.asInstanceOf[StructType]
    assert(inner("x").metadata.getLong(idKey) == 3 &&
      inner("x").metadata.getString(physKey) == "col-x")
    assert(inner("y").metadata.getLong(idKey) == 4 &&
      inner("y").metadata.getString(physKey) == "col-y")
    val wId = inner("w").metadata.getLong(idKey)
    val extraId = snap.schema("extra").metadata.getLong(idKey)
    assert(wId > 9 && extraId > 9 && wId != extraId,
      s"minted ids must be fresh above maxColumnId=9: w=$wId extra=$extraId")
    assert(inner("w").metadata.getString(physKey).startsWith("col-"))
    val maxId1 = snap.configuration("delta.columnMapping.maxColumnId").toLong
    assert(maxId1 == math.max(wId, extraId), "maxColumnId bumps to the newest minted id")
    assert(DeltaRead.read(spark, root)
      .select(col("id"), col("s.w"), col("extra")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((3L, 300L, "e3")))
    // the overwritten file is PHYSICAL at every level
    val file = DeltaRead.snapshot(spark, root).files.keySet.head
    val raw = spark.read.parquet(new java.io.File(
      root.stripPrefix("file:"), file).toString).schema
    assert(raw.fieldNames.forall(_.startsWith("col-")), raw)
    assert(raw.fields.find(_.name == "col-s").get.dataType.asInstanceOf[StructType]
      .fieldNames.forall(_.startsWith("col-")), raw)
    // mergeSchema EVOLUTION minting a whole NEW nested column
    val logical3 = StructType(logical2.fields :+ StructField("n", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))))
    DeltaWrite.append(spark, spark.createDataFrame(java.util.Arrays.asList(
      Row(4L, Row(40L, "forty", 400L), "e4", Row(1000L, "bee"))), logical3),
      root, mergeSchema = true)                                                  // v3
    val snap2 = DeltaRead.snapshot(spark, root)
    val nF = snap2.schema("n")
    val nInner = nF.dataType.asInstanceOf[StructType]
    val mintedIds = Seq(nF.metadata.getLong(idKey),
      nInner("a").metadata.getLong(idKey), nInner("b").metadata.getLong(idKey))
    assert(mintedIds.forall(_ > maxId1) && mintedIds.distinct.size == 3,
      s"evolution mints fresh distinct ids at every level: $mintedIds")
    assert(Seq(nF, nInner("a"), nInner("b")).forall(
      _.metadata.getString(physKey).startsWith("col-")))
    val maxId2 = snap2.configuration("delta.columnMapping.maxColumnId").toLong
    assert(maxId2 == mintedIds.max && maxId2 > maxId1, "maxColumnId stays monotone")
    // old rows read the new nested column as null; the new row carries it
    val got = DeltaRead.read(spark, root)
      .select(col("id"), col("n.a"), col("n.b")).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(got == Seq((3L, -1L), (4L, 1000L)))
    // post-change DML stays green
    DeltaWrite.delete(spark, root, "id = 3")                                     // v4
    assert(DeltaRead.read(spark, root).select(col("id"), col("s.w"), col("n.b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((4L, 400L, "bee")))
    DeltaWrite.append(spark, spark.createDataFrame(java.util.Arrays.asList(
      Row(5L, Row(50L, "fifty", 500L), "e5", Row(2000L, "cee"))), logical3), root) // v5
    assert(DeltaRead.read(spark, root).select(col("id")).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(4L, 5L))
  }

  test("nested mapped table (name mode): full overwrite + mergeSchema evolution reconcile and mint") {
    nestedMappedRoundTrip("name")
  }

  test("nested mapped table (id mode): full overwrite + mergeSchema evolution reconcile and mint") {
    nestedMappedRoundTrip("id")
  }

  test("expired-log cleanup keeps sidecars a RETAINED v2 checkpoint still references") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root) // v0
    DeltaWrite.setProperties(spark, root, Map("delta.checkpointPolicy" -> "v2"))          // v1
    assert(DeltaWrite.checkpoint(spark, root) == 1L) // main1 + sidecar S1
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val sideDir = new java.io.File(logDir, "_sidecars")
    def mainAt(v: Long): String = logDir.list().find(_.matches(
      f"$v%020d\\.checkpoint\\.[0-9a-f]{8}-[0-9a-f-]{27}\\.parquet")).get
    def refsOf(main: String): Seq[String] =
      spark.read.parquet(new java.io.File(logDir, main).toString)
        .select("sidecar.path").where(col("sidecar.path").isNotNull)
        .collect().map(_.getString(0)).toSeq
    val main1 = mainAt(1L)
    val s1 = refsOf(main1)
    assert(s1.size == 1, s"fixture expects one sidecar at this scale, got $s1")
    // two metadata-only commits (file set unchanged), then a second fold
    DeltaWrite.setProperties(spark, root, Map("graft.test.k1" -> "x"))                    // v2
    DeltaWrite.setProperties(spark, root, Map("graft.test.k2" -> "y"))                    // v3
    assert(DeltaWrite.checkpoint(spark, root) == 3L) // main2 + sidecar S2
    val main2 = mainAt(3L)
    // simulate INCREMENTAL checkpointing (spec-legal, delta-spark does
    // it): rewrite main2's sidecar refs to point at S1 — the newer
    // checkpoint reuses the older one's sidecar file
    val m2 = spark.read.parquet(new java.io.File(logDir, main2).toString)
    val patched = m2.withColumn("sidecar",
      when(col("sidecar").isNotNull,
        struct(lit(s1.head).as("path"),
          lit(new java.io.File(sideDir, s1.head).length).as("sizeInBytes"),
          col("sidecar.modificationTime").as("modificationTime"),
          col("sidecar.tags").as("tags")))
        .otherwise(lit(null).cast(m2.schema("sidecar").dataType)))
    val patchDir = java.nio.file.Files.createTempDirectory("graft_m2patch").toFile
    patched.coalesce(1).write.mode("overwrite").parquet(patchDir.toString)
    val part = patchDir.listFiles().find(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val main2File = new java.io.File(logDir, main2)
    assert(main2File.delete())
    new java.io.File(logDir, s".$main2.crc").delete() // stale local-FS checksum shadow
    java.nio.file.Files.move(part.toPath, main2File.toPath)
    assert(refsOf(main2) == Seq(s1.head), "fixture: main2 now shares S1")
    // expire the prefix below the newest checkpoint and sweep
    val old = System.currentTimeMillis - 2L * 3600 * 1000
    (0 to 2).foreach(v =>
      assert(new java.io.File(logDir, f"$v%020d.json").setLastModified(old)))
    DeltaWrite.setProperties(spark, root,
      Map("delta.logRetentionDuration" -> "interval 1 hour"))                             // v4
    val del = DeltaWrite.cleanupExpiredLogs(spark, root)
    assert(del.contains(main1), s"expired main1 must go: $del")
    assert(!del.contains(s"_sidecars/${s1.head}"),
      s"S1 is referenced by the RETAINED v3 checkpoint — deleting it corrupts the table: $del")
    assert(new java.io.File(sideDir, s1.head).exists)
    // the table still replays from main2 via the shared sidecar
    assert(DeltaRead.read(spark, root).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 2L -> "b"))
  }

  test("v2 checkpoint policy without the v2Checkpoint feature refuses loudly") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a")).toDF("id", "v"), root)
    // hand-write a spec-invalid config: policy=v2 on a legacy (1,2) protocol
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val v0 = new java.io.File(logDir, f"${0L}%020d.json")
    val content = new String(java.nio.file.Files.readAllBytes(v0.toPath), "UTF-8")
    val tampered = content.replace("\"configuration\":{}",
      "\"configuration\":{\"delta.checkpointPolicy\":\"v2\"}")
    assert(tampered != content, "fixture: expected an empty configuration to patch")
    java.nio.file.Files.write(v0.toPath, tampered.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.checkpoint(spark, root)
    }
    assert(e.getMessage.contains("v2Checkpoint"))
  }

  /** Row-id coverage must be sound: ranges per live file disjoint,
    * every live file stamped, hwm ≥ every assigned id.
    */
  private def assertRowIdInvariants(root: String): DeltaRead.Snapshot = {
    val s = DeltaRead.snapshot(spark, root)
    assert(s.files.keySet == s.rowIds.keySet,
      s"every live file must carry a baseRowId: ${s.files.keySet} vs ${s.rowIds.keySet}")
    val hwm = {
      val cfg = s.domains("delta.rowTracking")
      val m = """"rowIdHighWaterMark"\s*:\s*(-?\d+)""".r
      m.findFirstMatchIn(cfg).map(_.group(1).toLong).getOrElse(
        fail(s"unparseable rowTracking domain: $cfg"))
    }
    val ranges = s.rowIds.toSeq.map { case (rel, (brid, _)) =>
      val nr = s.stats.get(rel).flatMap(DeltaRead.parseAddStats).map(_.rows)
        .getOrElse(fail(s"no numRecords for $rel"))
      (rel, brid, brid + nr - 1)
    }.sortBy(_._2)
    ranges.sliding(2).foreach {
      case Seq((a, _, aEnd), (b, bStart, _)) =>
        assert(aEnd < bStart, s"row-id ranges overlap: $a ends $aEnd, $b starts $bStart")
      case _ => ()
    }
    ranges.lastOption.foreach { case (_, _, end) =>
      assert(hwm >= end, s"hwm $hwm below assigned id $end") }
    s
  }

  test("row tracking: enable backfills, appends/merge stamp, DV delete carries, checkpoint folds") {
    val root = tmp()
    val base = spark.range(100L).select(col("id"), (col("id") % 10).as("k"))
    DeltaWrite.append(spark, base.repartition(3), root)                             // v0
    // ENABLE on a table with live unstamped files: the enabling commit
    // backfills every live file (dataChange=false re-adds) and mints
    // the hwm domain; protocol gains rowTracking + domainMetadata
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableRowTracking" -> "true"))                                     // v1
    val s1 = assertRowIdInvariants(root)
    assert(s1.minWriter == 7 && s1.writerFeatures.contains("rowTracking") &&
      s1.writerFeatures.contains("domainMetadata"))
    assert(s1.minReader < 3, "rowTracking is writer-side only")
    val idsV1 = s1.rowIds
    // APPEND: fresh range past the hwm, defaultRowCommitVersion = v2
    DeltaWrite.append(spark, spark.range(100L, 130L)
      .select(col("id"), (col("id") % 10).as("k")).coalesce(1), root)               // v2
    val s2 = assertRowIdInvariants(root)
    val newFiles = s2.rowIds.keySet -- idsV1.keySet
    assert(newFiles.nonEmpty)
    newFiles.foreach { rel =>
      assert(s2.rowIds(rel)._2 == 2L, s"defaultRowCommitVersion must be the commit: ${s2.rowIds(rel)}")
    }
    idsV1.foreach { case (rel, ids) =>
      assert(s2.rowIds(rel) == ids, s"carried file $rel must keep its ids") }
    // DV DELETE: the re-add of the same physical file KEEPS its ids
    // (rows unmoved; only the mask changed)
    DeltaWrite.delete(spark, root, "id % 7 = 3")                                    // v3
    val s3 = assertRowIdInvariants(root)
    s3.rowIds.foreach { case (rel, ids) =>
      assert(s2.rowIds(rel) == ids, s"DV delete must not move $rel's row ids") }
    // MERGE: touched files rewrite with FRESH ids (documented
    // divergence), untouched carry; invariants hold throughout
    val src = spark.range(50L, 60L).select(col("id"), lit(99L).as("k"))
    DeltaWrite.merge(spark, src, root, Seq("id"))                                   // v4
    val s4 = assertRowIdInvariants(root)
    assert(DeltaRead.read(spark, root).where(col("k") === 99L).count() == 10L)
    // CHECKPOINT CARRY: fold, clean the JSON tail, replay from parquet
    assert(DeltaWrite.checkpoint(spark, root) == 4L)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    logDir.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(logDir, n).delete())
    val s5 = assertRowIdInvariants(root)
    assert(s5.rowIds == s4.rowIds, "row ids must survive the checkpoint fold")
    // post-fold append still allocates past the folded hwm
    DeltaWrite.append(spark, spark.range(200L, 210L)
      .select(col("id"), (col("id") % 10).as("k")).coalesce(1), root)               // v5
    assertRowIdInvariants(root)
    // ROW-ID READ surface: ids are unique, and a DV delete does not
    // move the surviving rows' ids (physical positions unchanged)
    val before = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(before.values.toSeq.distinct.size == before.size, "row ids must be unique")
    DeltaWrite.delete(spark, root, "id % 9 = 2")                                    // v6
    val after = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(after.keySet == before.keySet.filterNot(_ % 9 == 2))
    after.foreach { case (id, rid) =>
      assert(before(id) == rid, s"row id of surviving row $id moved: ${before(id)} -> $rid") }
  }

  test("row tracking: readWithRowIds coalesces materialized ids; refuses id-less tables") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(5L).toDF("id").coalesce(1), root)          // v0
    val e0 = intercept[IllegalArgumentException] {
      DeltaRead.readWithRowIds(spark, root) }
    assert(e0.getMessage.contains("rowTracking"))
    // enable + declare a materialized column (delta-spark's stable-id
    // shape); the backfilled file has no such parquet column → its
    // rows coalesce to the FRESH formula
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))               // v1
    val freshOnly = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(freshOnly.values.toSeq.sorted == (0L until 5L), freshOnly)
    // hand-add a PRESERVING writer's file: the parquet carries the
    // hidden _mat_rid column (ids 100..102) while the add's baseRowId
    // says 1000 — materialized values must win per the protocol
    val stage = java.nio.file.Files.createTempDirectory("graft_mat").toString
    spark.range(10L, 13L).select(col("id"),
        (col("id") + 90L).as("_mat_rid")).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dataName = "mat-preserved.parquet"
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(root.stripPrefix("file:"), dataName).toPath)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    java.nio.file.Files.write(new java.io.File(logDir, f"${2L}%020d.json").toPath,
      (s"""{"add":{"path":"$dataName","partitionValues":{},"size":${part.length},""" +
        """"modificationTime":0,"dataChange":true,""" +
        """"stats":"{\"numRecords\":3}","baseRowId":1000,"defaultRowCommitVersion":2}}""" +
        "\n").getBytes("UTF-8"))
    new java.io.File(logDir, f"${2L}%020d.crc").delete()
    val ids = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert((10L until 13L).map(ids) == Seq(100L, 101L, 102L),
      s"materialized ids must win over baseRowId+index: $ids")
    assert((0L until 5L).map(ids).sorted == (0L until 5L), s"fresh rows unchanged: $ids")
    // the hidden column never leaks into the plain read
    assert(!DeltaRead.read(spark, root).columns.contains("_mat_rid"))
    // the SQL face routes to the same read
    val viaSql = spark.sql(s"GRAFT_READ('$root', WITH ROW IDS)")
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(viaSql == ids, s"SQL row-id read must match the API: $viaSql")
    // OPTIMIZE PRESERVES: the declared materialized column makes the
    // rewrite carry every row's CURRENT id into the new file(s) —
    // materialized 100..102 and fresh 0..4 alike survive the rewrite
    DeltaWrite.compact(spark, root, targetFiles = 1)
    val idsOpt = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(idsOpt == ids, s"OPTIMIZE must preserve declared row ids: $idsOpt vs $ids")
    assert(DeltaRead.snapshot(spark, root).files.size == 1)
    assert(!DeltaRead.read(spark, root).columns.contains("_mat_rid"))
  }

  test("row tracking: MERGE and UPDATE preserve declared materialized row ids") {
    val root = tmp()
    val df = spark.range(30L).select(col("id"), (col("id") % 5).as("k"))
    DeltaWrite.append(spark, df.coalesce(1), root)                                   // v0
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))                // v1
    def ids(): Map[Long, Long] = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ids()
    assert(before.size == 30)
    // MERGE: keys 0..9 update (source wins), keys 100..104 insert —
    // the touched-file rewrite must keep every SURVIVING row's id
    // byte-stably (the delta-spark stable-id contract), and mint fresh
    // ids only for the inserts
    val src = spark.range(10L).select(col("id"), (col("id") + 100L).as("k"))
      .unionByName(spark.range(100L, 105L).select(col("id"), lit(-1L).as("k")))
    DeltaWrite.merge(spark, src, root, Seq("id"))                                    // v2
    val after = ids()
    assert(after.size == 35)
    before.foreach { case (id, rid) =>
      assert(after(id) == rid, s"MERGE re-keyed surviving row id=$id: ${after(id)} != $rid") }
    val maxBefore = before.values.max
    (100L to 104L).foreach(id =>
      assert(after(id) > maxBefore, s"inserted row $id must get a fresh id past $maxBefore"))
    assert(after.values.toSeq.distinct.size == after.size, "row ids must stay unique")
    assertRowIdInvariants(root)
    // UPDATE: moves matched rows into new files — their ids must not move
    DeltaWrite.update(spark, root, "k = -1", Map("k" -> "7"))                        // v3
    val after2 = ids()
    assert(after2 == after, "UPDATE re-keyed rows it moved to new files")
    assertRowIdInvariants(root)
    // duplicate source keys cannot inherit one target id — loud refusal
    val dup = spark.range(2L).select(lit(5L).as("id"), col("id").as("k"))
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, dup, root, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate"))
    // a table WITHOUT the declaration keeps the documented fresh-id
    // behavior (protocol-legal): merge rewrites may re-key
    val root2 = tmp()
    DeltaWrite.append(spark, df.coalesce(1), root2)
    DeltaWrite.setProperties(spark, root2, Map("delta.enableRowTracking" -> "true"))
    DeltaWrite.merge(spark,
      spark.range(10L).select(col("id"), lit(9L).as("k")), root2, Seq("id"))
    assertRowIdInvariants(root2) // sound bookkeeping either way
  }

  test("row tracking: the CDF feed carries row ids across insert/delete/update/merge") {
    val root = tmp()
    val df = spark.range(20L).select(col("id"), (col("id") % 4).as("k"))
    DeltaWrite.append(spark, df.coalesce(1), root)                                   // v0
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))                // v1
    def live(): Map[Long, Long] = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids0 = live()
    DeltaWrite.append(spark,
      spark.range(20L, 25L).select(col("id"), lit(9L).as("k")).coalesce(1), root)    // v2
    val ids1 = live()
    DeltaWrite.delete(spark, root, "id >= 18 AND id < 22")                           // v3
    DeltaWrite.update(spark, root, "id < 3", Map("k" -> "100"))                      // v4
    val src = spark.range(4L, 6L).select(col("id"), lit(7L).as("k"))
      .unionByName(spark.range(30L, 32L).select(col("id"), lit(8L).as("k")))
    DeltaWrite.merge(spark, src, root, Seq("id"))                                    // v5
    val idsEnd = live()
    val ch = DeltaRead.readChangesWithRowIds(spark, root, 2L)
      .select(col("id"), col("_change_type"), col("_commit_version"), col("_row_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // v2 (derived commit): inserts carry the ids the rows read back with
    val v2 = ch.filter(_._3 == 2L)
    assert(v2.length == 5 && v2.forall(_._2 == "insert"))
    v2.foreach { case (id, _, _, rid) => assert(ids1(id) == rid, s"v2 insert id=$id") }
    // v3 (cdc delete): the retired ids
    val v3 = ch.filter(_._3 == 3L)
    assert(v3.map(_._1).toSet == Set(18L, 19L, 20L, 21L) && v3.forall(_._2 == "delete"))
    v3.foreach { case (id, _, _, rid) => assert(ids1(id) == rid, s"v3 delete id=$id") }
    // v4 (cdc update): preimage and postimage SHARE the row's id
    val v4 = ch.filter(_._3 == 4L)
    assert(v4.count(_._2 == "update_preimage") == 3 &&
      v4.count(_._2 == "update_postimage") == 3)
    v4.foreach { case (id, _, _, rid) => assert(ids0(id) == rid, s"v4 update id=$id") }
    // v5 (cdc merge): matched keys share ids; inserts carry the fresh
    // ids their rows read back with (re-derived from the new files)
    val v5 = ch.filter(_._3 == 5L)
    val v5u = v5.filter(_._2.startsWith("update_"))
    assert(v5u.map(_._1).toSet == Set(4L, 5L) && v5u.length == 4)
    v5u.foreach { case (id, _, _, rid) => assert(ids0(id) == rid, s"v5 update id=$id") }
    val v5i = v5.filter(_._2 == "insert")
    assert(v5i.map(_._1).toSet == Set(30L, 31L))
    v5i.foreach { case (id, _, _, rid) => assert(idsEnd(id) == rid, s"v5 insert id=$id") }
    // the span refuses on a table whose cdc rows predate row-id support:
    // pre-enablement commits have no baseRowId to derive from
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readChangesWithRowIds(spark, root, 0L).collect()
    }
    assert(e.getMessage.contains("baseRowId") || e.getMessage.contains("row ids"))
  }

  test("row tracking: column-mapped tables read AND preserve materialized row ids") {
    val root = tmp()
    val df = spark.range(25L).select(col("id"), (col("id") % 5).as("k"))
    DeltaWrite.append(spark, df.coalesce(1), root)                                   // v0
    DeltaWrite.enableColumnMapping(spark, root)                                      // v1
    DeltaWrite.renameColumn(spark, root, "k", "cat")                                 // v2
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "_mat_rid"))                // v3
    def ids(): Map[Long, Long] = DeltaRead.readWithRowIds(spark, root)
      .select(col("id"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the r17 refusal is LIFTED: the declared name is the hidden
    // column's physical parquet name, bound identity-mapped
    val before = ids()
    assert(before.size == 25 && before.values.toSeq.sorted == (0L until 25L))
    // a MERGE rewrite on the MAPPED table preserves ids through the
    // materialized column (written under the hidden physical name)
    val src = spark.range(5L).select(col("id"), lit(42L).as("cat"))
    DeltaWrite.merge(spark, src, root, Seq("id"))                                    // v4
    val after = ids()
    before.foreach { case (id, rid) =>
      assert(after(id) == rid, s"mapped MERGE re-keyed id=$id") }
    // ... and OPTIMIZE preserves them too
    DeltaWrite.compact(spark, root, targetFiles = 1)                                 // v5
    assert(ids() == after, "mapped OPTIMIZE re-keyed rows")
    // the logical read never leaks the hidden column, and the renamed
    // logical schema still reads through the physical binding
    val cols = DeltaRead.read(spark, root).columns.toSet
    assert(cols == Set("id", "cat"))
    assert(DeltaRead.read(spark, root).where(col("cat") === 42L).count() == 5L)
    // a declaration clashing with a REAL column's physical name refuses
    val root2 = tmp()
    DeltaWrite.append(spark, df.coalesce(1), root2)
    DeltaWrite.enableColumnMapping(spark, root2)
    DeltaWrite.renameColumn(spark, root2, "k", "cat") // physical name stays "k"
    DeltaWrite.setProperties(spark, root2, Map(
      "delta.enableRowTracking" -> "true",
      "delta.rowTracking.materializedRowIdColumnName" -> "k")) // clashes physically
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readWithRowIds(spark, root2).collect()
    }
    assert(e.getMessage.contains("physical name"))
  }

  test("row tracking: a foreign rowTracking table accepts a write continuing its hwm") {
    val root = tmp()
    // data file via a plain append, then REWRITE the log by hand into
    // the delta-spark rowTracking shape (feature + stamped add + domain)
    DeltaWrite.append(spark, spark.range(40L).toDF("id").coalesce(1), root)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val v0 = new java.io.File(logDir, f"${0L}%020d.json")
    val lines = new String(java.nio.file.Files.readAllBytes(v0.toPath), "UTF-8")
      .split("\n").filter(_.trim.nonEmpty)
    val patched = lines.map { l =>
      if (l.contains("\"protocol\""))
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata"]}}"""
      else if (l.contains("\"add\""))
        l.replaceFirst("\\{\"add\":\\{",
          """{"add":{"baseRowId":100,"defaultRowCommitVersion":0,""")
      else l
    }.mkString("\n") +
      "\n" + """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":139}","removed":false}}""" + "\n"
    java.nio.file.Files.write(v0.toPath, patched.getBytes("UTF-8"))
    // the foreign crc (if any) no longer matches the patched log
    new java.io.File(logDir, f"${0L}%020d.crc").delete()
    val s0 = DeltaRead.snapshot(spark, root)
    assert(s0.rowIds.values.map(_._1).toSeq == Seq(100L))
    // graft append: fresh range starts PAST the foreign hwm (139)
    DeltaWrite.append(spark, spark.range(40L, 50L).toDF("id").coalesce(1), root)    // v1
    val s1 = assertRowIdInvariants(root)
    val fresh = (s1.rowIds -- s0.rowIds.keySet).values.map(_._1)
    assert(fresh.forall(_ >= 140L), s"fresh ids must continue past the foreign hwm: $fresh")
  }

  test("row tracking: a missing hwm domain re-seeds from live ranges, never restarts at 0") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(50L).toDF("id").coalesce(1), root)          // v0
    DeltaWrite.setProperties(spark, root, Map("delta.enableRowTracking" -> "true"))  // v1
    // tamper: drop the domainMetadata line from the enabling commit —
    // simulates a foreign writer that stamped adds but never minted
    // (or corrupted) the delta.rowTracking high-water-mark domain
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val v1 = new java.io.File(logDir, f"${1L}%020d.json")
    val kept = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
      .split("\n").filter(l => l.trim.nonEmpty && !l.contains("\"domainMetadata\":"))
      .mkString("\n") + "\n"
    java.nio.file.Files.write(v1.toPath, kept.getBytes("UTF-8"))
    new java.io.File(logDir, f"${1L}%020d.crc").delete()
    val s1 = DeltaRead.snapshot(spark, root)
    assert(!s1.domains.contains("delta.rowTracking"), "fixture: domain must be gone")
    assert(s1.rowIds.nonEmpty, "fixture: backfilled ids must survive")
    // the next stamping commit must NOT restart at baseRowId 0 (which
    // would duplicate the live file's 0..49 range) — it re-seeds the
    // hwm from max(baseRowId + numRecords - 1) over the live files
    DeltaWrite.append(spark, spark.range(50L, 60L).toDF("id").coalesce(1), root)     // v2
    val s2 = assertRowIdInvariants(root)
    val fresh = (s2.rowIds -- s1.rowIds.keySet).values.map(_._1)
    assert(fresh.nonEmpty && fresh.forall(_ >= 50L),
      s"fresh ids must continue past the live ranges, got $fresh")
  }

  test("type widening: refuses partition columns; already-wide is a commit-free no-op") {
    val root = tmp()
    val df = spark.range(10L).select((col("id") % 3).cast("int").as("p"),
      col("id").as("v"))
    DeltaWrite.append(spark, df, root, partitionBy = Seq("p"))
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.widenColumn(spark, root, "p", org.apache.spark.sql.types.LongType)
    }
    assert(e.getMessage.contains("partition column"))
    // already-wide: returns the current version and commits NOTHING
    // (an explicit Option no-op, not a non-local return through the
    // CAS retry loop)
    val before = DeltaRead.snapshot(spark, root).version
    val r = DeltaWrite.widenColumn(spark, root, "v",
      org.apache.spark.sql.types.LongType)
    assert(r == before, s"no-op must return the current version, got $r vs $before")
    assert(DeltaRead.snapshot(spark, root).version == before,
      "no-op must not land a commit")
  }

  test("type widening: widenColumn reads old narrow files under the wide schema") {
    val root = tmp()
    // two int-typed files plus a float column
    val df0 = spark.range(10L).select(col("id").cast("int").as("a"),
      (col("id") * 2).cast("int").as("b"), col("id").cast("float").as("f"))
    DeltaWrite.append(spark, df0.repartition(2), root)                              // v0
    DeltaWrite.widenColumn(spark, root, "a", org.apache.spark.sql.types.LongType)   // v1
    DeltaWrite.widenColumn(spark, root, "f", org.apache.spark.sql.types.DoubleType) // v2
    val s2 = DeltaRead.snapshot(spark, root)
    assert(s2.minReader == 3 && s2.readerFeatures.contains("typeWidening") &&
      s2.writerFeatures.contains("typeWidening"))
    assert(s2.schema("a").dataType == org.apache.spark.sql.types.LongType)
    // the typeChanges history landed on the field
    assert(s2.schema("a").metadata.contains("delta.typeChanges"))
    val tc = s2.schema("a").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 1 && tc(0).getString("fromType") == "integer" &&
      tc(0).getString("toType") == "long", tc.mkString(","))
    // old int32/float files read under the wide schema — Spark 4's
    // parquet widening promotions (the whole feature hinges on this)
    val back = DeltaRead.read(spark, root).orderBy("a")
    assert(back.schema("a").dataType == org.apache.spark.sql.types.LongType)
    assert(back.as[(Long, Int, Double)].collect().toSeq ==
      (0L until 10L).map(i => (i, (i * 2).toInt, i.toDouble)))
    // appends after the widening land with the wide type; both
    // generations read together
    DeltaWrite.append(spark, spark.range(10L, 15L).select(
      (col("id") + 3000000000L).as("a"), col("id").cast("int").as("b"),
      col("id").cast("double").as("f")), root)                                      // v3
    val all = DeltaRead.read(spark, root).orderBy("a").as[(Long, Int, Double)].collect()
    assert(all.length == 15 && all.last._1 == 3000000014L, all.toSeq)
    // a pushed filter above int range must reach only the wide files
    assert(DeltaRead.read(spark, root).where(col("a") > 2999999999L).count() == 5L)
    // unsupported widenings refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      DeltaWrite.widenColumn(spark, root, "b", org.apache.spark.sql.types.DoubleType) }
    assert(e1.getMessage.contains("not a supported widening"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.widenColumn(spark, root, "a", org.apache.spark.sql.types.IntegerType) }
    assert(e2.getMessage.contains("not a supported widening"), "narrowing must refuse")
    // idempotent: widening to the current type is a no-op version
    assert(DeltaWrite.widenColumn(spark, root, "a",
      org.apache.spark.sql.types.LongType) == 3L)
    // the SQL face routes to the same engine
    spark.sql(s"GRAFT_ALTER('$root', WIDEN b TO long)").collect()
    assert(DeltaRead.snapshot(spark, root).schema("b").dataType ==
      org.apache.spark.sql.types.LongType)
    // checkpoint fold + JSON-tail clean: the widened schema and the
    // narrow files still read
    assert(DeltaWrite.checkpoint(spark, root) == 4L)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    logDir.list().filter(_.endsWith(".json")).foreach(n =>
      new java.io.File(logDir, n).delete())
    assert(DeltaRead.read(spark, root).count() == 15L)
  }

  test("type widening: a foreign table carrying the reader feature reads") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(5L).select(
      col("id").cast("int").as("x")).coalesce(1), root)
    val logDir = new java.io.File(root.stripPrefix("file:"), "_delta_log")
    val v0 = new java.io.File(logDir, f"${0L}%020d.json")
    val lines = new String(java.nio.file.Files.readAllBytes(v0.toPath), "UTF-8")
      .split("\n").filter(_.trim.nonEmpty)
    // delta-spark 4.x shape: feature in BOTH lists, schema already long
    val patched = lines.map { l =>
      if (l.contains("\"protocol\""))
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}"""
      else if (l.contains("\"metaData\"")) {
        // schemaString is an ESCAPED JSON string inside the action line
        val patched = l.replace("\\\"type\\\":\\\"integer\\\"", "\\\"type\\\":\\\"long\\\"")
        assert(patched != l, s"fixture: expected an int column to widen in: $l")
        patched
      } else l
    }.mkString("\n") + "\n"
    java.nio.file.Files.write(v0.toPath, patched.getBytes("UTF-8"))
    new java.io.File(logDir, f"${0L}%020d.crc").delete()
    val back = DeltaRead.read(spark, root)
    assert(back.schema("x").dataType == org.apache.spark.sql.types.LongType)
    assert(back.orderBy("x").as[Long].collect().toSeq == (0L until 5L))
    // and graft can WRITE into it (typeWidening passes the writer gate)
    DeltaWrite.append(spark, spark.range(5L, 8L).toDF("x"), root)
    assert(DeltaRead.read(spark, root).count() == 8L)
  }

  test("row tracking: RESTORE re-adds carry the target version's row ids") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(20L).toDF("id").coalesce(1), root)         // v0
    DeltaWrite.setProperties(spark, root, Map("delta.enableRowTracking" -> "true")) // v1
    val s1 = DeltaRead.snapshot(spark, root)
    DeltaWrite.overwrite(spark, spark.range(100L, 110L).toDF("id").coalesce(1), root) // v2
    DeltaWrite.restore(spark, root, 1L)                                             // v3
    val s3 = assertRowIdInvariants(root)
    assert(s3.rowIds == s1.rowIds,
      "restored files are the same physical rows — their ids must carry")
  }

  test("variant: creates in the features form, lands unshredded, and DML composes") {
    val root = tmp()
    val df = spark.range(20L).selectExpr("id",
      """parse_json(concat('{"k":', id, ',"p":"x', id % 3, '"}')) AS v""")
    assert(DeltaWrite.append(spark, df, root) == 0L)
    val s = DeltaRead.snapshot(spark, root)
    assert(s.minReader == 3 && s.minWriter == 7)
    assert(s.readerFeatures == Set("variantType"))
    assert(s.writerFeatures == Set("appendOnly", "invariants", "variantType"))
    // the data file is the UNSHREDDED struct<metadata, value> layout the
    // feature licenses — no typed_value group (Spark's default shredding)
    val pq = new java.io.File(root).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(pq.nonEmpty)
    pq.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString),
          spark.sparkContext.hadoopConfiguration))
      try {
        val sch = r.getFooter.getFileMetaData.getSchema
        val v = sch.getType(sch.getFieldIndex("v")).asGroupType()
        assert(v.getFields.size == 2 &&
          v.containsField("metadata") && v.containsField("value"),
          s"expected unshredded variant group, got $v")
      } finally r.close()
    }
    // DV delete keyed on a variant extraction, then in-place update
    DeltaWrite.delete(spark, root, "variant_get(v, '$.k', 'bigint') % 4 = 0")
    DeltaWrite.update(spark, root, "id % 4 = 1",
      Map("v" -> """parse_json(concat('{"k":', id, ',"p":"upd"}'))"""))
    val got = DeltaRead.read(spark, root)
      .selectExpr("id", "variant_get(v, '$.p', 'string') AS p")
      .as[(Long, String)].collect().toMap
    assert(!got.keySet.exists(_ % 4 == 0), "DV-deleted rows must drop")
    assert(got.filter(_._1 % 4 == 1).values.toSet == Set("upd"))
    assert(got(2L) == "x2" && got(3L) == "x0")
    // merge: source wins, insert mints
    DeltaWrite.merge(spark,
      spark.range(100L, 103L).selectExpr("id", "parse_json('{\"p\":\"m\"}') AS v"),
      root, Seq("id"))
    val after = DeltaRead.read(spark, root)
      .selectExpr("id", "variant_get(v, '$.p', 'string') AS p")
      .as[(Long, String)].collect().toMap
    assert(after(100L) == "m" && after(101L) == "m" && after(102L) == "m")
    assert(after(2L) == "x2")
  }

  test("variant: mergeSchema evolution upgrades the protocol in the same commit") {
    val root = tmp()
    DeltaWrite.append(spark, spark.range(3L).toDF("id"), root) // v0 at (1,2)
    val s0 = DeltaRead.snapshot(spark, root)
    assert(s0.minReader == 1 && s0.minWriter == 2)
    DeltaWrite.append(spark,
      spark.range(3L, 6L).selectExpr("id", "parse_json('{\"a\":7}') AS extra"),
      root, mergeSchema = true)
    val s1 = DeltaRead.snapshot(spark, root)
    assert(s1.readerFeatures.contains("variantType") &&
      s1.writerFeatures.contains("variantType"))
    // the upgrade landed IN the evolution commit, not a separate one
    val v1 = new java.io.File(root, "_delta_log/" + f"${1L}%020d" + ".json")
    val content = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    assert(content.contains("\"protocol\"") && content.contains("\"metaData\""))
    val got = DeltaRead.read(spark, root)
      .selectExpr("id", "variant_get(extra, '$.a', 'int') AS a")
      .as[(Long, Option[Int])].collect().toMap
    assert(got(0L).isEmpty && got(4L).contains(7), "old files null-fill by name")
  }

  test("variant: partition-by refuses; timestampNtz tables create in the features form") {
    val root = tmp()
    val df = spark.range(4L).selectExpr("id", "parse_json('{}') AS v")
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(spark, df, root, partitionBy = Seq("v"))
    }
    assert(e.getMessage.contains("variant"))
    // the old gap: an NTZ table used to commit at (1,2) — spec-wrong,
    // timestampNtz is reader-gated
    val root2 = tmp()
    DeltaWrite.append(spark,
      spark.range(3L).selectExpr("id",
        "timestamp_ntz'2026-01-02 03:04:05' AS ts"), root2)
    val s = DeltaRead.snapshot(spark, root2)
    assert(s.readerFeatures == Set("timestampNtz") &&
      s.writerFeatures == Set("appendOnly", "invariants", "timestampNtz"))
    assert(DeltaRead.read(spark, root2).count() == 3L)
  }

  test("variant: CDF change rows and checkpoint folds carry variant columns") {
    val root = tmp()
    val df = spark.range(10L).selectExpr("id",
      """parse_json(concat('{"k":', id, '}')) AS v""")
    DeltaWrite.append(spark, df, root)                                        // v0
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))                            // v1
    DeltaWrite.delete(spark, root, "id % 3 = 0")                              // v2 (cdc)
    val ch = DeltaRead.readChanges(spark, root, 2L)
      .selectExpr("id", "variant_get(v, '$.k', 'bigint') AS k", "_change_type")
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(ch == Seq((0L, 0L, "delete"), (3L, 3L, "delete"),
      (6L, 6L, "delete"), (9L, 9L, "delete")))
    DeltaWrite.checkpoint(spark, root)
    val back = DeltaRead.read(spark, root)
      .selectExpr("variant_get(v, '$.k', 'bigint') AS k")
      .as[Long].collect().toSet
    assert(back == (0L until 10L).filter(_ % 3 != 0).toSet)
  }

  test("variant: delta.enableVariantShredding opts future writes into shredded files") {
    val root = tmp()
    def vdf(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id",
      """parse_json(concat('{"k":', id, ',"p":"x', id % 3, '"}')) AS v""")
    DeltaWrite.append(spark, vdf(0L, 5L), root)                                // v0
    DeltaWrite.setProperties(spark, root,
      Map("delta.enableVariantShredding" -> "true"))                          // v1
    val s = DeltaRead.snapshot(spark, root)
    assert(s.readerFeatures.contains("variantShredding-preview") &&
      s.readerFeatures.contains("variantType"),
      "the enablement must gate the protocol before any shredded file lands")
    val before = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    DeltaWrite.append(spark, vdf(5L, 10L), root)                              // v2
    def isShredded(name: String): Boolean = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(root + "/" + name),
          spark.sparkContext.hadoopConfiguration))
      try {
        val sch = r.getFooter.getFileMetaData.getSchema
        sch.getType(sch.getFieldIndex("v")).asGroupType().containsField("typed_value")
      } finally r.close()
    }
    val after = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(before.forall(!isShredded(_)), "pre-enablement files stay unshredded")
    val fresh = after -- before
    assert(fresh.nonEmpty && fresh.forall(isShredded),
      "post-enablement appends write Spark's shredded layout")
    // mixed shredded + unshredded files read as one table, DML composes
    DeltaWrite.delete(spark, root, "variant_get(v, '$.k', 'bigint') % 2 = 0")
    val got = DeltaRead.read(spark, root)
      .selectExpr("id", "variant_get(v, '$.p', 'string') AS p")
      .as[(Long, String)].collect().toMap
    assert(got.keySet == (0L until 10L).filter(_ % 2 == 1).toSet)
    assert(got(7L) == "x1")
  }

  test("variant: shredded and unshredded layouts read identical values") {
    val docs = spark.range(2000).selectExpr("id",
      """parse_json(concat('{"k":', id, ',"score":', id % 97,
         ',"meta":{"lang":"l', id % 23, '"}}')) AS v""")
    val plain = tmp()
    val shred = tmp()
    DeltaWrite.append(spark, docs, plain)
    DeltaWrite.append(spark, docs.limit(1), shred) // create, then opt in
    DeltaWrite.setProperties(spark, shred, Map("delta.enableVariantShredding" -> "true"))
    DeltaWrite.delete(spark, shred, "true")
    DeltaWrite.append(spark, docs, shred)
    def onePath(root: String): Long = DeltaRead.read(spark, root)
      .selectExpr("variant_get(v, '$.score', 'bigint') AS s")
      .agg(sum("s")).head().getLong(0)
    def twoPath(root: String): Long = DeltaRead.read(spark, root)
      .where("variant_get(v, '$.meta.lang', 'string') = 'l7'")
      .selectExpr("variant_get(v, '$.score', 'bigint') AS s")
      .agg(sum("s")).head().getLong(0)
    assert(onePath(plain) == onePath(shred))
    assert(twoPath(plain) == twoPath(shred))
    assert(DeltaRead.read(spark, plain).count() == DeltaRead.read(spark, shred).count())
  }

  /** Per version: operation, operationParameters keys, and the ordered
    * action kinds — add/remove/cdc tagged with their dataChange flag,
    * consecutive repeats collapsed so file counts do not matter.
    */
  private def logShape(root: String, v: Long): String = {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File(new java.io.File(root.stripPrefix("file:"), "_delta_log"),
      f"$v%020d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").filter(_.trim.nonEmpty).map(mapper.readTree).toSeq
    val kinds = nodes.map { n =>
      val k = n.fieldNames().next()
      if (n.get(k).has("dataChange")) s"$k:${n.get(k).get("dataChange").asBoolean}" else k
    }.foldLeft(Vector.empty[String])((acc, k) => if (acc.lastOption.contains(k)) acc else acc :+ k)
    val ci = nodes.head.get("commitInfo")
    val params = Option(ci.get("operationParameters"))
      .map(_.fieldNames().asScala.toSeq).getOrElse(Nil)
    s"${ci.get("operation").asText} [${params.mkString(",")}] ${kinds.mkString(" ")}"
  }

  test("log shape: every commit kind writes its pinned action sequence") {
    val root = tmp()
    DeltaWrite.append(spark, Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v").coalesce(1), root)                                          // v0
    DeltaWrite.setProperties(spark, root, Map(
      "delta.enableChangeDataFeed" -> "true", "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))                                    // v1
    DeltaWrite.delete(spark, root, "id = 1")                                       // v2
    DeltaWrite.update(spark, root, "id = 2", Map("v" -> "'B'"))                    // v3
    DeltaWrite.merge(spark, Seq((3L, "C"), (5L, "e")).toDF("id", "v").coalesce(1),
      root, Seq("id"))                                                             // v4
    DeltaWrite.setDomainMetadata(spark, root, "graft.test", "{}")                  // v5
    DeltaWrite.compact(spark, root, targetFiles = 1)                               // v6
    DeltaWrite.delete(spark, root, "id = 4")                                       // v7
    DeltaWrite.purgeDvs(spark, root, minDeletedFraction = 0.0)                     // v8
    DeltaWrite.restore(spark, root, 6L)                                            // v9
    DeltaWrite.enableColumnMapping(spark, root)                                    // v10
    val expected = Seq(
      "WRITE [mode] commitInfo protocol metaData add:true",
      "SET TBLPROPERTIES [properties] commitInfo protocol metaData add:false domainMetadata",
      "DELETE [predicate] commitInfo protocol cdc:false remove:true add:true domainMetadata",
      "UPDATE [predicate] commitInfo cdc:false remove:true add:true domainMetadata",
      "MERGE [matchedKeys] commitInfo cdc:false remove:true add:true domainMetadata",
      "SET DOMAIN METADATA [domain] commitInfo domainMetadata",
      "OPTIMIZE [] commitInfo remove:false add:false domainMetadata",
      "DELETE [predicate] commitInfo cdc:false remove:true add:true domainMetadata",
      "OPTIMIZE [] commitInfo remove:false add:false domainMetadata",
      "RESTORE [version] commitInfo cdc:false remove:true add:true",
      "SET TBLPROPERTIES [] commitInfo metaData")
    (0L to 10L).zip(expected).foreach { case (v, want) =>
      assert(logShape(root, v) == want, s"v$v")
    }
  }
}

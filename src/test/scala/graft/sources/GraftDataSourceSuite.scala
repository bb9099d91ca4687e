package graft.sources

import graft.SparkSpec
import graft.pipeline.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The DSv2 `graft` format face: batch reads (current + time travel,
  * file-pruned-merge manifests, pushdown/pruning through the native
  * parquet scan) and the micro-batch stream (manifest offsets,
  * full-snapshot bootstrap, restart resume, orphan invisibility,
  * rewrite refusal) — the same contracts VersionedStreamSuite pins
  * through VersionedTable.readStream.
  */
class GraftDataSourceSuite extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshSink(): String = { n += 1; s"gds_sink_$n" }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(vals: Long*): DataFrame = vals.map(v => (v, s"r$v")).toDF("id", "v")

  private def append(root: String, vals: Long*): Long =
    VersionedTable.commitDelta(spark, root, "parquet", rows(vals: _*))

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("id")).sorted.toSeq

  private def sinkIds(sink: String): Seq[Long] = ids(spark.table(sink))

  test("batch read matches VersionedTable.read; versionAsOf time-travels") {
    val root = tmp("graft_dsv2_batch") + "/t"
    append(root, 1L, 2L)
    append(root, 3L)
    val df = spark.read.format("graft").load(root)
    assert(ids(df) == Seq(1L, 2L, 3L))
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(ids(spark.read.format("graft").option("versionAsOf", "1").load(root))
      == Seq(1L, 2L))
    // a later commit does not disturb an already-planned read
    val planned = spark.read.format("graft").load(root)
    append(root, 4L)
    assert(ids(planned) == Seq(1L, 2L, 3L))
    assert(ids(spark.read.format("graft").load(root)) == Seq(1L, 2L, 3L, 4L))
  }

  test("filters push into the parquet scan; projection prunes the read schema") {
    val root = tmp("graft_dsv2_push") + "/t"
    append(root, (1L to 50L): _*)
    val df = spark.read.format("graft").load(root)
      .where(col("id") === 7L).select("id")
    assert(ids(df) == Seq(7L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,7)"),
      s"filter did not push into the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"projection did not prune the read schema:\n$plan")
  }

  test("manifest-stat data skipping: a selective filter plans only matching files") {
    val root = tmp("graft_dsv2_skip") + "/t"
    VersionedTable.commit(spark, root, "parquet",
      _ => spark.range(0, 800).select(col("id"), concat(lit("r"), col("id")).as("v"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    def plannedFiles(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }.head
    val all = spark.read.format("graft").load(root)
    assert(plannedFiles(all) == 8, "baseline: 8 range-clustered files")
    val eq = spark.read.format("graft").load(root).where(col("id") === 7L)
    assert(plannedFiles(eq) == 1, "point lookup must plan exactly the one matching file")
    assert(ids(eq) == Seq(7L))
    val range = spark.read.format("graft").load(root)
      .where(col("id") >= 100L && col("id") < 300L)
    val rf = plannedFiles(range)
    assert(rf >= 1 && rf <= 3, s"range filter planned $rf of 8 files")
    assert(range.count() == 200L)
    val none = spark.read.format("graft").load(root).where(col("id") === -5L)
    assert(plannedFiles(none) == 0, "an impossible key must plan zero files")
    assert(none.count() == 0L)
    // string column skipping through the same sidecars
    val sEq = spark.read.format("graft").load(root).where(col("v") === "r7")
    assert(ids(sEq) == Seq(7L))
    // skipping is visible in the formatted explain
    val fmt = eq.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.contains("GraftStatSkipping") && fmt.contains("1 of 8 files"),
      s"skipping not surfaced in explain:\n$fmt")
    // the manifest's exact row counts feed Catalyst statistics — a
    // size-only estimate would leave rowCount empty
    val statd = spark.read.format("graft").load(root)
    assert(statd.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(800)),
      s"sidecar rowCount missing: ${statd.queryExecution.optimizedPlan.stats}")
  }

  test("Z-ordered compaction + stat skipping: filters on EITHER clustered column prune") {
    val root = tmp("graft_dsv2_zorder") + "/t"
    VersionedTable.commit(spark, root, "parquet",
      _ => spark.range(0, 4096).select(
        (col("id") / 64).cast("long").as("a"), (col("id") % 64).as("b"),
        col("id").as("payload")))
    VersionedTable.compact(spark, root, zorderBy = Seq("a", "b"), zorderFiles = 16)
    def plannedFiles(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }.head
    val base = spark.read.format("graft").load(root)
    val total = plannedFiles(base)
    assert(total == 16, s"expected the 16 z-ordered files, got $total")
    val onA = plannedFiles(base.where(col("a") === 3L))
    val onB = plannedFiles(base.where(col("b") === 3L))
    assert(onA < total && onB < total,
      s"z-order must let BOTH clustered columns prune: a→$onA, b→$onB of $total")
    assert(base.where(col("a") === 3L).count() == 64L)
    assert(base.where(col("b") === 3L).count() == 64L)
  }

  test("aggregate pushdown reaches the parquet footers through the graft face") {
    val root = tmp("graft_dsv2_aggpush") + "/t"
    append(root, (1L to 100L): _*)
    val key = "spark.sql.parquet.aggregatePushdown"
    val orig = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val df = spark.read.format("graft").load(root)
        .agg(count(lit(1)).as("n"), min(col("id")).as("lo"), max(col("id")).as("hi"))
      val r = df.head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 1L, 100L)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation") && plan.contains("COUNT(*)"),
        s"aggregation did not push into the footer scan:\n$plan")
    } finally spark.conf.set(key, orig)
  }

  test("file-pruned merge manifests read correctly (carried file references)") {
    val root = tmp("graft_dsv2_merge") + "/t"
    // range-clustered multi-file base so the merge carries most files
    VersionedTable.commit(spark, root, "parquet",
      _ => spark.range(0, 80).select(col("id"), concat(lit("r"), col("id")).as("v"))
        .repartitionByRange(8, col("id")))
    VersionedTable.commitMerge(spark, root, "parquet",
      Seq((5L, "UPD")).toDF("id", "v"), keys = Seq("id"))
    val viaV1 = VersionedTable.read(spark, root)
    val viaV2 = spark.read.format("graft").load(root)
    assert(viaV2.count() == 80L)
    assert(viaV2.where(col("id") === 5L).select("v").head().getString(0) == "UPD")
    assert(ids(viaV2) == ids(viaV1))
  }

  test("hive-partitioned tables read natively: values, pruning, pushdown, stats") {
    val root = tmp("graft_dsv2_hive") + "/t"
    VersionedTable.commit(spark, root, "parquet",
      _ => Seq((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c")).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val df = spark.read.format("graft").load(root)
    // partition column present, typed, value-correct — and one native
    // BatchScan, not a per-branch v1 union
    assert(df.select("id", "part", "v").as[(Long, Int, String)].collect().toSet ==
      Set((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c")))
    assert(df.queryExecution.executedPlan.toString.contains("BatchScan"))
    // PARTITION PRUNING: a filter on the partition column plans only
    // that partition's files
    def planned(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          val s = r.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
          s.fileIndex.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files).map(_.getPath.toString)
      }.head
    val p2 = spark.read.format("graft").load(root).where(col("part") === 2)
    val p2f = planned(p2)
    assert(p2f.nonEmpty && p2f.forall(_.contains("part=2")),
      s"partition filter must prune to part=2 files: $p2f")
    assert(p2.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // DATA-FILTER PUSHDOWN + column pruning still reach the parquet scan
    val pushed = spark.read.format("graft").load(root)
      .where(col("id") === 3L).select("id")
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,3)"),
      s"data filter did not push:\n$plan")
    assert(ids(pushed) == Seq(3L))
    // sidecar row counts survive the partition layout (keys carry the
    // col=value segments; the stats walk resolves them)
    assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(3)),
      s"sidecar rowCount missing: ${df.queryExecution.optimizedPlan.stats}")
  }

  test("partition-overwrite refs and pruned-merge file refs inside partitions read natively") {
    val root = tmp("graft_dsv2_href") + "/t"
    VersionedTable.commit(spark, root, "parquet",
      _ => Seq((1L, "US", 10L), (2L, "DE", 20L), (3L, "FR", 30L)).toDF("id", "cc", "v"),
      partitionBy = Seq("cc"))
    // partition overwrite: snapshot = two carried subtree refs + one new dir
    VersionedTable.commitPartitionOverwrite(spark, root, "parquet",
      Seq((4L, "DE", 400L)).toDF("id", "cc", "v"), Seq("cc"))
    val df = spark.read.format("graft").load(root)
    assert(df.select("id", "cc", "v").as[(Long, String, Long)].collect().toSet ==
      Set((1L, "US", 10L), (3L, "FR", 30L), (4L, "DE", 400L)))
    // string partition values + escaped characters round-trip
    VersionedTable.commitPartitionOverwrite(spark, root, "parquet",
      Seq((5L, "a b", 500L)).toDF("id", "cc", "v"), Seq("cc"))
    val got = spark.read.format("graft").load(root)
      .where(col("cc") === "a b").select("id").as[Long].collect().toSeq
    assert(got == Seq(5L), s"escaped partition value must match: $got")
    // a stats-pruned DELETE decomposes partition dirs into file refs
    // inside subtrees — those read natively too, partition cols intact
    VersionedTable.commitDelete(spark, root, "id = 1")
    val after = spark.read.format("graft").load(root)
    assert(after.select("id", "cc").as[(Long, String)].collect().toSet ==
      Set((3L, "FR"), (4L, "DE"), (5L, "a b")))
    // time travel through the partitioned face
    assert(spark.read.format("graft").option("versionAsOf", "1").load(root)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("mixed flat+partitioned snapshot: DSv2 refuses with the escape hatch, and the hatch ANSWERS") {
    val root = tmp("graft_dsv2_mixed") + "/t"
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((1L, 1, "flat")).toDF("id", "part", "v"), compactAfter = Int.MaxValue)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, 2, "hive")).toDF("id", "part", "v"),
      partitionBy = Seq("part"), compactAfter = Int.MaxValue)
    // the DSv2 face cannot describe a mixed snapshot with one
    // partition schema: loud refusal naming the fallback
    val e = intercept[Exception] {
      spark.read.format("graft").load(root).collect()
    }
    assert(e.getMessage.contains("GRAFT_READ") || e.getMessage.contains("VersionedTable.read"),
      s"mixed-layout refusal must name the escape hatch: ${e.getMessage}")
    // ...and the named fallback actually answers, partition values
    // intact on the hive branch (unionByName reconciles the columns)
    val got = VersionedTable.read(spark, root)
      .select("id", "part", "v").as[(Long, Int, String)].collect().toSet
    assert(got == Set((1L, 1, "flat"), (2L, 2, "hive")),
      s"GRAFT_READ fallback answered wrong on the mixed snapshot: $got")
  }

  test("non-parquet tables refuse loudly") {
    val csvRoot = tmp("graft_dsv2_csv") + "/t"
    VersionedTable.commit(spark, csvRoot, "csv", _ => rows(1L))
    val e2 = intercept[Exception] {
      spark.read.format("graft").load(csvRoot).collect()
    }
    assert(e2.getMessage.contains("parquet"), e2.getMessage)
    val e3 = intercept[Exception] { VersionedTable.readStream(spark, csvRoot) }
    assert(e3.getMessage.contains("parquet"), e3.getMessage)
  }

  test("micro-batch stream: snapshot bootstrap, appends stream once, orphans never") {
    val dir = tmp("graft_dsv2_stream"); val root = dir + "/t"
    append(root, 1L, 2L)
    rows(99L).write.parquet(root + "/data-delta-orphanbb") // unpublished committer
    val sink = freshSink()
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(1L, 2L),
        s"orphan rows leaked into the stream: ${sinkIds(sink)}")
      append(root, 3L)
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(1L, 2L, 3L))
      append(root, 4L); append(root, 5L)
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(1L, 2L, 3L, 4L, 5L))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("micro-batch stream over a BRANCH: branch appends stream, main appends don't") {
    val dir = tmp("graft_dsv2_branchstream"); val root = dir + "/t"
    append(root, 1L)
    VersionedTable.createBranch(spark, root, "exp")
    val bRoot = VersionedTable.branchRoot(root, "exp")
    val sink = freshSink()
    val q = spark.readStream.format("graft").load(bRoot)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(1L)) // bootstrap = the fork point's snapshot
      append(bRoot, 2L)                // branch append streams
      append(root, 9L)                 // main append must NOT
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(1L, 2L),
        s"main's append leaked into the branch stream: ${sinkIds(sink)}")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("micro-batch stream over a HIVE-PARTITIONED table: partition columns intact, appends stream once") {
    val dir = tmp("graft_dsv2_hivestream"); val root = dir + "/t"
    def part(vals: (Long, Int)*): Long =
      VersionedTable.commitDelta(spark, root, "parquet",
        vals.map { case (id, p) => (id, p, s"r$id") }.toDF("id", "part", "v"),
        partitionBy = Seq("part"), compactAfter = Int.MaxValue)
    part((1L, 1), (2L, 2))
    val sink = freshSink()
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      // bootstrap batch: full snapshot, partition values from the paths
      val got0 = spark.table(sink).select("id", "part", "v")
        .as[(Long, Int, String)].collect().toSet
      assert(got0 == Set((1L, 1, "r1"), (2L, 2, "r2")),
        s"bootstrap lost partition values: $got0")
      // appended span: new partitions AND an existing one
      part((3L, 2), (4L, 3))
      q.processAllAvailable()
      val got1 = spark.table(sink).select("id", "part", "v")
        .as[(Long, Int, String)].collect().toSet
      assert(got1 == Set((1L, 1, "r1"), (2L, 2, "r2"), (3L, 2, "r3"), (4L, 3, "r4")),
        s"appended span lost rows or partition values: $got1")
      // offsets are still manifest versions (2 commits -> version 2)
      assert(VersionedTable.currentSnapshot(spark, root).get.version == 2L)
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("restart from checkpoint resumes at the committed version: no skip, no replay") {
    val dir = tmp("graft_dsv2_restart"); val root = dir + "/t"
    val out = dir + "/out"
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", dir + "/ck").outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    append(root, 1L, 2L)
    run()
    assert(ids(spark.read.parquet(out)) == Seq(1L, 2L))
    append(root, 3L)
    append(root, 4L)
    run()
    assert(ids(spark.read.parquet(out)) == Seq(1L, 2L, 3L, 4L),
      "restart must deliver exactly the missed versions, once each")
  }

  test("a merge commit in the offset span fails the stream with instructions") {
    val dir = tmp("graft_dsv2_rewrite"); val root = dir + "/t"
    append(root, 1L)
    val sink = freshSink()
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      VersionedTable.commit(spark, root, "parquet", _ => rows(7L, 8L))
      append(root, 9L)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains("not streamable"), s"unexpected failure: $msg")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("startingVersion: a number streams strictly after it; latest pins at resolution") {
    val dir = tmp("graft_dsv2_startv"); val root = dir + "/t"
    append(root, 1L) // v1
    append(root, 2L) // v2
    append(root, 3L) // v3
    val sink = freshSink()
    val q = spark.readStream.format("graft").option("startingVersion", "2").load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(3L), s"expected only post-v2 rows: ${sinkIds(sink)}")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
    val sink2 = freshSink()
    val q2 = spark.readStream.format("graft").option("startingVersion", "latest").load(root)
      .writeStream.format("memory").queryName(sink2).outputMode("append")
      .option("checkpointLocation", dir + "/ck2")
      .start()
    try {
      q2.processAllAvailable()
      assert(sinkIds(sink2) == Seq(), "latest must skip all history")
      append(root, 4L)
      q2.processAllAvailable()
      assert(sinkIds(sink2) == Seq(4L))
    } finally { q2.stop(); spark.catalog.dropTempView(sink2) }
  }

  test("startingVersion past the head streams only commits after it") {
    val dir = tmp("graft_dsv2_pasthead"); val root = dir + "/t"
    append(root, 1L) // v1
    append(root, 2L) // v2
    val sink = freshSink()
    val q = spark.readStream.format("graft").option("startingVersion", "5").load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq())
      (3L to 6L).foreach { i => append(root, i); q.processAllAvailable() } // v3..v6
      assert(sinkIds(sink) == Seq(6L), s"expected only post-v5 rows: ${sinkIds(sink)}")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("maxVersionsPerTrigger: the backlog drains as bounded increments, not one batch") {
    val dir = tmp("graft_dsv2_admission"); val root = dir + "/t"
    append(root, 1L) // v1
    append(root, 2L) // v2
    append(root, 3L) // v3
    val sink = freshSink()
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      assert(sinkIds(sink) == Seq(1L, 2L, 3L), "the full backlog must still arrive")
      // one version per trigger: bootstrap lands at v1, then v2, then v3
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 3,
        s"expected 3 single-version batches, saw $dataBatches: " +
          q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}").mkString(", "))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("df.write.format(graft): saves are manifest commits, appends O(delta)") {
    import graft.pipeline.VersionedTable
    val root = tmp("graft_dsv2_write") + "/t"
    // bootstrap a fresh root
    rows(1L, 2L).write.format("graft").mode("append").save(root)
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 1L)
    assert(ids(spark.read.format("graft").load(root)) == Seq(1L, 2L))
    // append = pointer-only O(delta) commit
    rows(3L).write.format("graft").mode("append").save(root)
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.version == 2L)
    assert(snap.dataDirs.length == 2, "append must reference the base dirs, not rewrite")
    assert(ids(spark.read.format("graft").load(root)) == Seq(1L, 2L, 3L))
    // overwrite = rewrite commit, history stays time-travelable
    rows(9L).write.format("graft").mode("overwrite").save(root)
    assert(ids(spark.read.format("graft").load(root)) == Seq(9L))
    assert(ids(spark.read.format("graft").option("versionAsOf", "2").load(root))
      == Seq(1L, 2L, 3L))
    // additive append (new column) is fine; a TYPE change refuses
    Seq((4L, "r4", 1.5)).toDF("id", "v", "score")
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 2L)
    val e = intercept[Exception] {
      Seq((5L, 42)).toDF("id", "v").write.format("graft").mode("append").save(root)
    }
    assert(e.getMessage.contains("non-additive"), e.getMessage)
    // reading a never-committed root is loud, not an empty frame
    val e2 = intercept[Exception] {
      spark.read.format("graft").load(tmp("graft_dsv2_fresh") + "/t").collect()
    }
    assert(e2.getMessage.contains("no committed version"), e2.getMessage)
  }

  test("concurrent df.write appends serialize through the CAS: all land, none lost") {
    import graft.pipeline.VersionedTable
    val root = tmp("graft_dsv2_conc") + "/t"
    rows(0L).write.format("graft").mode("append").save(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writes = (1L to 8L).map { i =>
        scala.concurrent.Future {
          rows(i).write.format("graft").mode("append").save(root)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writes), scala.concurrent.duration.Duration("120s"))
    } finally pool.shutdown()
    assert(ids(spark.read.format("graft").load(root)) == (0L to 8L),
      "a lost CAS race must retry, not drop an append")
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 9L,
      "9 commits = 9 versions, serialized")
  }

  test("writeStream.format(graft): graft→graft replication, exactly-once across restart") {
    import graft.pipeline.VersionedTable
    val dir = tmp("graft_dsv2_sink"); val src = dir + "/src"; val dst = dir + "/dst"
    append(src, 1L, 2L)
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", dir + "/ck")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(ids(spark.read.format("graft").load(dst)) == Seq(1L, 2L))
    // two appends while the stream is down; resume must deliver each ONCE
    append(src, 3L)
    append(src, 4L)
    run()
    assert(ids(spark.read.format("graft").load(dst)) == Seq(1L, 2L, 3L, 4L),
      "restart must replicate exactly the missed commits, once each")
    // a third run with nothing new must not re-commit anything
    val v = VersionedTable.currentSnapshot(spark, dst).get.version
    run()
    assert(VersionedTable.currentSnapshot(spark, dst).get.version == v,
      "an empty resume must not create commits")
    // refusals: update mode, and a missing checkpoint location
    val e = intercept[Exception] {
      spark.readStream.format("graft").load(src)
        .writeStream.format("graft").outputMode("update")
        .option("checkpointLocation", dir + "/ck2").start(dst)
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("additive schema evolution: a pre-evolution delta dir null-fills new columns") {
    val dir = tmp("graft_dsv2_evolve"); val root = dir + "/t"
    append(root, 1L) // (id, v)
    VersionedTable.commitDelta(spark, root, "parquet",
      Seq((2L, "r2", 7.5)).toDF("id", "v", "score"))
    val sink = freshSink()
    // stream declares the EVOLVED schema; the v1 dir lacks `score`
    val q = spark.readStream.format("graft")
      .schema(VersionedTable.read(spark, root).schema)
      .load(root)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", dir + "/ck")
      .start()
    try {
      q.processAllAvailable()
      val m = spark.table(sink).collect()
        .map(r => r.getAs[Long]("id") -> Option(r.getAs[Any]("score"))).toMap
      assert(m(1L).isEmpty, "pre-evolution rows must null-fill the new column")
      assert(m(2L).contains(7.5))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }
}

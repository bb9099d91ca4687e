package graft.streaming

import graft.SparkSpec
import graft.pipeline.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

/** The exactly-committed contract of [[VersionedTable.readStream]]
  * (the DSv2 `graft` micro-batch stream):
  * an unpublished delta dir never streams, restarts resume at the
  * checkpointed version, compaction/vacuum during the stream is
  * invisible, rewrites fail loudly, and a fresh stream bootstraps the
  * full snapshot even after compaction+vacuum swept the delta dirs.
  */
class VersionedStreamSuite extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshSink(): String = { n += 1; s"vss_sink_$n" }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(vals: Long*): DataFrame = vals.map(v => (v, s"r$v")).toDF("id", "v")

  private def append(root: String, vals: Long*): Long =
    VersionedTable.commitDelta(spark, root, "parquet", rows(vals: _*))

  private def ids(sink: String): Seq[Long] =
    spark.table(sink).collect().map(_.getAs[Long]("id")).sorted.toSeq

  private def start(root: String, sink: String, ckpt: String,
                    startingVersion: Option[String] = None) =
    VersionedTable.readStream(spark, root, startingVersion = startingVersion)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

  test("an unpublished delta dir never streams; it streams once its commit publishes") {
    val dir = tmp("graft_vss_orphan"); val root = dir + "/t"
    append(root, 1L, 2L)
    // a committer crashed between writing its delta dir and the
    // manifest CAS: the dir exists on storage with NO committed pointer
    rows(99L).write.parquet(root + "/data-delta-orphanaa")
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L),
        s"orphan rows leaked into the stream: ${ids(sink)}")
      // the same rows through a PUBLISHED commit do stream
      append(root, 3L)
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L, 3L))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("restart from checkpoint resumes at the committed version: no skip, no replay") {
    val dir = tmp("graft_vss_restart"); val root = dir + "/t"
    val out = dir + "/out"
    // file sink, not memory: the memory sink refuses checkpoint
    // recovery, and the parquet sink's own commit log additionally
    // proves end-to-end exactly-once across the restart
    def run(): Unit = {
      val q = VersionedTable.readStream(spark, root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", dir + "/ck").outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    append(root, 1L, 2L)
    run()
    assert(spark.read.parquet(out).collect().map(_.getAs[Long]("id")).sorted.toSeq
      == Seq(1L, 2L))
    // two appends while the stream is down, then resume from checkpoint
    append(root, 3L)
    append(root, 4L)
    run()
    assert(spark.read.parquet(out).collect().map(_.getAs[Long]("id")).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L),
      "restart must deliver exactly the missed versions, once each")
  }

  test("compaction and vacuum during the stream are invisible") {
    val dir = tmp("graft_vss_compact"); val root = dir + "/t"
    append(root, 1L)
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      append(root, 2L)
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L))
      // maintenance compaction repackages rows already streamed; vacuum
      // then sweeps the old manifests/dirs the stream no longer needs
      VersionedTable.compact(spark, root)
      VersionedTable.vacuum(spark, root, keep = 1, graceMs = 0L)
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L), "compaction re-delivered rows")
      append(root, 3L)
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L, 3L))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("a merge/overwrite commit in the span fails the stream with instructions") {
    val dir = tmp("graft_vss_rewrite"); val root = dir + "/t"
    append(root, 1L)
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      VersionedTable.commit(spark, root, "parquet", _ => rows(7L, 8L))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains("not streamable"), s"unexpected failure: $msg")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("fresh stream bootstraps the full snapshot after compaction+vacuum") {
    val dir = tmp("graft_vss_boot"); val root = dir + "/t"
    append(root, 1L)
    append(root, 2L)
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(spark, root, keep = 1, graceMs = 0L)
    // the delta dirs are GONE — the old glob source had nothing to read
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L),
        "initial batch must deliver the full current snapshot")
      append(root, 3L)
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L, 3L))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("additive source schema evolution: extra columns drop, missing ones null-fill") {
    import spark.implicits._
    val dir = tmp("graft_vss_evolve"); val root = dir + "/t"
    append(root, 1L) // schema (id, v) — the stream's declared schema
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      // a later delta grows a column: the checkpointed stream schema
      // must keep working — the extra column is dropped
      VersionedTable.commitDelta(spark, root, "parquet",
        Seq((2L, "r2", 3.14)).toDF("id", "v", "extra"))
      q.processAllAvailable()
      assert(ids(sink) == Seq(1L, 2L))
      // a delta missing a declared column null-fills it
      VersionedTable.commitDelta(spark, root, "parquet",
        Seq(Tuple1(3L)).toDF("id"))
      q.processAllAvailable()
      val rows = spark.table(sink).collect()
        .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("v"))).toMap
      assert(rows(3L).isEmpty, "missing declared column must read as null")
      assert(rows(2L).contains("r2"))
      assert(spark.table(sink).columns.toSeq == Seq("id", "v"))
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("non-additive type change fails the stream instead of silently casting") {
    import spark.implicits._
    val dir = tmp("graft_vss_typechg"); val root = dir + "/t"
    append(root, 1L) // declared stream schema: (id long, v string)
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      // the source narrows v from string to a long — Spark cast
      // semantics would silently coerce; the pinned contract is
      // add/drop only, so the stream must fail with the remedy
      VersionedTable.commitDelta(spark, root, "parquet",
        Seq((2L, 42L)).toDF("id", "v"))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("changed type"))),
        s"expected the type-change refusal, got: ${e.getMessage}")
      assert(ids(sink) == Seq(1L), "no coerced rows may reach the sink")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }

  test("startingVersion=latest pins at FIRST resolution — a restart must not re-resolve") {
    val dir = tmp("graft_vss_pin"); val root = dir + "/t"
    append(root, 1L)
    append(root, 2L)
    // the stream as the engine builds it: table -> scan -> micro-batch
    // stream over the checkpoint's source metadata dir
    def stream(meta: String): graft.sources.GraftMicroBatchStream = {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root, "startingVersion", "latest"))
      val ds = new graft.sources.GraftDataSource
      ds.getTable(ds.inferSchema(opts), Array.empty, opts.asCaseSensitiveMap())
        .asInstanceOf[graft.sources.GraftTable].newScanBuilder(opts).build()
        .toMicroBatchStream(meta).asInstanceOf[graft.sources.GraftMicroBatchStream]
    }
    val meta = dir + "/ck/sources/0"
    val s1 = stream(meta)
    assert(s1.resolvedStart == 2L)
    // the table moves while the stream is down; if batch 0's offset was
    // logged but never committed, a restart that re-resolved 'latest'
    // would skip (2, 3] silently — the persisted resolution prevents it
    append(root, 3L)
    val s2 = stream(meta)
    assert(s2.resolvedStart == 2L,
      s"restart re-resolved 'latest' to ${s2.resolvedStart} — the skip window is open")
    // a DIFFERENT stream (its own metadata dir) resolves fresh
    val s3 = stream(dir + "/ck2/sources/0")
    assert(s3.resolvedStart == 3L)
  }

  test("startingVersion=latest skips history; a number streams strictly after it") {
    val dir = tmp("graft_vss_latest"); val root = dir + "/t"
    append(root, 1L)
    append(root, 2L)
    val s1 = freshSink()
    val q1 = start(root, s1, dir + "/ck1", startingVersion = Some("latest"))
    try {
      q1.processAllAvailable()
      assert(ids(s1) == Nil, "latest must not re-deliver history")
      append(root, 3L)
      q1.processAllAvailable()
      assert(ids(s1) == Seq(3L))
    } finally { q1.stop(); spark.catalog.dropTempView(s1) }
    val s2 = freshSink()
    val q2 = start(root, s2, dir + "/ck2", startingVersion = Some("1"))
    try {
      q2.processAllAvailable()
      assert(ids(s2) == Seq(2L, 3L), s"after v1 means v2..HEAD, got ${ids(s2)}")
    } finally { q2.stop(); spark.catalog.dropTempView(s2) }
  }

  test("readStream plans through the DSv2 graft micro-batch stream") {
    val dir = tmp("graft_vss_dsv2"); val root = dir + "/t"
    append(root, 1L)
    val sink = freshSink()
    val q = start(root, sink, dir + "/ck")
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.analyzed
      assert(plan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation => r
      }.nonEmpty, s"readStream did not plan a DSv2 micro-batch scan:\n$plan")
    } finally { q.stop(); spark.catalog.dropTempView(sink) }
  }
}

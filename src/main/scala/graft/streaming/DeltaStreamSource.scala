package graft.streaming

import graft.sources.DeltaRead
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.{ColumnBridge, StreamingShims}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SOURCE over a (foreign or graft-written) Delta
  * Lake table — the read-side mate of [[EventStreams.deltaAppendSink]],
  * completing the delta interop loop: a delta-spark user can point
  * `readStream` at the same table here and get the same semantics.
  * Offsets ARE delta log versions; each micro-batch is exactly the
  * files ADDED in the offset span `(start, end]`:
  *
  *  - `getOffset` probes the log head (the `_last_checkpoint` fast
  *    path when fresh, one LIST otherwise); a version becomes visible
  *    only when its commit JSON is fully published — the log IS the
  *    gate, so there is no read-uncommitted window.
  *  - `getBatch` replays the span's commit JSONs (driver-side, bounded
  *    by trigger cadence) and loads the added files through the same
  *    log-planned scan as the batch reader (partition values from the
  *    log, `add.stats` data skipping). Actions with `dataChange=false`
  *    (OPTIMIZE repackaging) neither stream nor fail the stream.
  *  - non-append commits follow delta-spark's source contract: a
  *    commit that removed files FAILS the stream by default;
  *    `.option("ignoreDeletes", true)` skips delete-only commits
  *    (their removed rows just never retract), and
  *    `.option("ignoreChanges", true)` additionally streams the adds
  *    of update/merge commits (their rewritten files re-stream —
  *    downstream must dedup, exactly delta-spark's documented caveat).
  *  - the first batch delivers the FULL snapshot at the first
  *    trigger's head version; `startingVersion` opts out (`"latest"`
  *    pins the creation-time head ONCE in the checkpoint-scoped
  *    metadataPath — same durability contract as the graft source —
  *    and a number N streams commits strictly after N).
  *  - `.option("readChangeFeed", true)` (delta-spark's option, round
  *    14) streams the CHANGE FEED instead: each batch is the span's
  *    [[DeltaRead.readChanges]] rows (+_change_type/_commit_version/
  *    _commit_timestamp) — deletes and update pre/postimages arrive
  *    properly typed instead of failing the stream, the initial batch
  *    is the snapshot as inserts, and column-mapped tables work
  *    (readChanges translates). Requires
  *    `delta.enableChangeDataFeed=true`; ignoreDeletes/ignoreChanges
  *    refuse in this mode (they approximate what CDF does exactly).
  *
  * Schema: pinned at stream start (the engine's checkpoint schema);
  * additive source evolution null-fills/drops per batch, a changed
  * column TYPE fails the stream — the same contract as the versioned
  * `graft` stream ([[graft.sources.GraftMicroBatchStream]]), and the
  * same posture delta-spark takes.
  *
  * Scale: per trigger the driver parses only the span's commit JSONs
  * (O(files touched), same residency as delta-spark's DeltaSource);
  * the data load is one planned scan of the span's files.
  */
class DeltaStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta source requires a table root: .load(root) or .option(\"path\", root)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val s = schema.getOrElse {
      require(DeltaRead.isDeltaTable(spark, root),
        s"$root is not a Delta table (no _delta_log) — the graft-delta stream " +
          "needs a committed table, or an explicit .schema(...)")
      val base = DeltaRead.snapshot(spark, root).schema
      import org.apache.spark.sql.types._
      val withCdf =
        if (parameters.get("readChangeFeed").exists(_.trim.equalsIgnoreCase("true")))
          StructType(base.fields ++ Seq(
            StructField("_change_type", StringType, nullable = true),
            StructField("_commit_version", LongType, nullable = true),
            StructField("_commit_timestamp", TimestampType, nullable = true)))
        else base
      if (parameters.get("withRowIds").exists(_.trim.equalsIgnoreCase("true")))
        StructType(withCdf.fields :+ StructField("_row_id", LongType, nullable = true))
      else withCdf
    }
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val declared = sourceSchema(sqlContext, schema, providerName, parameters)._2
    // -1 is the "before any commit" sentinel — delta versions start AT
    // ZERO (unlike graft manifests), so 0 is a real, streamable commit
    val initialFrom = StartingVersion.parse(spark, parameters.get("startingVersion"),
      metadataPath, none = -1L, () => DeltaRead.latestVersion(spark, root).getOrElse(-1L))
    def flag(name: String): Boolean =
      parameters.get(name).exists(_.trim.equalsIgnoreCase("true"))
    val maxFiles = parameters.get("maxFilesPerTrigger").map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxFilesPerTrigger must be a positive integer, got '$v'")
      }
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
    val cdf = flag("readChangeFeed")
    val rowIds = flag("withRowIds")
    if (rowIds) {
      val snap0 = DeltaRead.snapshot(spark, root)
      require(snap0.minWriter >= 7 && snap0.writerFeatures.contains("rowTracking"),
        s"withRowIds on $root needs the rowTracking writer feature " +
          "(DeltaWrite.setProperties delta.enableRowTracking=true)")
    }
    if (cdf) {
      require(!flag("ignoreDeletes") && !flag("ignoreChanges"),
        "readChangeFeed streams every change properly typed — ignoreDeletes/" +
          "ignoreChanges have no meaning with it; drop the options")
      require(graft.sources.DeltaRead.snapshot(spark, root).configuration
          .get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true")),
        s"readChangeFeed on $root needs delta.enableChangeDataFeed=true " +
          "(DeltaWrite.setProperties)")
    }
    new DeltaTableSource(spark, root, declared, initialFrom,
      ignoreDeletes = flag("ignoreDeletes"), ignoreChanges = flag("ignoreChanges"),
      maxFilesPerTrigger = maxFiles, readChangeFeed = cdf, withRowIds = rowIds)
  }
}

class DeltaTableSource(spark: SparkSession, root: String,
                       override val schema: StructType,
                       initialFrom: Long,
                       ignoreDeletes: Boolean,
                       ignoreChanges: Boolean,
                       maxFilesPerTrigger: Option[Int] = None,
                       readChangeFeed: Boolean = false,
                       withRowIds: Boolean = false) extends Source {

  // COLUMN-MAPPED tables stream too (round 15): the commit parse
  // yields add.partitionValues in PHYSICAL-name space (the protocol's
  // on-log shape), and the synthetic span snapshot translates the keys
  // to logical before the scan — the same pvKeys translation the
  // full-snapshot build does. (The CDF mode loads through readChanges,
  // which translates mapping itself.)

  private def versionOf(o: OffsetV1): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  /** Additive evolution only: order/null-fill/drop columns, fail on a
    * changed type (the cast only normalizes nullability/metadata).
    */
  private def conform(df: DataFrame): DataFrame = {
    ColumnBridge.changedType(schema, df.schema).foreach { case (f, dt) =>
      throw new IllegalStateException(
        s"delta stream at $root: column '${f.name}' changed type from " +
          s"${f.dataType.simpleString} (checkpointed stream schema) to " +
          s"${dt.simpleString} in the source — non-additive schema evolution " +
          "is not streamable; restart the stream with a fresh checkpoint")
    }
    val present = df.schema.fieldNames.toSet
    df.select(schema.fields.toSeq.map(f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }

  // newest version already HANDED to the engine (getOffset return or a
  // recovered getBatch's end) — the base the rate limiter counts from.
  // The engine replays the checkpointed getBatch before its first
  // getOffset, so a restart resumes counting from the right place.
  @volatile private var handedOut: Long = initialFrom

  /** RATE LIMITING (`maxFilesPerTrigger`, delta-spark's option): the
    * offset advances commit-by-commit until the span's cumulative add
    * count would exceed the cap — at least ONE commit always advances
    * (a single commit larger than the cap must deliver, never stall).
    * Offsets are VERSION-granular here, so the cap rounds to commit
    * boundaries, and the initial full-snapshot batch (startingVersion
    * unset) delivers whole — cap the backfill by setting
    * startingVersion and letting the tail stream in capped batches.
    * Cost: O(commits taken) JSON parses per trigger with early exit —
    * a 100k-commit lag never parses past the cap.
    */
  override def getOffset: Option[OffsetV1] = {
    // never below the start: a startingVersion past the head waits for
    // the table to reach it instead of streaming from the lower head
    val head = DeltaRead.latestVersion(spark, root).filter(_ >= initialFrom)
    (head, maxFilesPerTrigger) match {
      case (None, _) => None
      case (Some(h), None) => Some(LongOffset(h))
      case (Some(h), Some(cap)) =>
        val base = handedOut
        val out =
          if (base < 0 || h <= base) h // initial snapshot, or no new commits
          else {
            var v = base
            var files = 0L
            var stop = false
            while (!stop && v < h) {
              val adds = DeltaRead.commitActions(spark, root, v, v + 1)
                .headOption.map(_.adds.length).getOrElse(0)
              if (v == base || files + adds <= cap) { files += adds; v += 1 }
              else stop = true
              if (files >= cap) stop = true
            }
            v
          }
        handedOut = math.max(handedOut, out)
        Some(LongOffset(out))
    }
  }

  /** CHANGE-FEED batch: the span's change rows from
    * [[DeltaRead.readChanges]] — deletes and update pre/postimages
    * stream properly typed instead of failing the source, the CDC
    * contract `ignoreChanges` only approximates. The initial batch
    * (no startingVersion) is the snapshot AS INSERTS stamped with the
    * head version (delta-spark's CDF-stream bootstrap).
    */
  private def changeBatch(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    def span(lo: Long, hi: Long): DataFrame =
      if (withRowIds) DeltaRead.readChangesWithRowIds(spark, root, lo, Some(hi))
      else DeltaRead.readChanges(spark, root, lo, Some(hi))
    if (from >= to && from >= 0L)
      return span(to, to).limit(0)
    if (from < 0L) {
      val logP = new org.apache.hadoop.fs.Path(root, "_delta_log")
      val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ts = try new java.sql.Timestamp(fs.getFileStatus(
        new org.apache.hadoop.fs.Path(logP, f"$to%020d.json")).getModificationTime)
      catch { case scala.util.control.NonFatal(_) =>
        new java.sql.Timestamp(System.currentTimeMillis) }
      (if (withRowIds) DeltaRead.readWithRowIds(spark, root, Some(to))
       else DeltaRead.read(spark, root, Some(to)))
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(to))
        .withColumn("_commit_timestamp", lit(ts))
    } else span(from + 1, to)
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val to = versionOf(end)
    handedOut = math.max(handedOut, to)
    val from = start.map(versionOf).getOrElse(initialFrom)
    if (readChangeFeed)
      return StreamingShims.asMicroBatch(conform(changeBatch(from, to)))
    def fullRead(): DataFrame =
      if (withRowIds) DeltaRead.readWithRowIds(spark, root, Some(to))
      else DeltaRead.read(spark, root, Some(to))
    val batch =
      if (from < 0L) fullRead()
      else if (from >= to) fullRead().limit(0)
      else {
        val commits = DeltaRead.commitActions(spark, root, from, to)
        commits.filter(_.removes > 0).foreach { c =>
          val deleteOnly = c.adds.isEmpty
          if (!(ignoreChanges || (deleteOnly && ignoreDeletes)))
            throw new UnsupportedOperationException(
              s"delta stream at $root: commit v${c.version} " +
                (if (deleteOnly) "deleted files — set .option(\"ignoreDeletes\", " +
                  "true) to skip delete-only commits (their rows never retract)"
                 else "rewrote files (update/merge/overwrite) — set " +
                  ".option(\"ignoreChanges\", true) to stream its added files " +
                  "(rewritten rows RE-stream; downstream must dedup), or stream " +
                  "an append-only table"))
        }
        val adds = commits.flatMap(_.adds)
        if (adds.isEmpty) fullRead().limit(0)
        else {
          // synthetic span snapshot -> the same log-planned scan as the
          // batch reader (partition literals, sizes, stats skipping)
          val meta = DeltaRead.snapshot(spark, root, Some(to))
          // commit-JSON partitionValues keys are PHYSICAL on mapped
          // tables; the Snapshot contract is logical keys (stats stay
          // physical — the scan skips in physical space)
          val physToLogical = meta.colMap.map(_.swap)
          def pvLogical(pv: Map[String, String]): Map[String, String] =
            if (physToLogical.isEmpty || pv == null) pv
            else pv.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
          val files = adds.map(a => decodeRel(a.path) -> pvLogical(a.partitionValues)).toMap
          val sizes = adds.map(a => decodeRel(a.path) -> a.size).toMap
          val stats = adds.collect { case a if a.stats != null => decodeRel(a.path) -> a.stats }
            .toMap
          val spanSnap = meta.copy(files = files, sizes = sizes, stats = stats)
          if (withRowIds) {
            // each add's log-resident baseRowId keys the span's rows —
            // q139's formula applied per micro-batch, so a streaming
            // consumer gets the same stable keys the batch read has
            adds.foreach { a =>
              require(a.baseRowId >= 0L,
                s"delta stream at $root: commit adds '${decodeRel(a.path)}' without " +
                  "a baseRowId — the span reaches before row tracking was " +
                  "enabled; restart the stream from a later startingVersion") }
            DeltaRead.readSnapshotRowIds(spark, root,
              spanSnap.copy(rowIds = adds.map(a => decodeRel(a.path) -> (a.baseRowId, to))
                .toMap), "_row_id")
          } else DeltaRead.readSnapshot(spark, root, spanSnap)
        }
      }
    StreamingShims.asMicroBatch(conform(batch))
  }

  private def decodeRel(enc: String): String = {
    val uri = new java.net.URI(enc)
    require(uri.getScheme == null && uri.getAuthority == null &&
      !Option(uri.getPath).exists(_.startsWith("/")),
      s"delta stream at $root: absolute add path '$enc' is not supported")
    uri.getPath
  }

  override def stop(): Unit = ()

  override def toString: String = s"DeltaTableSource[$root]"
}

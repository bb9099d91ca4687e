package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import graft.pipeline.VersionedTable
import graft.streaming.StartingVersion
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of the versioned-table protocol —
  * `spark.read.format("graft").load(root)` for batch (+
  * `.option("versionAsOf", N)` time travel) and
  * `spark.readStream.format("graft")` for the manifest-gated
  * exactly-committed stream. Ecosystem symmetry with the reference's
  * `format: delta` routing (reference: src/drune/engines/spark/steps/
  * reader.py:260-310 resolves `spark.read.format(...)` names); graft
  * tables get the same spelling users already know.
  *
  * Architecture: the scan IS Spark's own DSv2 parquet scan —
  * [[GraftScanBuilder]] subclasses ParquetScanBuilder over an explicit
  * file index resolved from the manifest (exact live files, including
  * a file-pruned merge's carried-over file references), so predicate
  * pushdown, nested-column pruning, vectorized reading and
  * whole-stage codegen are all the native parquet path — zero custom
  * readers to maintain or to slow down. The ONE override is
  * `toMicroBatchStream`: offsets are manifest versions and each
  * micro-batch plans exactly the files APPENDED in its offset span
  * ([[VersionedTable.appendedDirsBetween]]): full-snapshot first
  * batch, `startingVersion` incl. the persisted-once 'latest', rewrite
  * spans and changed column types refused loudly, additive schema
  * evolution null-filled by the parquet reader. It is the one
  * streaming read path of versioned tables
  * ([[VersionedTable.readStream]] routes here).
  *
  * Scope: parquet-format tables, flat OR hive-partitioned (partition
  * columns resolve from the manifest's leaf paths into a native
  * PartitionSpec, so partition pruning runs in the same scan — batch
  * AND micro-batch: a partitioned table's offset spans resolve
  * partition-qualified leaves through the same explicit-spec index,
  * so `readStream.format("graft")` keeps partition columns). Mixed
  * flat+partitioned snapshots and csv/json tables keep reading
  * through GRAFT_READ / [[VersionedTable.read]] — both refuse loudly
  * here rather than answering wrong.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  /** `df.writeStream.format("graft")` — each micro-batch lands as ONE
    * tagged append commit, EXACTLY-ONCE across crash replay: a
    * replayed batch finds its tag already in a manifest pointer (the
    * tag travels inside the atomically-CAS'd pointer, so there is no
    * rows-landed-but-tag-didn't window) and skips. The tag namespaces
    * by a SHA-256 of the checkpoint location, same scheme as
    * EventStreams.rollupSink. DSv1 Sink on purpose: `addBatch` hands
    * the driver a DataFrame that commitDelta writes directly — the V2
    * StreamingWrite path would mean re-implementing a parquet
    * DataWriter for zero additional capability. (Spark routes
    * writeStream here because GraftTable deliberately does not
    * advertise STREAMING_WRITE.)
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"the graft streaming sink is append-only (each batch is one append " +
        s"commit); got $outputMode — for update-mode upserts use " +
        "EventStreams.upsertSink (foreachBatch + MergeUpsert)")
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "the graft streaming sink needs a table root: .start(root) or .option(\"path\", root)"))
    val ckpt = parameters.getOrElse("checkpointLocation",
      throw new IllegalArgumentException(
        "the graft streaming sink needs .option(\"checkpointLocation\", ...) — " +
          "its exactly-once batch tags are scoped by the checkpoint identity"))
    new GraftStreamSink(root, ckpt, partitionColumns)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val root = GraftDataSource.rootOf(options)
    GraftDataSource.versionOf(options) match {
      case Some(v) => VersionedTable.readVersion(spark, root, v,
        GraftDataSource.formatOf(spark, root, options)).schema
      case None => VersionedTable.currentSnapshot(spark, root) match {
        case Some(s) => VersionedTable.readVersion(spark, root, s.version,
          GraftDataSource.formatOf(spark, root, options)).schema
        // fresh root: a WRITE is bootstrapping the table (its schema is
        // the incoming data's — ACCEPT_ANY_SCHEMA routes it through);
        // a READ of the empty schema refuses in newScanBuilder
        case None => new StructType()
      }
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // a user's .partitionBy(...) would otherwise be SILENTLY dropped
    // (the manifest protocol manages its own layout); refuse with the
    // API that does partition
    require(partitioning.isEmpty,
      "the graft format does not accept partitionBy — hive-partitioned commits " +
        "go through VersionedTable.commitDelta/commit(partitionBy = ...), and " +
        "clustered layouts through compact(zorderBy = ...)")
    new GraftTable(schema, new CaseInsensitiveStringMap(properties))
  }
}

private[graft] object GraftDataSource {
  def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "the graft format needs a table root: .load(root) or .option(\"path\", root)"))

  def versionOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map { s =>
      try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"versionAsOf must be a version number, got '$s'")
      }
    }

  /** Resolve and gate the table format: this face is parquet-only (the
    * scan machinery IS the parquet one).
    */
  def formatOf(spark: SparkSession, root: String,
               options: CaseInsensitiveStringMap): String = {
    val fmt = VersionedTable.resolveFormat(spark, root,
      Option(options.get("format")).getOrElse(""))
    require(fmt == "parquet",
      s"versioned table at $root is format '$fmt' — the DSv2 graft face reads " +
        "parquet tables; use GRAFT_READ / VersionedTable.read for other formats")
    fmt
  }

  /** One hive partition-path value coerced to its declared Catalyst
    * type (the internal representation PartitionSpec rows carry).
    * Covers the types Spark's own partition writer emits and the V1
    * union read infers; an exotic declared type refuses loudly with
    * the GRAFT_READ fallback rather than mis-typing rows.
    */
  /** Manifest-resolved leaf list (+ partition assignments and sizes)
    * → a native FileIndex over exactly the live files. When every
    * size is known (sidecars record them at commit), this is a
    * [[org.apache.spark.sql.graftbridge.ManifestFileIndex]] — ZERO
    * filesystem calls at plan time, the Delta/Iceberg posture; a
    * legacy snapshot with unknown sizes falls back to
    * InMemoryFileIndex (one eager listing). Shared by the batch scan
    * builder, the micro-batch planner and VersionedTable.read's
    * uniform-snapshot fast path.
    */
  def partitionedIndex(spark: SparkSession,
                       files: Seq[VersionedTable.LeafFile],
                       partSchema: org.apache.spark.sql.types.StructType,
                       dataSchema: org.apache.spark.sql.types.StructType,
                       root: String)
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    val spec =
      if (partSchema.isEmpty) org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
      else {
        // arity gate BEFORE the zip: zip silently truncates, and a flat
        // leaf against a non-empty partSchema (a flat append into a
        // partitioned table's micro-batch span) would build a 0-field
        // row against a 1-column partition schema — an obscure
        // execution-time arity crash instead of the documented refusal
        files.find(_.partitions.length != partSchema.length).foreach { bad =>
          throw new UnsupportedOperationException(
            s"versioned table at $root mixes partition layouts: leaf " +
              s"'${bad.path}' carries ${bad.partitions.length} partition segment(s) " +
              s"(${bad.partitions.map(_._1).mkString(", ")}) against partition " +
              s"schema (${partSchema.fieldNames.mkString(", ")}) — read this span " +
              "through VersionedTable.read/GRAFT_READ, or recommit with one layout")
        }
        val partitions = files
          .groupBy(f => (new Path(f.path).getParent, f.partitions.map(_._2)))
          .keys.toSeq.sortBy(_._1.toString)
          .map { case (dir, raw) =>
            val values = partSchema.fields.zip(raw).map { case (f, v) =>
              partitionValue(v, f, root)
            }
            org.apache.spark.sql.execution.datasources.PartitionPath(
              org.apache.spark.sql.catalyst.InternalRow.fromSeq(values.toIndexedSeq), dir)
          }
        org.apache.spark.sql.execution.datasources.PartitionSpec(partSchema, partitions)
      }
    if (files.nonEmpty && files.forall(_.bytes >= 0))
      new org.apache.spark.sql.graftbridge.ManifestFileIndex(
        spark, spec, files.map(f => (f.path, f.bytes)))
    else if (partSchema.isEmpty)
      new InMemoryFileIndex(spark, files.map(f => new Path(f.path)),
        Map.empty[String, String], Some(dataSchema))
    else
      new InMemoryFileIndex(spark, files.map(f => new Path(f.path)),
        Map.empty[String, String], Some(dataSchema),
        userSpecifiedPartitionSpec = Some(spec))
  }

  def partitionValue(raw: String, field: org.apache.spark.sql.types.StructField,
                     root: String): Any = {
    import org.apache.spark.sql.types._
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else field.dataType match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case ShortType => raw.toShort
      case ByteType => raw.toByte
      case BooleanType => raw.toBoolean
      case FloatType => raw.toFloat
      case DoubleType => raw.toDouble
      case DateType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(
          java.sql.Date.valueOf(raw))
      case other => throw new UnsupportedOperationException(
        s"versioned table at $root: partition column '${field.name}' has type " +
          s"${other.simpleString}, which the DSv2 graft face does not coerce from " +
          "partition paths — read this table with GRAFT_READ / VersionedTable.read")
    }
  }
}

class GraftTable(declaredSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  private val root = GraftDataSource.rootOf(options)

  /** The version a BATCH scan reads, pinned at TABLE construction —
    * i.e. at `spark.read...load()` time, so the returned DataFrame is
    * a stable snapshot however many actions run on it and however
    * many commits land meanwhile (newScanBuilder fires per action;
    * re-resolving there would make two collects of one DataFrame see
    * different data — Delta pins its relation snapshot the same way).
    * None = the table had no commits yet. Streaming ignores this: the
    * micro-batch stream resolves versions per offset span.
    */
  private val pinnedVersion: Option[Long] =
    GraftDataSource.versionOf(options)
      .orElse(VersionedTable.currentSnapshot(SparkSession.active, root).map(_.version))

  override def name(): String = s"graft:$root"

  override def schema(): StructType = declaredSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    require(declaredSchema.nonEmpty,
      s"versioned table at $root has no committed version yet — commit first " +
        "(or bootstrap it with df.write.format(\"graft\").save(root))")
    val merged = new CaseInsensitiveStringMap(
      (options.asCaseSensitiveMap().asScala ++ scanOptions.asCaseSensitiveMap().asScala).asJava)
    val fmt = GraftDataSource.formatOf(spark, root, merged)
    val (files, partCols) = pinnedVersion
      .map(v => VersionedTable.snapshotFilesPartitioned(spark, root, v))
      .getOrElse((Seq.empty[VersionedTable.LeafFile], Nil))
    if (partCols.isEmpty) {
      val index = GraftDataSource.partitionedIndex(
        spark, files, new StructType(), declaredSchema, root)
      new GraftScanBuilder(spark, index, declaredSchema, declaredSchema, merged, root, fmt)
    } else {
      // HIVE-PARTITIONED snapshot: hand the native parquet scan a
      // manifest-resolved partition spec instead of refusing — the
      // partition columns come from the paths the manifest references
      // (exact live leaves only; a directory listing would resurrect
      // a pruned merge's dead files), typed to the declared schema, so
      // Catalyst's partition pruning, filter pushdown and column
      // pruning all run the same native path as flat layouts.
      // Name matching is case-INSENSITIVE, like Spark's own column
      // resolution: a declared/inferred schema whose column case
      // differs from the directory names (dept=... vs a `Dept` field)
      // still resolves; the schema's spelling wins in the output.
      def sameCol(a: String, b: String): Boolean = a.equalsIgnoreCase(b)
      val dataSchema = StructType(
        declaredSchema.filterNot(f => partCols.exists(sameCol(_, f.name))))
      val partSchema = StructType(partCols.map(c =>
        declaredSchema.find(f => sameCol(f.name, c)).getOrElse(throw new IllegalStateException(
          s"partition column '$c' parsed from the layout of $root is missing from " +
            s"the inferred schema ${declaredSchema.simpleString}"))))
      val index = GraftDataSource.partitionedIndex(
        spark, files, partSchema, dataSchema, root)
      new GraftScanBuilder(spark, index, declaredSchema, dataSchema, merged, root, fmt)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, declaredSchema)
}

/** The DSv1 streaming sink behind `writeStream.format("graft")`:
  * tagged append commits, replay-idempotent (see createSink's doc).
  */
class GraftStreamSink(root: String, checkpointLocation: String,
                      partitionColumns: Seq[String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  private val ns = java.security.MessageDigest.getInstance("SHA-256")
    .digest(checkpointLocation.getBytes("UTF-8"))
    .take(12).map("%02x".format(_)).mkString

  /** The first batch pins the table schema check; later batches of
    * the same run keep the stream's (fixed) schema, so re-checking
    * every batch only costs on restarts. Same additive-only gate as
    * the batch writer: a TYPE change must refuse BEFORE the mistyped
    * delta lands and breaks every later read of the union.
    */
  private val checkedSchema = new java.util.concurrent.atomic.AtomicBoolean(false)

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val spark = data.sparkSession
    if (checkedSchema.compareAndSet(false, true)) {
      VersionedTable.currentSnapshot(spark, root).foreach { s =>
        val existing = VersionedTable.readVersion(spark, root, s.version, "parquet").schema
        ColumnBridge.changedType(data.schema, existing).foreach { case (f, dt) =>
          throw new IllegalArgumentException(
            s"graft streaming sink at $root: column '${f.name}' is " +
              s"${dt.simpleString} in the table but ${f.dataType.simpleString} " +
              "in the stream — non-additive schema changes are not appendable " +
              "(column add/drop is fine)")
        }
      }
    }
    val tag = s"sink-$ns-batch-$batchId"
    if (VersionedTable.taggedVersion(spark, root, tag).isEmpty)
      VersionedTable.commitDelta(spark, root, "parquet",
        org.apache.spark.sql.graftbridge.StreamingShims.asBatch(data.toDF()),
        partitionBy = partitionColumns, tag = Some(tag))
  }

  override def toString: String = s"GraftStreamSink[$root]"
}

/** `df.write.format("graft").mode("append"|"overwrite").save(root)` —
  * each save is ONE manifest commit through the versioned-table
  * protocol (append = O(delta) pointer publish via commitDelta,
  * overwrite = a rewrite commit), via the V1Write fallback the way
  * delta-spark routes its DSv2 writes: the protocol's commit path IS
  * the writer, so CAS serialization, stats sidecars, bounded
  * auto-compaction and vacuum semantics all apply unchanged. A fresh
  * root bootstraps (the first commit defines the schema); appends to
  * an existing table may add or omit columns (the read-side additive
  * union covers both) but a TYPE change on a present column refuses —
  * the same non-additive contract the streaming source pins.
  * ErrorIfExists/Ignore modes are refused by Spark for TableProvider
  * sources; merges stay on Writer/commitMerge where keys are explicit.
  */
class GraftWriteBuilder(root: String, tableSchema: StructType)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: Dataset[Row], overwriteFlag: Boolean): Unit = {
        val spark = data.sparkSession
        GraftDataSource.formatOf(spark, root, CaseInsensitiveStringMap.empty())
        // The additive-only gate must compare against the TABLE's
        // schema read from the manifest — the schema Spark hands
        // getTable on a write path is the incoming DATA's, so a check
        // against it would always pass and a long→int append would
        // land and break every subsequent read of the union.
        if (!overwrite) {
          VersionedTable.currentSnapshot(spark, root).foreach { s =>
            val existing = VersionedTable.readVersion(spark, root, s.version, "parquet").schema
            ColumnBridge.changedType(data.schema, existing).foreach { case (f, dt) =>
              throw new IllegalArgumentException(
                s"append to versioned table at $root: column '${f.name}' is " +
                  s"${dt.simpleString} in the table but ${f.dataType.simpleString} " +
                  "in the data — non-additive schema changes need an explicit " +
                  "overwrite (column add/drop is fine)")
            }
          }
        }
        if (overwrite) VersionedTable.commit(spark, root, "parquet", _ => data.toDF())
        else VersionedTable.commitDelta(spark, root, "parquet", data.toDF())
      }
    }
  }
}

/** ParquetScanBuilder whose build() yields a [[GraftScan]] — identical
  * batch scan, plus the micro-batch face. Being a FileScanBuilder
  * subclass keeps Catalyst's pushdown matching (PushDownUtils
  * dispatches on the class) working unchanged.
  *
  * build() additionally applies MANIFEST-STAT DATA SKIPPING: the
  * pushed data filters are reduced to per-column [lo, hi] intervals
  * and checked against the `_graft_stats` sidecars the commit path
  * wrote (one tiny sidecar read per data directory — never a footer
  * open per file), dropping every file whose recorded min/max cannot
  * match. The read-path analog of commitMerge's file pruning, and of
  * Delta's `add.stats` skipping: a selective filter on a clustered
  * column plans O(matching files), not O(table files), BEFORE any
  * parquet footer is touched. Conservative throughout — no sidecar,
  * no column stats, or an unsupported predicate shape just keeps the
  * file.
  */
class GraftScanBuilder(spark: SparkSession,
                       index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
                       fullSchema: StructType,
                       fileDataSchema: StructType,
                       options: CaseInsensitiveStringMap,
                       root: String,
                       format: String)
    extends ParquetScanBuilder(spark, index, fullSchema, fileDataSchema, options) {

  override def build(): ParquetScan = {
    val s = super.build()
    val files = index.inputFiles.toSeq
    val kept = GraftStatSkipping.prune(spark, files, pushedDataFilters)
    val inner =
      if (kept.length == files.length) s
      else {
        // a partitioned index's replacement must CARRY the partition
        // spec (partition columns would silently vanish mid-build);
        // listFiles treats spec dirs with no surviving files as empty
        val spec = index.partitionSpec()
        val pruned = index match {
          // manifest-synthesized index: the survivors' sizes are in
          // hand — the pruned index costs zero filesystem calls too
          case m: org.apache.spark.sql.graftbridge.ManifestFileIndex =>
            val keptSet = kept.toSet
            new org.apache.spark.sql.graftbridge.ManifestFileIndex(
              spark, spec, m.sizedFiles.filter(f => keptSet(f._1)))
          case _ =>
            new InMemoryFileIndex(spark, kept.map(new Path(_)),
              Map.empty[String, String], Some(fileDataSchema),
              userSpecifiedPartitionSpec =
                if (spec.partitionColumns.isEmpty) None else Some(spec))
        }
        s.copy(fileIndex = pruned)
      }
    new GraftScan(inner, root, skippingInfo = s"${kept.length} of ${files.length} files")
  }
}

/** File skipping against the commit-time `_graft_stats` sidecars —
  * and, through [[fileSurvives]], against any other per-file stats
  * source (the Delta log's `add.stats` rides the same machinery via
  * [[org.apache.spark.sql.graftbridge.StatsManifestFileIndex]]).
  */
object GraftStatSkipping {
  import graft.pipeline.FileStats
  import org.apache.spark.sql.sources._

  /** Widen a literal to the sidecar stat domain (ints→long,
    * floats→double); None = not a stats-comparable type.
    */
  private def widen(v: Any): Option[Any] = v match {
    case x: Int => Some(x.toLong)
    case x: Long => Some(x)
    case x: Short => Some(x.toLong)
    case x: Byte => Some(x.toLong)
    case x: Float => Some(x.toDouble)
    case x: Double => Some(x)
    case x: String => Some(x)
    case _ => None // dates/timestamps/decimals record no stats anyway
  }

  private def sameDomain(a: Any, b: Any): Boolean = (a, b) match {
    case (_: Long, _: Long) | (_: Double, _: Double) | (_: String, _: String) => true
    case _ => false
  }

  /** Reduce the (implicitly ANDed) pushed filters to per-column
    * closed intervals. Strict bounds relax to inclusive ones — the
    * check stays sound, at worst one extra file survives.
    */
  def intervals(filters: Seq[Filter]): Map[String, (Option[Any], Option[Any])] = {
    val acc = scala.collection.mutable.Map.empty[String, (Option[Any], Option[Any])]
    def tighten(col: String, lo: Option[Any], hi: Option[Any]): Unit = {
      val (l0, h0) = acc.getOrElse(col, (None, None))
      val l = (l0 ++ lo).reduceOption((a, b) =>
        if (sameDomain(a, b) && FileStats.cmp(a, b) >= 0) a else b)
      val h = (h0 ++ hi).reduceOption((a, b) =>
        if (sameDomain(a, b) && FileStats.cmp(a, b) <= 0) a else b)
      acc(col) = (l, h)
    }
    filters.foreach {
      case EqualTo(c, v) => widen(v).foreach(w => tighten(c, Some(w), Some(w)))
      case GreaterThan(c, v) => widen(v).foreach(w => tighten(c, Some(w), None))
      case GreaterThanOrEqual(c, v) => widen(v).foreach(w => tighten(c, Some(w), None))
      case LessThan(c, v) => widen(v).foreach(w => tighten(c, None, Some(w)))
      case LessThanOrEqual(c, v) => widen(v).foreach(w => tighten(c, None, Some(w)))
      case In(c, vs) if vs.nonEmpty =>
        val ws = vs.toSeq.flatMap(widen)
        if (ws.length == vs.length && ws.forall(sameDomain(_, ws.head)))
          tighten(c, Some(ws.min(Ordering.fromLessThan[Any](FileStats.cmp(_, _) < 0))),
            Some(ws.max(Ordering.fromLessThan[Any](FileStats.cmp(_, _) < 0))))
      case _ => () // IsNotNull, Or, StringStartsWith, ... — no interval
    }
    acc.toMap
  }

  /** The directory holding a file's `_graft_stats` sidecar and the
    * file's sidecar KEY: commit paths write ONE sidecar at the data-dir
    * top keyed by dir-relative paths, so a leaf inside hive partition
    * subtrees (`data-x/p=1/part-...`) resolves by walking the
    * `col=value` segments up and re-joining them into the key.
    */
  private def sidecarLoc(f: Path): (Path, String) = {
    var dir = f.getParent
    var key = f.getName
    while (dir != null && dir.getName.contains("=") && !dir.getName.startsWith("=")) {
      key = dir.getName + "/" + key
      dir = dir.getParent
    }
    (dir, key)
  }

  /** Exact row count of `files` from their sidecars' per-file counts —
    * None unless EVERY file has an entry (a partial sum would be a
    * wrong statistic, worse than none). One sidecar read per dir.
    */
  def exactRowCount(spark: SparkSession, files: Seq[String]): Option[Long] = {
    if (files.isEmpty) return Some(0L)
    val conf = spark.sparkContext.hadoopConfiguration
    var total = 0L
    for ((dir, fs) <- files.map(f => (sidecarLoc(new Path(f)), f))
           .groupMap(_._1._1)(x => x._1._2)) {
      val stats = try FileStats.readSidecar(dir.getFileSystem(conf), dir)
        catch { case scala.util.control.NonFatal(_) => None }
      stats match {
        case None => return None
        case Some(entries) =>
          val byName = entries.map(e => e.file -> e.rows).toMap
          for (key <- fs) byName.get(key) match {
            case Some(n) => total += n
            case None => return None
          }
      }
    }
    Some(total)
  }

  /** Can a file whose per-column ranges are `st` satisfy every
    * interval? A column without stats always matches (conservative);
    * domain mismatches never prune. The single survival predicate
    * both the sidecar route below and the Delta-log route share.
    */
  def fileSurvives(ivs: Map[String, (Option[Any], Option[Any])],
                   st: graft.pipeline.FileStats.FileStat): Boolean =
    ivs.forall { case (col, (lo, hi)) =>
      st.cols.get(col) match {
        case None => true
        case Some(cs) =>
          (!lo.exists(l => sameDomain(cs.max, l)) ||
            FileStats.cmp(cs.max, lo.get) >= 0) &&
          (!hi.exists(h => sameDomain(cs.min, h)) ||
            FileStats.cmp(cs.min, hi.get) <= 0)
      }
    }

  /** Keep only the files whose sidecar stats can satisfy every
    * interval. Unsupported shapes keep everything (zero-cost exit:
    * nothing is read when no usable interval exists).
    */
  def prune(spark: SparkSession, files: Seq[String],
            filters: Seq[Filter]): Seq[String] = {
    val ivs = intervals(filters).filter { case (_, (lo, hi)) => lo.isDefined || hi.isDefined }
    if (ivs.isEmpty || files.isEmpty) return files
    val conf = spark.sparkContext.hadoopConfiguration
    files.groupBy(f => sidecarLoc(new Path(f))._1).toSeq.flatMap { case (dir, fs) =>
      val stats = try FileStats.readSidecar(dir.getFileSystem(conf), dir)
        catch { case scala.util.control.NonFatal(_) => None }
      stats match {
        case None => fs // stats-less dir: scan it all
        case Some(entries) =>
          val byName = entries.map(e => e.file -> e).toMap
          fs.filter { f =>
            byName.get(sidecarLoc(new Path(f))._2) match {
              case None => true // file not in the sidecar: conservative
              case Some(st) => fileSurvives(ivs, st)
            }
          }
      }
    }
  }
}

/** A ParquetScan (same fields, same batch behavior) that additionally
  * streams: `toMicroBatchStream` hands back the manifest-offset
  * micro-batch stream instead of FileScan's UnsupportedOperation.
  * Statistics and explain output carry the manifest's knowledge:
  * `numRows` comes from the sidecars' exact per-file row counts (a
  * join planner that knows the post-skipping cardinality picks
  * broadcast joins a size-only estimate would miss), and the
  * formatted explain shows how many files stat-skipping kept.
  */
class GraftScan(inner: ParquetScan, root: String,
                skippingInfo: String = "")
    extends ParquetScan(inner.sparkSession, inner.hadoopConf, inner.fileIndex,
      inner.dataSchema, inner.readDataSchema, inner.readPartitionSchema,
      inner.pushedFilters, inner.options, inner.pushedAggregate,
      inner.partitionFilters, inner.dataFilters,
      // every field carries over — dropping the variant extractions
      // here would silently discard a pushed variant_get projection
      inner.pushedVariantExtractions) {

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(this, root, checkpointLocation)

  // once per scan instance — planning may ask repeatedly
  private lazy val sidecarRows: Option[Long] =
    GraftStatSkipping.exactRowCount(sparkSession, fileIndex.inputFiles.toSeq)

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = super.estimateStatistics()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
      override def numRows(): java.util.OptionalLong = sidecarRows match {
        case Some(n) => java.util.OptionalLong.of(n)
        case None => base.numRows()
      }
    }
  }

  override def getMetaData(): Map[String, String] = {
    val base = super.getMetaData()
    if (skippingInfo.isEmpty) base
    else base + ("GraftStatSkipping" -> skippingInfo)
  }
}

/** DSv2 offset = committed manifest version (0 is the "before any
  * commit" sentinel, versions start at 1); its json is the plain
  * version number.
  */
case class GraftOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

/** Micro-batch stream over a versioned table: offsets ARE committed
  * manifest versions; each batch plans exactly the files appended in
  * `(start, end]`. Orphan delta dirs (crashed committers) never
  * stream — only manifest-published files are ever enumerated. The
  * first batch of a fresh stream delivers the full snapshot at its
  * end version unless `startingVersion` opts out (`"latest"` resolves
  * once and persists under the checkpoint, surviving restarts).
  *
  * The reader factory comes from the template scan — it depends only
  * on schema/conf/options, not on a file list, so ONE factory decodes
  * every batch's partitions; per-span planning swaps the file index
  * (case-class copy) and reuses the native FileScan partitioning
  * (split by maxPartitionBytes, etc.).
  */
class GraftMicroBatchStream(template: GraftScan, root: String,
                            checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = template.sparkSession

  private val startFrom: Long =
    StartingVersion.parse(spark, Option(template.options.get("startingVersion")),
      checkpointLocation, none = 0L,
      () => VersionedTable.currentSnapshot(spark, root).map(_.version).getOrElse(0L))

  /** Admission control: at most this many manifest VERSIONS advance
    * per trigger (Delta's maxFilesPerTrigger analog at the commit
    * granularity graft offsets use). Without it, a stream restarted
    * after a long outage — or bootstrapping against a year of
    * commits — must swallow the whole backlog as ONE micro-batch,
    * which at 100 TB is an unplannable unit of work; with it the
    * backlog drains as bounded, checkpointed increments. The cap also
    * applies to the bootstrap batch (the snapshot lands at version
    * `start + cap`, appends continue from there) — note a rewrite
    * commit inside the capped range still refuses as usual.
    */
  private val maxVersionsPerTrigger: Option[Long] =
    Option(template.options.get("maxVersionsPerTrigger")).map { s =>
      val v = try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxVersionsPerTrigger must be a positive number, got '$s'")
      }
      require(v > 0, s"maxVersionsPerTrigger must be positive, got $v")
      v
    }

  private def head: Long =
    VersionedTable.currentSnapshot(spark, root).map(_.version).getOrElse(startFrom)

  /** The resolved exclusive start (testing seam: 'latest' pinning). */
  private[graft] def resolvedStart: Long = startFrom

  override def initialOffset(): Offset = GraftOffset(startFrom)

  override def latestOffset(): Offset = GraftOffset(head)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Never below `start`: a `startingVersion` past the head must wait
    * for the table to reach it, not commit the lower head as an offset
    * that later spans would stream from.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].version
    GraftOffset(math.max(from, maxVersionsPerTrigger match {
      case Some(cap) => math.min(head, from + cap)
      case None => head
    }))
  }

  override def reportLatestOffset(): Offset = GraftOffset(head)

  override def deserializeOffset(json: String): Offset = GraftOffset(json.trim.toLong)

  /** Spark plans one batch's scan node several times (every copy of the
    * exec asks the stream again), and each plan reads the span's
    * manifests and sidecars. A span of committed versions never
    * changes, so the last span's partitions are reused.
    */
  private var lastPlan: Option[((Long, Long), Array[InputPartition])] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val span = (start.asInstanceOf[GraftOffset].version, end.asInstanceOf[GraftOffset].version)
      lastPlan.collect { case (`span`, parts) => parts }.getOrElse {
        val parts = planSpan(span._1, span._2)
        lastPlan = Some(span -> parts)
        parts
      }
    }

  private def planSpan(from: Long, to: Long): Array[InputPartition] = {
    def rewriteRefusal: Nothing = throw new UnsupportedOperationException(
      s"versioned table at $root has a merge/overwrite commit in the offset " +
        s"span ($from, $to] — rewrites are not streamable row-wise on plain " +
        "parquet. Stream append-only tables, or consume rewrites as batch " +
        "snapshots via diffVersions.")
    // The template scan knows whether the table is hive-partitioned
    // (its index was built from the manifest's PartitionSpec): a
    // partitioned table's spans resolve partition-qualified leaves
    // and plan through the same explicit-PartitionSpec index as the
    // batch scan, so partition columns survive micro-batching.
    val partSchema = template.fileIndex.partitionSchema
    val entries =
      if (from >= to) Nil
      else if (from == 0L) VersionedTable.snapshotEntries(spark, root, to)
      else VersionedTable.appendedDirsBetween(spark, root, from, to).getOrElse(rewriteRefusal)
    // Additive evolution only: the parquet reader null-fills a column a
    // dir lacks, but a dir whose column TYPE differs from the stream's
    // would fail mid-read or be widened silently. The commit-time schema
    // sidecars settle it without opening a footer; a dir without one
    // is left to the parquet reader.
    VersionedTable.entrySchemas(spark, root, entries).foreach { case (dir, dirSchema) =>
      ColumnBridge.changedType(template.dataSchema, dirSchema).foreach { case (f, dt) =>
        throw new IllegalStateException(
          s"versioned stream at $root: column '${f.name}' changed type from " +
            s"${f.dataType.simpleString} (checkpointed stream schema) to " +
            s"${dt.simpleString} in data dir $dir — non-additive schema evolution " +
            "is not streamable; restart the stream with a fresh checkpoint " +
            "(only column add/drop is supported across restarts)")
      }
    }
    val files = VersionedTable.entryFilesPartitioned(spark, root, entries)._1
    if (files.isEmpty) Array.empty
    else {
      val index = GraftDataSource.partitionedIndex(
        spark, files, partSchema, template.dataSchema, root)
      template.copy(fileIndex = index).toBatch.planInputPartitions()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    template.toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftMicroBatchStream[$root]"
}

package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Read-only interop with EXISTING Delta Lake tables — the reference's
  * sources accept `format: delta` (reference: src/drune/engines/spark/
  * steps/reader.py:25-30 passes the format straight to spark.read, and
  * its merge sinks are DeltaTable writes, writer.py:40-100), so a
  * migrating user points graft at Delta tables on day one. Graft's own
  * table protocol is [[graft.pipeline.VersionedTable]]; this reader
  * exists so those EXISTING tables remain readable without the
  * delta-spark dependency (not in the budget) — it parses the PUBLIC
  * Delta transaction-log protocol (github.com/delta-io/delta
  * PROTOCOL.md) directly:
  *
  *  - `_delta_log/NNNNNNNNNNNNNNNNNNNN.json`: one JSON action per
  *    line — `metaData` (schemaString + partitionColumns), `add`
  *    (file joins the snapshot), `remove` (file leaves it),
  *    `protocol` (reader feature gate).
  *  - `NNN...N.checkpoint.parquet` (and the multi-part
  *    `NNN.checkpoint.A.B.parquet` form) under `_delta_log`: the
  *    compacted form of all actions ≤ checkpoint version; snapshot
  *    reconstruction starts at the newest COMPLETE checkpoint ≤ the
  *    requested version and replays the JSON commits after it.
  *  - `_last_checkpoint`: pointer to the newest checkpoint — honored
  *    as a fast path for latest-version reads (no log listing at
  *    all); time travel and stale pointers fall back to a listing.
  *
  * Supported: snapshot read, time travel by version, partitioned
  * tables (partition values come from the log, not the directory
  * names), and COLUMN MAPPING in `name` mode (reader protocol v2, or
  * v3 with the `columnMapping` feature): the scan reads the physical
  * parquet names and renames to the logical schema; partition-value
  * keys translate at snapshot build. Refused loudly: v3 reader
  * features this reader does not implement (ignoring an unknown
  * reader feature is silent data corruption by the protocol's
  * design; columnMapping — name and id mode, nested included —
  * deletionVectors, v2Checkpoint, timestampNtz, and typeWidening ARE
  * implemented).
  *
  * Scale note: driver-side parsing is O(actions since last checkpoint)
  * — the checkpointed state itself (the unbounded part) replays as a
  * distributed job, and only the LIVE file list lands on the driver
  * (for scan planning; same residency as delta-spark's prepared scan).
  * The DATA read is a normal distributed parquet scan over the live
  * file list with pushdown/pruning intact; partitioned tables read
  * one scan branch per live partition value (fine for the dimension/
  * medallion tables this interop targets; a million-partition fact
  * migration should land in VersionedTable, not stay in Delta).
  */
object DeltaRead {

  private val mapper = new ObjectMapper()

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      /** live data files: path -> partition values (null for unpartitioned) */
      files: Map[String, Map[String, String]],
      /** live file sizes in bytes, from the log's `add.size` (-1 when
        * a legacy action lacked it) — lets the scan plan from log
        * metadata alone, no per-file stat calls
        */
      sizes: Map[String, Long] = Map.empty,
      /** the table's `metaData.id` — the writer must CARRY it through
        * schema-changing overwrites (a new id means "different table"
        * to other Delta clients); null on legacy logs that never set it
        */
      metaId: String = null,
      /** `txn` (SetTransaction) high-water marks: appId -> newest
        * committed version — the protocol's idempotent-writer handshake.
        * A streaming sink checks its appId before committing a batch,
        * so a replayed micro-batch (restart from the streaming
        * checkpoint) is recognized and dropped instead of duplicated.
        */
      txns: Map[String, Long] = Map.empty,
      /** raw `add.stats` JSON per live file (absent when the writer
        * recorded none) — numRecords/minValues/maxValues/nullCount,
        * the log-resident stats DATA SKIPPING reads from
        * ([[read]] prunes files whose range cannot match a pushed
        * filter, delta-spark's skipping semantics). Same driver
        * residency as the file list itself (~200 B/file).
        */
      stats: Map[String, String] = Map.empty,
      /** COLUMN MAPPING (`delta.columnMapping.mode = name`, reader
        * protocol v2 / v3-`columnMapping`): logical column name →
        * physical parquet column name. Empty when the table has no
        * mapping. `schema` and `partitionColumns` (and the
        * partition-value keys in `files`) are LOGICAL everywhere in
        * this Snapshot — physical names exist only at the parquet
        * scan, where [[readSnapshot]] reads physical and renames.
        */
      colMap: Map[String, String] = Map.empty,
      /** DELETION VECTORS: decoded-path → live DV descriptor, for the
        * files whose add action carries one. [[readSnapshot]] drops
        * the deleted row indexes at scan time; replay reconciles file
        * actions by the protocol's (path, dv.uniqueId) identity.
        */
      dvs: Map[String, DeletionVectors.Descriptor] = Map.empty,
      /** the table's protocol as REPLAYED (newest protocol action wins)
        * — a writer that upgrades the protocol (e.g. a DV-emitting
        * delete) must carry every existing feature forward, never
        * clobber one
        */
      minReader: Int = 1,
      minWriter: Int = 2,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty,
      /** `metaData.configuration` as replayed — the writer gates read
        * enforcement settings from it (`delta.appendOnly`,
        * `delta.constraints.*`, `delta.enableChangeDataFeed`): a
        * writer that cannot enforce a configured contract must refuse,
        * not silently break it for every other writer (PROTOCOL.md's
        * writer-requirements section).
        */
      configuration: Map[String, String] = Map.empty,
      /** LIVE domain metadata (writer feature `domainMetadata`):
        * domain → configuration JSON, replayed last-action-wins with
        * `removed=true` tombstones dropped — the protocol's
        * per-domain key/value channel (delta-spark uses it for e.g.
        * clustering state). [[DeltaWrite.checkpoint]] carries live
        * domains so a fold never forgets them.
        */
      domains: Map[String, String] = Map.empty,
      /** ROW TRACKING (writer feature `rowTracking`): live file →
        * (baseRowId, defaultRowCommitVersion) for adds that carry
        * them. Row tracking is writer-side only (not a reader
        * feature), but the WRITER needs these to carry a re-added
        * file's ids (DV DML re-adds the same path) and to advance the
        * `delta.rowTracking` high-water mark domain
        * ([[DeltaWrite]] stamps every add on a rowTracking table).
        */
      rowIds: Map[String, (Long, Long)] = Map.empty,
      /** running totals over the live files, kept by the [[DeltaLog]]
        * fold so writing and checking a `<v>.crc` is O(1): the sum of
        * the known `sizes` and the count of unknown (-1) ones. Copies
        * that subset `files` for a scan do not keep them.
        */
      sizeBytes: Long = 0L,
      unknownSizes: Int = 0)

  /** Is `path` a Delta table root (has a transaction log)? A
    * log-cleaned table may hold its state ONLY as checkpoint parquet
    * (no surviving NNN.json) — snapshot()/read() can serve it, so it
    * must be recognized here too or the YAML `format: delta` route
    * would refuse a readable table.
    */
  def isDeltaTable(spark: SparkSession, path: String): Boolean = {
    val log = new Path(path, "_delta_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(log) && fs.listStatus(log).exists { st =>
      val n = st.getPath.getName
      (n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit)) ||
        (n.endsWith(".parquet") && n.contains(".checkpoint"))
    }
  }

  /** Read the newest committed snapshot (or `version` for time travel). */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    readSnapshot(spark, path, snapshot(spark, path, version))

  /** The snapshot scan PLUS the protocol's ROW IDS (writer feature
    * `rowTracking`): one extra `rowIdCol` column carrying each row's
    * fresh row id = its file's `baseRowId` + the row's physical
    * position (`_metadata.row_index`) — the protocol's fresh-row-id
    * formula. DV-deleted rows drop but survivors keep their PHYSICAL
    * index, so ids are stable across DV DELETE/UPDATE (the file and
    * its baseRowId are unchanged). The per-file base map rides a
    * broadcast join keyed by the scan's own file_path — codegen'd, no
    * per-row driver state.
    *
    * MATERIALIZED row ids (delta-spark's stable-id extension): when
    * the config names a materialized column
    * (`delta.rowTracking.materializedRowIdColumnName`), a preserving
    * writer stored rewritten rows' original ids in a HIDDEN parquet
    * column (absent from the table schema). The protocol's read
    * formula is `coalesce(materialized, baseRowId + row_index)` —
    * implemented by extending the read schema with the hidden column
    * (files without it read null, parquet by-name resolution).
    * Column-mapped tables bind the hidden column by its OWN name
    * (the declared name is a physical parquet name outside the mapped
    * schema — delta-spark's shape); only a clash with a real column's
    * physical name refuses.
    *
    * Refused loudly: live files without a baseRowId (an unbackfilled
    * suspended table has no ids to surface).
    */
  def readWithRowIds(spark: SparkSession, path: String,
                     version: Option[Long] = None,
                     rowIdCol: String = "_row_id"): DataFrame = {
    val snap = snapshot(spark, path, version)
    require(snap.minWriter >= 7 && snap.writerFeatures.contains("rowTracking"),
      s"Delta table at $path does not carry the rowTracking writer feature — " +
        "there are no row ids to surface")
    readSnapshotRowIds(spark, path, snap, rowIdCol)
  }

  /** [[readWithRowIds]] over an EXPLICIT snapshot-shaped file set —
    * shared with [[DeltaWrite.compact]]'s id-preserving rewrite, which
    * scans only its folded subset. `keepRowMeta` keeps the physical
    * position columns, as in [[readSnapshot]].
    */
  private[graft] def readSnapshotRowIds(spark: SparkSession, path: String,
                                          snap: Snapshot,
                                          rowIdCol: String,
                                          matFlagCol: Option[String] = None,
                                          keepRowMeta: Boolean = false): DataFrame = {
    val matName = snap.configuration.get("delta.rowTracking.materializedRowIdColumnName")
    matName.foreach { m =>
      require(!snap.schema.fieldNames.contains(m),
        s"materialized row-id column '$m' collides with a table column at $path")
      // COLUMN-MAPPED tables (round 18 — the r17 refusal lifted): the
      // declared name IS the hidden column's physical parquet name
      // (delta-spark mints it outside the mapped schema; it never has a
      // mapping id), so the scan binds it identity-mapped — in id mode
      // a field without parquet.field.id metadata resolves by name.
      // Only a clash with a REAL column's physical name is unbindable.
      require(!snap.colMap.values.exists(_ == m),
        s"materialized row-id column '$m' collides with a mapped column's " +
          s"physical name at $path")
    }
    val missing = snap.files.keySet -- snap.rowIds.keySet
    require(missing.isEmpty,
      s"Delta table at $path has ${missing.size} live file(s) without a baseRowId " +
        s"(e.g. ${missing.take(3).mkString(", ")}) — enable row tracking " +
        "(delta.enableRowTracking=true backfills) before reading row ids")
    val rootP = qualifiedRoot(spark, path)
    import spark.implicits._
    // keys in the same SparkPath (URL-encoded URI) form the DV filter
    // uses — _metadata.file_path's canonical representation
    val baseDf = broadcast(snap.rowIds.toSeq.map { case (rel, (b, _)) =>
      (new Path(rootP, rel).toUri.toString, b)
    }.toDF("__graft_dv_fp", "__graft_base_rid"))
    val scanSnap = matName match {
      case Some(m) =>
        val s2 = snap.copy(schema = org.apache.spark.sql.types.StructType(
          snap.schema.fields :+ org.apache.spark.sql.types.StructField(
            m, org.apache.spark.sql.types.LongType, nullable = true)))
        if (snap.colMap.isEmpty) s2 else s2.copy(colMap = snap.colMap + (m -> m))
      case None => snap
    }
    val joined = readSnapshot(spark, path, scanSnap, keepRowMeta = true)
      .join(baseDf, Seq("__graft_dv_fp"))
    val fresh = col("__graft_base_rid") + col("__graft_dv_ri")
    val helpers =
      if (keepRowMeta) Seq("__graft_base_rid")
      else Seq("__graft_dv_fp", "__graft_dv_ri", "__graft_base_rid")
    // `matFlagCol`: emit whether THIS row's id came from the hidden
    // materialized column (true) or the fresh formula (false) — the
    // CDF reader uses it to tell a rewrite's carried/updated rows
    // (materialized) from its inserts (fresh) inside one add file.
    matName match {
      case Some(m) =>
        // when the caller names the OUTPUT after the materialized
        // column itself (compact's id-preserving rewrite does),
        // withColumn already REPLACED it — dropping m would drop the
        // result
        // flag FIRST: when rowIdCol == m the next withColumn replaces
        // m, and a flag computed after would read the coalesced value
        val flagged = matFlagCol.foldLeft(joined) {
          (d, fc) => d.withColumn(fc, col(s"`$m`").isNotNull)
        }.withColumn(rowIdCol, coalesce(col(s"`$m`"), fresh))
        val out = flagged.drop(helpers: _*)
        if (rowIdCol == m) out else out.drop(m)
      case None =>
        matFlagCol.foldLeft(joined.withColumn(rowIdCol, fresh)) {
          (d, fc) => d.withColumn(fc, lit(false))
        }.drop(helpers: _*)
    }
  }

  /** The scan over an EXPLICIT snapshot-shaped file set — the body of
    * [[read]], shared with the streaming source (whose micro-batch is
    * a synthetic Snapshot holding just one offset span's added files).
    * `keepRowMeta` retains `__graft_dv_fp` / `__graft_dv_ri` on every
    * branch (the row-id read needs the physical position AFTER the DV
    * filter).
    */
  private[graft] def readSnapshot(spark: SparkSession, path: String,
                                  snap: Snapshot,
                                  keepRowMeta: Boolean = false): DataFrame = {
    // DELETION VECTORS: split the scan — clean files read at full
    // native speed, DV-carrying files read with _metadata.row_index
    // and drop their deleted rows through a broadcast bitmap probe
    // (binary search over the decoded sorted indexes; 8 bytes per
    // deleted row, the same residency delta-spark's DV broadcast has).
    // Only the dirty branch pays the filter.
    val liveDvs = snap.dvs.filter { case (p, _) => snap.files.contains(p) }
    if (liveDvs.nonEmpty) {
      val rootP = qualifiedRoot(spark, path)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val totalDeleted = liveDvs.values.map(_.cardinality).sum
      require(totalDeleted <= DeletionVectors.maxDeletedRows,
        s"Delta table at $path carries $totalDeleted soft-deleted rows in " +
          s"deletion vectors (cap ${DeletionVectors.maxDeletedRows}) — OPTIMIZE " +
          "the table with delta-spark to materialize the deletes, then re-read")
      // keys must match `_metadata.file_path`, which Spark 4 surfaces
      // in SparkPath (URL-encoded URI) form — Path.toString leaves
      // URI-unsafe chars RAW (a space in a hive partition value stays
      // a space), so a raw-keyed probe would match nothing and
      // silently resurrect the soft-deleted rows. toUri.toString is
      // the same canonical form SparkPath.fromPath uses.
      val deleted: Map[String, Array[Long]] = liveDvs.map { case (rel, d) =>
        new Path(rootP, rel).toUri.toString -> DeletionVectors.deletedRows(fs, rootP, d)
      }
      val dirty = snap.copy(files = snap.files.filter(kv => liveDvs.contains(kv._1)),
        dvs = Map.empty)
      val dirtyScan = scanSnapshot(spark, path, dirty, withRowMeta = true)
      // Common case (≤2M deleted rows): a BROADCAST ANTI JOIN on
      // (file, row_index) — whole-stage codegen, no per-row JVM-object
      // conversion. The UDF probe (binary search over the broadcast
      // sorted arrays) only takes over past the broadcast-friendly
      // size, where its 8 B/row footprint wins over join-row overhead.
      val dirtyDf0 =
        if (totalDeleted <= 2000000L) {
          import spark.implicits._
          val pairs = deleted.toSeq.flatMap { case (fp, arr) => arr.map(fp -> _) }
            .toDF("__graft_dv_fp", "__graft_dv_ri")
          dirtyScan.join(broadcast(pairs), Seq("__graft_dv_fp", "__graft_dv_ri"), "left_anti")
        } else {
          val bc = spark.sparkContext.broadcast(deleted)
          val keep = org.apache.spark.sql.functions.udf((fp: String, ri: Long) =>
            bc.value.get(fp).forall(a => java.util.Arrays.binarySearch(a, ri) < 0))
          dirtyScan.where(keep(col("__graft_dv_fp"), col("__graft_dv_ri")))
        }
      val dirtyDf = if (keepRowMeta) dirtyDf0
        else dirtyDf0.drop("__graft_dv_fp", "__graft_dv_ri")
      val cleanFiles = snap.files -- liveDvs.keySet
      return if (cleanFiles.isEmpty) dirtyDf
        else scanSnapshot(spark, path, snap.copy(files = cleanFiles, dvs = Map.empty),
            withRowMeta = keepRowMeta)
          .unionByName(dirtyDf)
    }
    scanSnapshot(spark, path, snap, withRowMeta = keepRowMeta)
  }

  /** The raw snapshot scan. `withRowMeta` appends `__graft_dv_fp`
    * (_metadata.file_path) and `__graft_dv_ri` (_metadata.row_index) for the
    * deletion-vector filter — selected at the scan itself, where the
    * metadata columns resolve.
    */
  private def scanSnapshot(spark: SparkSession, path: String,
                           snap: Snapshot, withRowMeta: Boolean = false): DataFrame = {
    val rootP = qualifiedRoot(spark, path)
    if (snap.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (!withRowMeta) snap.schema
        else snap.schema.add("__graft_dv_fp", StringType).add("__graft_dv_ri", LongType))
    // Column mapping: the PARQUET read uses physical names; partition
    // values were translated to logical keys at snapshot build, so the
    // partition side stays logical throughout. The final projection
    // renames the data columns back. ID MODE additionally stamps each
    // requested field with `parquet.field.id` (from
    // delta.columnMapping.id) and enables Spark's native field-id
    // resolution, so every file resolves by the ids in its own footer
    // regardless of what the columns are NAMED there — the protocol's
    // id-mode contract, heterogeneous file names included.
    val cm = snap.colMap
    val idMode = snap.configuration.get("delta.columnMapping.mode").contains("id")
    // session-level by necessity (the returned frame evaluates later,
    // so a set/restore window cannot cover it) — benign for unrelated
    // reads: field-id resolution only engages for read schemas that
    // CARRY parquet.field.id metadata, which only id-mode scans stamp
    if (idMode) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // NESTED mapping (round 15): inner struct fields (including structs
    // under arrays/maps) are renamed too — the parquet READ schema is
    // the recursively physicalized type (each nested field's
    // physicalName from its own metadata, ids stamped in id mode), and
    // the final projection CASTS each mapped column back to its logical
    // type: a struct cast matches by POSITION and takes the target's
    // field names, which is exactly the physical→logical rename.
    def physType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => physField(f, None)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = physType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = physType(m.keyType), valueType = physType(m.valueType))
      case other => other
    }
    def physField(f: StructField, topName: Option[String]): StructField = {
      val physKey = "delta.columnMapping.physicalName"
      val pn = topName.getOrElse {
        if (f.metadata.contains(physKey)) f.metadata.getString(physKey)
        else throw new IllegalStateException(
          s"Delta table at $path maps a nested schema but field '${f.name}' " +
            "carries no physicalName metadata (the protocol requires it on " +
            "every field) — corrupt log?")
      }
      val g = f.copy(name = pn, dataType = physType(f.dataType))
      if (!idMode || !f.metadata.contains("delta.columnMapping.id")) g
      else g.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(g.metadata)
        .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        .build())
    }
    def hasStructType(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case a: org.apache.spark.sql.types.ArrayType => hasStructType(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasStructType(m.keyType) || hasStructType(m.valueType)
      case _ => false
    }
    val dataCols = snap.schema.fields.filterNot(f => snap.partitionColumns.contains(f.name))
      .map { f => if (cm.isEmpty) f else physField(f, Some(cm(f.name))) }
    def outCols: Array[org.apache.spark.sql.Column] = {
      val logical = snap.schema.fields.map { f =>
        val n = f.name
        if (cm.isEmpty || snap.partitionColumns.contains(n)) col(n)
        else if (hasStructType(f.dataType)) // positional cast = nested rename-back
          col(cm(n)).cast(f.dataType).as(n)
        else col(cm(n)).as(n)
      }
      if (!withRowMeta) logical
      else logical ++ Array(col("_metadata.file_path").as("__graft_dv_fp"),
        col("_metadata.row_index").as("__graft_dv_ri"))
    }
    // LOG-PLANNED fast path (mirrors VersionedTable.load's round-11
    // manifest planning): the Delta log records every live file's
    // SIZE (`add.size`) and partition values, so the scan can build
    // a ManifestFileIndex with zero filesystem calls — and a
    // partitioned table becomes ONE native scan with partition
    // pruning instead of one union branch per live partition tuple
    // (O(partitions) plan nodes, the old shape below). Falls back
    // when a legacy action lacked size, a partition value doesn't
    // coerce, or one directory mixes partition tuples (the protocol
    // allows metadata-only partitioning; pruning maps dirs).
    logPlannedRead(spark, rootP, snap, dataCols).foreach { df =>
      return df.select(outCols: _*)
    }
    if (snap.partitionColumns.isEmpty) {
      spark.read.schema(StructType(dataCols)).parquet(
        snap.files.keys.toSeq.map(rel => new Path(rootP, rel).toString): _*)
        .select(outCols: _*)
    } else {
      // Partition values are LOG metadata, not file content — rebuild
      // them as literal columns per distinct partition tuple (one scan
      // branch per live partition value; see the scale note above).
      val byPartition = snap.files.groupBy(_._2)
      byPartition.toSeq.map { case (pvals, fs) =>
        val base = spark.read.schema(StructType(dataCols)).parquet(
          fs.keys.toSeq.map(rel => new Path(rootP, rel).toString): _*)
        snap.partitionColumns.foldLeft(base) { (df, pc) =>
          val dt = snap.schema(pc).dataType
          // null partition value = Delta's __HIVE_DEFAULT_PARTITION__
          val v = pvals.getOrElse(pc, null)
          df.withColumn(pc, (if (v == null) lit(null) else lit(v)).cast(dt))
        }.select(outCols: _*)
      }.reduce(_.unionByName(_))
    }
  }

  /** The log-planned scan (None = a precondition failed; caller takes
    * the legacy path): ManifestFileIndex over (path, size) from the
    * log, partition values coerced into an explicit PartitionSpec.
    */
  private def logPlannedRead(spark: SparkSession, rootP: Path, snap: Snapshot,
                             dataCols: Array[org.apache.spark.sql.types.StructField])
      : Option[DataFrame] =
    try {
      val sized = snap.files.keys.toSeq.sorted.map { rel =>
        (new Path(rootP, rel).toString, snap.files(rel), snap.sizes.getOrElse(rel, -1L))
      }
      if (sized.isEmpty || sized.exists(_._3 < 0)) return None
      val partSchema = StructType(snap.partitionColumns.flatMap(c =>
        snap.schema.fields.find(_.name == c)))
      if (partSchema.length != snap.partitionColumns.length) return None
      val spec =
        if (partSchema.isEmpty)
          org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
        else {
          // pruning maps DIRECTORIES to partition values: every dir
          // must carry exactly one tuple (delta partitioning is
          // metadata-only in the protocol; hive-style writers satisfy
          // this, anything else falls back)
          val byDir = sized.groupBy(f => new Path(f._1).getParent)
          if (byDir.exists(_._2.map(_._2).distinct.length > 1)) return None
          val partitions = byDir.toSeq.sortBy(_._1.toString).map { case (dir, fs) =>
            val pv = fs.head._2
            val values = partSchema.fields.map { f =>
              val raw = pv.getOrElse(f.name, null)
              // null partition value = Delta's HIVE_DEFAULT; the
              // coercion helper throws on uncoercible types -> caught
              if (raw == null) null
              else GraftDataSource.partitionValue(raw, f, rootP.toString)
            }
            org.apache.spark.sql.execution.datasources.PartitionPath(
              org.apache.spark.sql.catalyst.InternalRow.fromSeq(
                scala.collection.immutable.ArraySeq.unsafeWrapArray(values)), dir)
          }
          org.apache.spark.sql.execution.datasources.PartitionSpec(partSchema, partitions)
        }
      // log-resident DATA SKIPPING: when adds carried stats, the scan's
      // listFiles drops files whose min/max cannot match the pushed
      // filters (delta-spark's skipping; parse is lazy + memoized, and
      // a file/column without stats is simply kept)
      val index =
        if (snap.stats.isEmpty)
          new org.apache.spark.sql.graftbridge.ManifestFileIndex(
            spark, spec, sized.map(f => (f._1, f._3)))
        else {
          val statsByAbs = snap.stats.map { case (rel, st) =>
            new Path(rootP, rel).toString -> st
          }
          val cache = new java.util.concurrent.ConcurrentHashMap[
            String, Option[graft.pipeline.FileStats.FileStat]]()
          new org.apache.spark.sql.graftbridge.StatsManifestFileIndex(
            spark, spec, sized.map(f => (f._1, f._3)),
            p => cache.computeIfAbsent(p,
              k => statsByAbs.get(k).flatMap(parseAddStats)))
        }
      val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partSchema, StructType(dataCols), None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      Some(spark.baseRelationToDataFrame(rel))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Reconstruct the file-list snapshot at `version` (newest if None)
    * — one [[DeltaLog]] replay: the newest checkpoint's state, then
    * the commits after it folded on the driver.
    *
    * Log discovery has two paths:
    *  - `_last_checkpoint` FAST PATH (latest-version reads only): the
    *    pointer names the newest checkpoint directly, so checkpoint
    *    file names derive from it and the commit tail is discovered by
    *    probing `NNN.json` forward (commit versions are contiguous per
    *    the protocol) — no listing of the log directory at all. On an
    *    object store that turns the most expensive metadata op (LIST
    *    over an unbounded log dir) into O(tail) HEAD calls.
    *  - full listing (time travel, no/stale pointer): one LIST serves
    *    both the commit scan and the checkpoint scan, as before. A
    *    stale or half-written pointer falls back here rather than
    *    failing — same tolerance as delta-spark's.
    *
    * Checkpoint replay is DISTRIBUTED: the checkpointed `add` set (the
    * entire table state — millions of rows on a large table) stays a
    * DataFrame; only the post-checkpoint tail commits (bounded by the
    * writer's checkpoint interval) are parsed on the driver, and the
    * live-file set is resolved as `checkpoint adds ANTI-JOIN (tail-
    * touched identities, tail-live paths) UNION tail's final adds`
    * ([[DeltaLog.untouchedAdds]]). Only the final LIVE
    * list is collected — for scan planning, the same driver residency
    * delta-spark's own prepared scan has — so a heavily-churned log
    * never materializes its dead files on the driver.
    */
  def snapshot(spark: SparkSession, path: String,
               version: Option[Long] = None): Snapshot = {
    val rootP = qualifiedRoot(spark, path)
    val logP = new Path(rootP, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // SNAPSHOT CACHE (round 18, guide §1/§5 — the driver is the
    // bottleneck of small commits): every DML op used to rebuild the
    // snapshot from scratch — a full log listing plus, past the first
    // checkpoint, a distributed checkpoint-parquet read (4-5 Spark jobs
    // PER OPERATION, measured ~0.2-0.4 s each on q109's append chain).
    // Delta's log is append-only and committed versions are immutable,
    // so the last-served snapshot advances INCREMENTALLY: verify the
    // cached version's commit file is byte-identical (len+mtime — a
    // deleted/recreated table at the same path fails this and rebuilds),
    // probe the contiguous tail forward (commit versions are dense), and
    // fold only the new commits' actions onto it, driver-side — the
    // same [[DeltaLog]] fold a cold replay runs. This is
    // delta-spark's SnapshotManagement shape; it caches METADATA only —
    // never query results — and every data read still scans parquet.
    val fromCache: Option[Snapshot] =
      Option(snapCache.get(logP.toString))
        .filter(c => version.forall(_ >= c.snap.version)).flatMap { c =>
        val vFile = DeltaLog.commitFile(logP, c.snap.version)
        val ident =
          try {
            val st = fs.getFileStatus(vFile)
            st.getLen == c.len && st.getModificationTime == c.mtime
          } catch { case _: java.io.IOException => false }
        if (!ident) None
        else {
          var latest = c.snap.version
          while (version.forall(_ > latest) && fs.exists(DeltaLog.commitFile(logP, latest + 1)))
            latest += 1
          val target = version.getOrElse(latest)
          if (target == c.snap.version) Some(c.snap) // validated when cached
          else if (target > latest) None // asked past the contiguous tail
          else DeltaLog.replay(fs, logP, DeltaLog.resume(path, c.snap), c.snap.version + 1,
              target).toOption.map { st =>
            val snap = validated(fs, logP, path, st.snap.copy(version = target))
            if (version.isEmpty || target == latest) cachePut(fs, logP, snap)
            snap
          }
        }
      }
    if (fromCache.isDefined) return fromCache.get

    require(fs.exists(logP), s"$path is not a Delta table (no _delta_log)")

    val fast = if (version.isEmpty) fastDiscovery(fs, logP) else None
    val (target, ckpt, checkpointFiles) = fast match {
      case Some((latest, cp, cpFiles)) => (latest, cp, cpFiles)
      case None =>
        val names = fs.listStatus(logP).toSeq.map(_.getPath.getName)
        val commits = commitVersionsOf(names)
        val cpFiles = checkpointFilesOf(names)
        val checkpoints = cpFiles.keys.toSeq.sorted
        require(commits.nonEmpty || checkpoints.nonEmpty,
          s"$path has an empty _delta_log — no committed version")
        val latest = (commits ++ checkpoints).max
        val t = version.getOrElse(latest)
        require(t <= latest, s"Delta table at $path has no version $t (latest: $latest)")
        (t, checkpoints.filter(_ <= t).lastOption, cpFiles)
    }

    // the checkpoint's non-file actions seed the fold; its add set (the
    // unbounded part) stays a DataFrame until the tail is known
    val ck = ckpt.map(cv => DeltaLog.readCheckpoint(spark, logP, path, checkpointFiles(cv)))
    val tail = DeltaLog.replay(fs, logP, DeltaLog.seed(path, ck), ckpt.map(_ + 1).getOrElse(0L),
        target).fold(v =>
      // commits below the newest checkpoint may be legitimately vacuumed
      // (delta log cleanup); a HOLE after the replay start is unreadable
      throw new IllegalStateException(
        s"Delta log at $path is missing commit $v (log cleaned past the " +
          s"requested version?) — cannot reconstruct version $target"), identity)
    // carried files: the checkpoint's adds the tail left live (the
    // only collect — the live list scan planning needs anyway)
    val live = ck.fold(tail.snap) { c =>
      DeltaLog.withAdds(tail, DeltaLog.untouchedAdds(spark, c.files, tail)
        .collect().iterator.map(DeltaLog.addOf).toSeq)
    }
    require(live.schema != null,
      s"Delta log at $path carries no metaData action — cannot derive a schema")
    val snap = validated(fs, logP, path, live.copy(version = target))
    if (version.isEmpty) cachePut(fs, logP, snap)
    snap
  }

  /** `s` once the reader-protocol gate and the `<v>.crc` check pass. */
  private def validated(fs: FileSystem, logP: Path, path: String, s: Snapshot): Snapshot = {
    validateReaderProtocol(path, s.minReader, s.readerFeatures,
      s.configuration.getOrElse("delta.columnMapping.mode", "none"))
    validateChecksum(fs, logP, path, s)
    s
  }

  /** One cached latest snapshot per table (log path), advanced
    * incrementally by [[snapshot]]. Identity = the cached version's
    * commit-file (length, mtime): immutable once published, so a match
    * proves the cached state is a prefix of the current log.
    */
  private final case class CachedSnap(snap: Snapshot, len: Long, mtime: Long)
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedSnap]()

  private def cachePut(fs: FileSystem, logP: Path, snap: Snapshot): Unit =
    try {
      val st = fs.getFileStatus(new Path(logP, f"${snap.version}%020d.json"))
      if (snapCache.size > 64) snapCache.clear() // crude bound; entries are small
      snapCache.put(logP.toString, CachedSnap(snap, st.getLen, st.getModificationTime))
    } catch { case scala.util.control.NonFatal(_) => () } // log-cleaned head: skip

  /** Test seam / escape hatch: forget every cached snapshot. */
  private[graft] def invalidateSnapshotCache(): Unit = snapCache.clear()

  /** Opportunistic `<v>.crc` version-checksum validation (delta-spark
    * writes these sidecars; [[DeltaWrite]] does too): when the
    * snapshot's version has a parseable checksum carrying `numFiles` /
    * `tableSizeBytes`, the REPLAYED state must agree — a mismatch
    * means the log or a checkpoint is corrupted, and serving the
    * snapshot anyway would silently return wrong data. Absent or
    * unreadable checksums are fine (they're optional per the
    * protocol); size validation is skipped when any live file's size
    * is unknown (legacy adds without `size`). O(1): the totals ride
    * the fold ([[Snapshot.sizeBytes]]).
    */
  private def validateChecksum(fs: FileSystem, logP: Path, path: String,
                               s: Snapshot): Unit = {
    val n: JsonNode =
      try {
        val p = new Path(logP, f"${s.version}%020d.crc")
        if (!fs.exists(p)) return
        graft.pipeline.VersionedTable.readSmall(fs, p)
          .map(mapper.readTree).orNull
      } catch { case scala.util.control.NonFatal(_) => return }
    if (n == null) return
    if (n.hasNonNull("numFiles")) {
      val expect = n.get("numFiles").asLong
      if (expect != s.files.size)
        throw new IllegalStateException(
          s"Delta table at $path fails checksum validation at version " +
            s"${s.version}: the .crc sidecar records numFiles=$expect but the " +
            s"replayed snapshot has ${s.files.size} live files — the log or a " +
            "checkpoint is corrupted; refusing to serve a wrong snapshot")
    }
    if (n.hasNonNull("tableSizeBytes") && s.unknownSizes == 0) {
      val expect = n.get("tableSizeBytes").asLong
      val got = s.sizeBytes
      if (expect != got)
        throw new IllegalStateException(
          s"Delta table at $path fails checksum validation at version " +
            s"${s.version}: tableSizeBytes=$expect recorded vs $got replayed — the " +
            "log or a checkpoint is corrupted; refusing to serve a wrong snapshot")
    }
  }

  /** CHANGE DATA FEED read — delta-spark's `readChangeFeed` shape over
    * the commit span `[fromVersion, toVersion]` (default head): the
    * table's columns plus `_change_type` (insert / delete /
    * update_preimage / update_postimage), `_commit_version`, and
    * `_commit_timestamp`.
    *
    * Per PROTOCOL.md's change-data-files rules, a commit WITH `cdc`
    * actions yields exactly its `_change_data` parquet rows (written
    * by [[DeltaWrite.delete]] / [[DeltaWrite.merge]] on CDF tables);
    * a commit without them derives — `dataChange=true` adds read as
    * inserts, `dataChange=true` removes read as deletes, both with
    * their action's deletion vector applied (so an overwrite of a
    * DV-masked file reports only its LIVE rows deleted), and
    * `dataChange=false` maintenance contributes nothing. The span's
    * reads are log-planned file scans unioned per version — CDF spans
    * are incremental-consumer sized (a handful of commits), never a
    * full-history replay; schema is the END version's, older files
    * null-fill evolved columns by name. Derived deletes need the
    * REMOVED file still on disk: a vacuumed span fails loudly, the
    * same retention contract delta-spark's CDF has.
    */
  def readChanges(spark: SparkSession, path: String, fromVersion: Long,
                  toVersion: Option[Long] = None): DataFrame =
    readChangesImpl(spark, path, fromVersion, toVersion, None)

  /** The hidden column graft's cdc writers stamp each change row's row
    * id into (rowTracking tables): `_change_data` parquet is not table
    * data, so the column needs no mapping id and foreign readers prune
    * it by name.
    */
  private[sources] val CdcRowIdCol = "_graft_cdc_row_id"

  /** [[readChanges]] PLUS the protocol's row ids — one extra `rowIdCol`
    * column keying every change row by the stable id the row has (or
    * had) in the table, delta-spark 3.x's rowTracking-CDF surface:
    *  - inserts carry the id the new row reads back with
    *    (baseRowId + physical index, or its materialized id);
    *  - deletes carry the retired row's id;
    *  - update/merge preimage and postimage SHARE the row's id.
    * Commits WITHOUT cdc actions derive ids from their add/remove
    * actions' baseRowId (+ the hidden materialized column when the
    * table declares one). Commits WITH cdc actions need the change
    * rows themselves to carry ids ([[DeltaWrite]] stamps
    * [[CdcRowIdCol]] on DELETE always, and on UPDATE/MERGE/RESTORE
    * when ids are attributable — UPDATE/MERGE postimages need the
    * materialized-column declaration, since without it the rewritten
    * rows' fresh ids are unknowable at cdc-write time). A change row
    * that cannot be keyed refuses loudly rather than feeding a
    * consumer null keys.
    */
  def readChangesWithRowIds(spark: SparkSession, path: String, fromVersion: Long,
                            toVersion: Option[Long] = None,
                            rowIdCol: String = "_row_id"): DataFrame =
    readChangesImpl(spark, path, fromVersion, toVersion, Some(rowIdCol))

  private def readChangesImpl(spark: SparkSession, path: String, fromVersion: Long,
                              toVersion: Option[Long], rowIdOpt: Option[String]): DataFrame = {
    val rootP = qualifiedRoot(spark, path)
    val logP = new Path(rootP, "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val endSnap = snapshot(spark, rootP.toString, toVersion)
    val endV = endSnap.version
    require(fromVersion >= 0 && fromVersion <= endV,
      s"readChanges($path): fromVersion $fromVersion is outside [0, $endV]")
    require(endSnap.configuration.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true")),
      s"Delta table at $path does not have delta.enableChangeDataFeed=true — " +
        "enable it (DeltaWrite.setProperties) before reading the change feed")
    rowIdOpt.foreach { ric =>
      require(endSnap.minWriter >= 7 && endSnap.writerFeatures.contains("rowTracking"),
        s"Delta table at $path does not carry the rowTracking writer feature — " +
          "there are no row ids to key the change feed with")
      require(!endSnap.schema.fieldNames.exists(_.equalsIgnoreCase(ric)),
        s"row-id column '$ric' collides with a table column at $path")
    }
    val physToLogical = endSnap.colMap.map(_.swap)
    def pvLogical(pv: Map[String, String]): Map[String, String] =
      if (physToLogical.isEmpty) pv
      else pv.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
    // cdc parquet carries _change_type as a real column; under column
    // mapping it is its own physical name (no mapping id — it is not
    // table data)
    val ctSchema = StructType(endSnap.schema.fields :+
      StructField("_change_type", StringType, nullable = true))
    val ctColMap =
      if (endSnap.colMap.isEmpty) endSnap.colMap
      else endSnap.colMap + ("_change_type" -> "_change_type")

    val frames = Seq.newBuilder[DataFrame]
    // id-keyed cdc validation is DEFERRED and batched: the per-commit
    // counts all come out of ONE union aggregation after the span parse
    // (r18, guide §1 — a 3-commit span used to pay three validation
    // jobs; job count dominates these driver-heavy reads). Each entry:
    // (version, cdc frame, continuation applying the counts).
    val deferredCdc =
      scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame,
        (Long, Long, Long) => Unit)]
    (fromVersion to endV).foreach { v =>
      val actions = DeltaLog.readCommit(fs, logP, v).getOrElse(
        throw new IllegalStateException(
          s"Delta log at $path is missing commit $v — the change-feed span " +
            "reaches past the log's retention (cleaned log); raise fromVersion " +
            "into the retained span"))
      var ts = actions.collect { case c: DeltaLog.CommitInfo if c.timestamp > 0 => c.timestamp }
        .lastOption.getOrElse(-1L)
      val cdcFiles = actions.collect { case c: DeltaLog.Cdc =>
        (decodePath(c.path), pvLogical(c.partitionValues), c.size) }
      // (relPath, partitionValues, size, dv, baseRowId | -1 when unstamped)
      val addFiles = actions.collect { case a: DeltaLog.AddFile if a.dataChange =>
        (decodePath(a.path), pvLogical(a.partitionValues), a.size, a.dv, a.baseRowId) }
      val rmFiles = actions.collect { case r: DeltaLog.RemoveFile if r.dataChange =>
        (decodePath(r.path), r.dv) }
      if (ts < 0) ts = fs.getFileStatus(DeltaLog.commitFile(logP, v)).getModificationTime
      def stamp(df: DataFrame): DataFrame = df
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(ts)))
      val rmPaths = rmFiles.map(_._1).toSet
      // this version's add actions as a snapshot-shaped scan; with row
      // ids, each add's log-resident baseRowId keys the fresh formula
      // (coalesced with the materialized column when declared), and
      // `matInsertsOnly` keeps ONLY fresh-id rows — inside a preserving
      // rewrite's output those are exactly the inserted rows
      def readAdds(files: Seq[(String, Map[String, String], Long,
          DeletionVectors.Descriptor, Long)], matInsertsOnly: Boolean): DataFrame = {
        val snapV = endSnap.copy(version = v,
          files = files.map(a => a._1 -> a._2).toMap,
          sizes = files.map(a => a._1 -> a._3).toMap,
          stats = Map.empty,
          dvs = files.collect { case (rel, _, _, d, _) if d != null => rel -> d }.toMap)
        rowIdOpt match {
          case None => readSnapshot(spark, rootP.toString, snapV)
          case Some(ric) =>
            files.foreach { case (rel, _, _, _, brid) =>
              require(brid >= 0L,
                s"readChanges($path): commit $v adds '$rel' without a baseRowId — " +
                  "the span reaches before row tracking was enabled; raise " +
                  "fromVersion past the enablement commit or read without row ids") }
            val withIds = readSnapshotRowIds(spark, rootP.toString,
              snapV.copy(rowIds = files.map(a => a._1 -> (a._5, v)).toMap), ric,
              matFlagCol = if (matInsertsOnly) Some("__graft_rid_mat") else None)
            if (matInsertsOnly)
              withIds.where(!col("__graft_rid_mat")).drop("__graft_rid_mat")
            else withIds
        }
      }
      if (cdcFiles.nonEmpty) {
        val cdcSnap = endSnap.copy(
          version = v, schema = ctSchema, colMap = ctColMap,
          files = cdcFiles.map(c => c._1 -> c._2).toMap,
          sizes = cdcFiles.map(c => c._1 -> c._3).toMap,
          stats = Map.empty, dvs = Map.empty)
        rowIdOpt match {
          case None =>
            frames += stamp(readSnapshot(spark, rootP.toString, cdcSnap))
          case Some(ric) =>
            // the change rows must carry their own ids ([[CdcRowIdCol]],
            // stamped by graft's cdc writers on rowTracking tables);
            // files written without it null-fill by name
            val idSchema = StructType(ctSchema.fields :+
              StructField(CdcRowIdCol, org.apache.spark.sql.types.LongType,
                nullable = true))
            val idColMap =
              if (ctColMap.isEmpty) ctColMap else ctColMap + (CdcRowIdCol -> CdcRowIdCol)
            val cdcDf = readSnapshot(spark, rootP.toString,
              cdcSnap.copy(schema = idSchema, colMap = idColMap))
            deferredCdc += ((v, cdcDf, (nNonInsNull, nInsKeyed, nInsNull) => {
              val isIns = col("_change_type") === "insert"
              require(nNonInsNull == 0L,
                s"readChanges($path): commit $v carries change-data rows without row " +
                  "ids — written before row-id support, or by an UPDATE/MERGE on a " +
                  "table with no materialized row-id column declaration (the " +
                  "rewritten rows' ids are unknowable at cdc-write time); declare " +
                  "delta.rowTracking.materializedRowIdColumnName or read without row ids")
              frames += stamp(cdcDf.where(!isIns).withColumnRenamed(CdcRowIdCol, ric))
              val hasKeyed = nInsKeyed > 0L
              val hasNull = nInsNull > 0L
              require(!(hasKeyed && hasNull),
                s"readChanges($path): commit $v mixes keyed and unkeyed insert " +
                  "change rows — cannot re-derive the unkeyed ones without " +
                  "double-counting the keyed ones")
              if (hasKeyed)
                frames += stamp(cdcDf.where(isIns && col(CdcRowIdCol).isNotNull)
                  .withColumnRenamed(CdcRowIdCol, ric))
              if (hasNull) {
                // unkeyed inserts (a preserving MERGE can't know its
                // inserts' ids at cdc-write time): the inserted rows live
                // in this commit's NEW files (paths it did not also
                // remove) as exactly the fresh-id rows
                val newAdds = addFiles.filterNot(a => rmPaths.contains(a._1))
                require(newAdds.nonEmpty,
                  s"readChanges($path): commit $v has unkeyed insert change rows " +
                    "but no new data files to derive their ids from")
                frames += stamp(readAdds(newAdds, matInsertsOnly = true)
                  .withColumn("_change_type", lit("insert")))
              }
            }))
        }
      } else {
        // A dataChange remove of a file RE-ADDED in the same commit
        // under a different DV is a DV-style DELETE/UPDATE (committed
        // before CDF was enabled, or by a writer that skipped cdc
        // files): whole-file derivation would emit delete+insert churn
        // for every SURVIVING row of the file. delta-spark fails such
        // a read — match its posture rather than feed consumers
        // spurious change rows.
        addFiles.foreach { case (p, _, _, _, _) =>
          require(!rmPaths.contains(p),
            s"readChanges($path): commit $v both removes and re-adds '$p' with " +
              "dataChange=true and carries no cdc action — a deletion-vector " +
              "DML committed without change-data files; its row-level changes " +
              "cannot be derived from whole files (delta-spark fails this read " +
              "too). Re-read from a version after CDF was enabled")
        }
        if (addFiles.nonEmpty) {
          frames += stamp(readAdds(addFiles, matInsertsOnly = false)
            .withColumn("_change_type", lit("insert")))
        }
        if (rmFiles.nonEmpty) {
          // removed files' partitionValues/sizes live in the PREVIOUS
          // version's snapshot (graft removes don't re-serialize them)
          val prev = snapshot(spark, rootP.toString, Some(v - 1))
          rmFiles.foreach { case (rel, _) =>
            require(prev.files.contains(rel),
              s"readChanges($path): commit $v removes $rel, which version " +
                s"${v - 1} does not carry — cannot derive its deleted rows") }
          val rmSnap = endSnap.copy(
            version = v,
            files = rmFiles.map { case (rel, _) => rel -> prev.files(rel) }.toMap,
            sizes = prev.sizes, stats = Map.empty,
            dvs = rmFiles.collect { case (rel, d) if d != null => rel -> d }.toMap)
          val rmDf = rowIdOpt match {
            case None => readSnapshot(spark, rootP.toString, rmSnap)
            case Some(ric) =>
              // deletes carry the RETIRED ids — the ids the rows had at
              // v-1 (per-file baseRowId + physical index, materialized
              // column honored)
              rmFiles.foreach { case (rel, _) =>
                require(prev.rowIds.contains(rel),
                  s"readChanges($path): commit $v removes '$rel', which carries " +
                    s"no baseRowId at version ${v - 1} — the span reaches before " +
                    "row tracking was enabled; raise fromVersion or read " +
                    "without row ids") }
              readSnapshotRowIds(spark, rootP.toString,
                rmSnap.copy(rowIds =
                  prev.rowIds.filter(kv => rmSnap.files.contains(kv._1))), ric)
          }
          frames += stamp(rmDf.withColumn("_change_type", lit("delete")))
        }
      }
    }
    if (deferredCdc.nonEmpty) {
      import org.apache.spark.sql.functions.{sum => fsum, when => fwhen}
      val isIns = col("_change_type") === "insert"
      val union = deferredCdc.map { case (v, df, _) =>
        df.select(lit(v).as("__v"), col("_change_type"), col(CdcRowIdCol))
      }.reduce(_.unionByName(_))
      val counts = union.groupBy("__v").agg(
        fsum(fwhen(!isIns && col(CdcRowIdCol).isNull, 1L).otherwise(0L)),
        fsum(fwhen(isIns && col(CdcRowIdCol).isNotNull, 1L).otherwise(0L)),
        fsum(fwhen(isIns && col(CdcRowIdCol).isNull, 1L).otherwise(0L)))
        .collect().map { r =>
          def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
          r.getLong(0) -> ((n(1), n(2), n(3)))
        }.toMap
      deferredCdc.foreach { case (v, _, apply) =>
        val (a, b, c) = counts.getOrElse(v, (0L, 0L, 0L))
        apply(a, b, c)
      }
    }
    val outCols = ((endSnap.schema.fieldNames :+ "_change_type" :+
      "_commit_version" :+ "_commit_timestamp") ++ rowIdOpt).map(col)
    frames.result() match {
      case Seq() =>
        import org.apache.spark.sql.types.{LongType, TimestampType}
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType((ctSchema.fields :+
            StructField("_commit_version", LongType, nullable = false) :+
            StructField("_commit_timestamp", TimestampType, nullable = false)) ++
            rowIdOpt.map(StructField(_, LongType, nullable = false))))
      case fs0 => fs0.map(_.select(outCols: _*)).reduce(_.unionByName(_))
    }
  }

  /** `_last_checkpoint` fast path for latest-version reads: returns
    * (latest version, checkpoint version, its file names) with NO log
    * listing, or None when the pointer is absent/stale/half-written
    * (→ caller falls back to the listing path). The commit tail is
    * probed forward from the checkpoint — protocol commit versions are
    * contiguous, so the first missing NNN.json is the end of the log.
    */
  private def fastDiscovery(fs: FileSystem, logP: Path)
      : Option[(Long, Option[Long], Map[Long, Seq[String]])] = {
    val ptr = new Path(logP, "_last_checkpoint")
    val content = graft.pipeline.VersionedTable.readSmall(fs, ptr).getOrElse(return None)
    val (cpV, parts) =
      try {
        val node = mapper.readTree(content.trim)
        if (!node.has("version")) return None
        (node.get("version").asLong(),
          if (node.has("parts")) Some(node.get("parts").asInt()) else None)
      } catch { case _: Exception => return None }
    val classic = parts match {
      case Some(b) => (1 to b).map(a => f"$cpV%020d.checkpoint.$a%010d.$b%010d.parquet")
      case None => Seq(f"$cpV%020d.checkpoint.parquet")
    }
    val cpNames: Seq[String] =
      if (classic.forall(n => fs.exists(new Path(logP, n)))) classic
      else {
        // the pointer may reference a V2 (UUID-named) checkpoint — one
        // targeted glob on the version prefix keeps the no-LIST fast
        // path alive for v2-policy tables instead of permanently
        // falling back to the full log listing
        val globbed = try fs.globStatus(
          new Path(logP, f"$cpV%020d.checkpoint.*.parquet"))
          .map(_.getPath.getName).toSeq
        catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
        checkpointFilesOf(globbed).get(cpV) match {
          case Some(names) => names
          case None => return None // stale pointer
        }
      }
    var latest = cpV
    while (fs.exists(new Path(logP, f"${latest + 1}%020d.json"))) latest += 1
    Some((latest, Some(cpV), Map(cpV -> cpNames)))
  }

  /** One-shot migration of a Delta table into graft's versioned-table
    * protocol: reads the requested snapshot through the log and
    * commits it as one manifest version at `graftRoot` (after which
    * appends are O(delta) pointer commits, streams are
    * exactly-committed, and matviews can maintain incrementally —
    * none of which this read-only interop can offer on the foreign
    * log). The source table is untouched.
    */
  def importDelta(spark: SparkSession, deltaRoot: String, graftRoot: String,
                  version: Option[Long] = None,
                  format: String = "parquet"): Long = {
    val snap = read(spark, deltaRoot, version)
    graft.pipeline.VersionedTable.commit(spark, graftRoot, format, base => {
      require(base.isEmpty,
        s"importDelta targets a FRESH graft root; $graftRoot already has commits — " +
          "merge through the normal write path instead")
      snap
    })
  }

  /** Committed versions visible in the log (for GRAFT_VERSIONS-style
    * introspection of foreign tables). A log-cleaned table may hold a
    * version ONLY as a checkpoint (no surviving NNN.json) — snapshot()/
    * read() can serve such a version, so it must be listed here too
    * (same single/multi-part discovery logic as snapshot()).
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val logP = new Path(qualifiedRoot(spark, path), "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logP)) Nil
    else {
      val names = fs.listStatus(logP).toSeq.map(_.getPath.getName)
      (commitVersionsOf(names) ++ checkpointFilesOf(names).keys).distinct.sorted
    }
  }

  /** Newest committed version, None for a non-delta/empty log — the
    * streaming source's `getOffset` probe (pointer fast path when the
    * pointer is fresh, one LIST otherwise).
    */
  private[graft] def latestVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** TIMESTAMP time travel: the newest version whose commit timestamp
    * is ≤ `tsMillis` — delta-spark's `timestampAsOf` resolution. Commit
    * timestamps are the log files' MODIFICATION TIMES with delta's
    * monotonicity adjustment (a commit stamped at or before its
    * predecessor reads as predecessor+1 ms, so clock skew between
    * writers can never make resolution non-monotonic). One LIST, zero
    * content reads. Versions whose commit JSON was log-cleaned have no
    * timestamp — a request resolving below the earliest surviving
    * commit refuses (delta-spark's contract), and checkpoint-only
    * versions are likewise not timestamp-addressable.
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val logP = new Path(qualifiedRoot(spark, path), "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(logP), s"$path is not a Delta table (no _delta_log)")
    val stamped = fs.listStatus(logP).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit)
      }
      .map(st => st.getPath.getName.stripSuffix(".json").toLong -> st.getModificationTime)
      .sortBy(_._1)
    require(stamped.nonEmpty,
      s"Delta table at $path has no surviving commit JSONs — timestamps are not " +
        "reconstructable from a checkpoint-only log; time travel by version instead")
    // IN-COMMIT TIMESTAMPS (writer feature inCommitTimestamp): when the
    // table pins delta.enableInCommitTimestamps, every version at or
    // past the enablement version resolves by the commitInfo's
    // inCommitTimestamp — the clock-skew-proof clock the writers
    // maintain monotonic — and only pre-enablement versions fall back
    // to file mtimes. One small content read per surviving commit in
    // the ICT span (bounded by the post-cleanup log tail).
    val conf = snapshot(spark, path).configuration
    val ictTs: Map[Long, Long] =
      if (!conf.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true")))
        Map.empty
      else {
        val enableV = conf.get("delta.inCommitTimestampEnablementVersion")
          .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L)
        stamped.collect { case (v, _) if v >= enableV =>
          graft.pipeline.VersionedTable.readSmall(fs, DeltaLog.commitFile(logP, v))
            .flatMap(DeltaLog.inCommitTimestamp).map(v -> _)
        }.flatten.toMap
      }
    // monotonic adjustment in version order (ICT values are already
    // monotonic by the writer contract and simply pass through the max)
    val adjusted = stamped.scanLeft((-1L, Long.MinValue)) { case ((_, prevTs), (v, ts)) =>
      (v, math.max(ictTs.getOrElse(v, ts), prevTs + 1))
    }.drop(1)
    require(tsMillis >= adjusted.head._2,
      s"timestamp $tsMillis predates the earliest surviving commit of the Delta " +
        s"table at $path (version ${adjusted.head._1} at ${adjusted.head._2}) — " +
        "older commits were log-cleaned")
    adjusted.takeWhile(_._2 <= tsMillis).last._1
  }

  /** [[read]] at the newest version committed at or before `tsMillis`. */
  def readAt(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAt(spark, path, tsMillis)))

  /** PHYSICAL row indexes matching `condition`, per live file — the
    * input of a DV-emitting delete ([[DeltaWrite.delete]]) on a table
    * without the change data feed. The scan deliberately ignores the
    * current DVs: DV indexes address physical file rows, and the
    * caller unions with the existing bitmap (a match that is already
    * soft-deleted simply stays deleted). Returns decoded-relative-path
    * → sorted indexes; refuses past the DV cap.
    */
  private[sources] def matchedPhysicalRows(spark: SparkSession, path: String,
                                           snap: Snapshot,
                                           condition: String): Map[String, Array[Long]] = {
    val out = rowIndexesByFile(spark, path, snap,
      scanSnapshot(spark, path, snap.copy(dvs = Map.empty), withRowMeta = true)
        .where(condition))
    requireDvBudget(out, "DELETE", path)
    out
  }

  /** The physical row indexes of `rows` (a [[readSnapshot]] /
    * [[readSnapshotRowIds]] frame over `snap`'s files with
    * `keepRowMeta`), per file — decoded-relative-path → sorted indexes.
    *
    * Scale shape: the executors pack each partition's indexes per file
    * (one `(file, Array[Long])` row per file a partition holds, in the
    * same job that scans — no shuffle stage), so the driver receives 8
    * bytes per matched row, the same residency the commit's DV
    * serialization needs anyway, and only concatenates and sorts a
    * file's runs. A row-level collect would ship a full Row object +
    * the repeated file-path string per matched row (~20× the bytes)
    * and OOM the driver long before the cap fired. The collect is
    * bounded by `spark.driver.maxResultSize`, so a pathological match
    * fails inside it before the driver is at risk; [[requireDvBudget]]
    * checks the DV cap on the result.
    */
  private[sources] def rowIndexesByFile(spark: SparkSession, path: String,
                                        snap: Snapshot,
                                        rows: DataFrame): Map[String, Array[Long]] = {
    val rootP = qualifiedRoot(spark, path)
    // key space = _metadata.file_path = SparkPath (URL-encoded URI)
    // form; Path.toString would leave e.g. a space in a partition
    // value raw and the lookup below would miss (see readSnapshot)
    val absToRel = snap.files.keys.map(rel => new Path(rootP, rel).toUri.toString -> rel).toMap
    import spark.implicits._
    rows.select(col("__graft_dv_fp"), col("__graft_dv_ri")).as[(String, Long)]
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
        it.foreach { case (fp, ri) =>
          byFile.getOrElseUpdate(fp, new scala.collection.mutable.ArrayBuilder.ofLong) += ri
        }
        byFile.iterator.map { case (fp, b) => (fp, b.result()) }
      }
      .collect()
      .groupBy(_._1)
      .map { case (fp, runs) =>
        val rel = absToRel.getOrElse(fp,
          throw new IllegalStateException(s"DML scan surfaced an unknown file $fp"))
        val idx = runs.flatMap(_._2)
        java.util.Arrays.sort(idx)
        rel -> idx
      }
  }

  /** DELETE and UPDATE refuse a match whose row indexes exceed the
    * deletion-vector budget ([[DeletionVectors.maxDeletedRows]] × 8
    * bytes).
    */
  private[sources] def requireDvBudget(matched: Map[String, Array[Long]], opName: String,
                                       path: String): Unit = {
    val n = matched.valuesIterator.map(_.length.toLong).sum
    require(8L * n <= 8L * DeletionVectors.maxDeletedRows,
      s"$opName at $path matches $n rows (${8L * n} bytes of row indexes) — past " +
        s"the deletion-vector budget (${8L * DeletionVectors.maxDeletedRows} bytes); " +
        "rewrite the table instead")
  }

  /** One commit's DATA-CHANGING actions, for the streaming source:
    * its adds, plus how many files the commit removed. Actions flagged
    * `dataChange=false` (OPTIMIZE repackaging) are excluded on both
    * sides — per the protocol they carry no new rows and must not
    * stream or fail a stream.
    */
  private[graft] final case class CommitActions(
      version: Long,
      adds: Seq[DeltaLog.AddFile],
      removes: Int)

  /** Parse commits `(fromExclusive, toInclusive]` — the streaming
    * micro-batch span. A missing commit file inside the span means the
    * stream's lag exceeded the log's retention (cleaned log): loud.
    */
  private[graft] def commitActions(spark: SparkSession, path: String,
                                   fromExclusive: Long,
                                   toInclusive: Long): Seq[CommitActions] = {
    val logP = new Path(qualifiedRoot(spark, path), "_delta_log")
    val fs = logP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fromExclusive + 1 to toInclusive).map { v =>
      val actions = DeltaLog.readCommit(fs, logP, v).getOrElse(
        throw new IllegalStateException(
          s"Delta log at $path is missing commit $v — the stream's lag exceeded " +
            "the log's retention (cleaned log); restart from a fresh checkpoint"))
      CommitActions(v, actions.collect { case a: DeltaLog.AddFile if a.dataChange => a },
        actions.count { case r: DeltaLog.RemoveFile => r.dataChange; case _ => false })
    }
  }

  /** Parse an `add.stats` JSON into the [[graft.pipeline.FileStats]]
    * shape the skipping machinery consumes. Stat domains: integral →
    * Long, floating → Double, text → String (matching the sidecar
    * domains, so the shared interval/overlap logic applies verbatim);
    * a null bound, domain mismatch between min and max, or unparseable
    * JSON records no entry — the file is scanned, never mis-skipped.
    */
  private[sources] def parseAddStats(json: String)
      : Option[graft.pipeline.FileStats.FileStat] =
    try {
      val n = mapper.readTree(json)
      val rows = Option(n.get("numRecords")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(-1L)
      def statVal(nd: com.fasterxml.jackson.databind.JsonNode): Option[Any] =
        if (nd == null || nd.isNull) None
        else if (nd.isIntegralNumber) Some(nd.asLong())
        else if (nd.isFloatingPointNumber) Some(nd.asDouble())
        else if (nd.isTextual) Some(nd.asText())
        else None
      val cols = (for {
        mn <- Option(n.get("minValues")).toSeq
        mx <- Option(n.get("maxValues")).toSeq
        e <- mn.properties().asScala
        hiN <- Option(mx.get(e.getKey))
        lo <- statVal(e.getValue)
        hi <- statVal(hiN)
        if lo.getClass == hi.getClass
      } yield e.getKey -> graft.pipeline.FileStats.ColStat(lo, hi)).toMap
      Some(graft.pipeline.FileStats.FileStat("", rows, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  private[sources] def commitVersionsOf(names: Seq[String]): Seq[Long] = names.collect {
    case n if n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit) =>
      n.stripSuffix(".json").toLong
  }.sorted

  /** Checkpoint forms: single-file vNNN.checkpoint.parquet, or the
    * large-table multi-part vNNN.checkpoint.AAAAAAAAAA.BBBBBBBBBB
    * .parquet (part A of B) — a multi-part version is usable only
    * when ALL its parts are present (a half-written one is not a
    * checkpoint yet, per the protocol).
    */
  private[sources] def checkpointFilesOf(names: Seq[String]): Map[Long, Seq[String]] = {
    val SinglePart = """(\d{20})\.checkpoint\.parquet""".r
    val MultiPart = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    // V2 (UUID-named) checkpoints — sidecar resolution happens at read
    // time; several UUIDs at one version are equivalent by protocol,
    // pick the lexicographically first for determinism
    val V2 = """(\d{20})\.checkpoint\.[0-9a-fA-F]{8}-[0-9a-fA-F-]{27}\.parquet""".r
    val singles = names.collect { case SinglePart(v) => v.toLong -> Seq(f"${v.toLong}%020d.checkpoint.parquet") }
    val multis = names.collect { case MultiPart(v, a, b) => (v.toLong, b.toInt, a.toInt) }
      .groupBy { case (v, b, _) => (v, b) }
      .collect { case ((v, b), parts) if parts.map(_._3).toSet == (1 to b).toSet =>
        v -> (1 to b).map(a => f"$v%020d.checkpoint.$a%010d.$b%010d.parquet")
      }.toSeq
    val v2s = names.collect { case n @ V2(v) => v.toLong -> n }
      .groupBy(_._1).map { case (v, ns) => v -> Seq(ns.map(_._2).min) }
    // classic forms win when both exist at a version (either is valid)
    (v2s.toSeq ++ multis ++ singles).toMap
  }

  /** Reader-protocol gate (PROTOCOL.md's "Reader Requirements"):
    *  - v1: always readable.
    *  - v2: column mapping — `name` mode supported (physical-name scan
    *    + rename), `id` mode (parquet field-id resolution) refused.
    *  - v3: table features — readable iff every `readerFeatures` entry
    *    is one this reader actually implements (`columnMapping`,
    *    `timestampNtz` — the latter is just a type our schema parse
    *    already carries). Everything else refuses loudly: ignoring an
    *    unknown reader feature is silent data corruption by design of
    *    the protocol.
    *
    * `typeWidening` (and its `-preview` form) is SUPPORTED (round 17):
    * a widened column's old files store the narrower physical type and
    * the scan's read schema carries the wider table type — Spark 4's
    * parquet reader performs the widening promotions the delta matrix
    * allows (int8/16/32→int64, float→double; SPARK-40876), pinned in
    * DeltaReadSuite against hand-widened logs.
    */
  private def validateReaderProtocol(path: String, minReader: Int,
                                     features: Set[String], mappingMode: String): Unit = {
    // vacuumProtocolCheck has no read-path semantics — its contract is
    // "VACUUM must validate the protocol first", which DeltaWrite.vacuum
    // does (requireWritable) — so tables carrying it stay readable
    val supported = Set("columnMapping", "timestampNtz", "deletionVectors",
      "v2Checkpoint", "vacuumProtocolCheck", "typeWidening", "typeWidening-preview",
      // variant: Spark 4's parquet reader consumes both the unshredded
      // struct<metadata, value> layout (variantType) and shredded files
      // (variantShredding-preview — spark.sql.variant.allowReadingShredded
      // is on by default), so tables carrying either stay readable
      "variantType", "variantType-preview", "variantShredding-preview")
    if (minReader >= 3) {
      val unsupported = features -- supported
      require(unsupported.isEmpty,
        s"Delta table at $path requires reader features ${unsupported.toSeq.sorted.mkString(", ")} " +
          "— this interop reader supports only " +
          s"${supported.toSeq.sorted.mkString(", ")}; read it with the real " +
          "delta-spark connector or migrate it to a graft versioned table")
    }
    require(minReader <= 3,
      s"Delta table at $path requires minReaderVersion=$minReader — newer than " +
        "this interop reader's protocol support (v3); read it with delta-spark")
    require(mappingMode == "none" || mappingMode == "name" || mappingMode == "id",
      s"Delta table at $path uses delta.columnMapping.mode=$mappingMode — only " +
        "'name' and 'id' modes (and unmapped tables) are supported by this " +
        "interop reader; read it with delta-spark")
  }

  /** Log paths are RFC-2396 percent-encoded URIs (delta-spark decodes
    * via `new URI(p).getPath`) — NOT form-encoding: URLDecoder would
    * turn a literal '+' in a file or partition-dir name into a space
    * and the resolved path would miss on disk.
    *
    * The protocol ALSO allows `add.path` to be an absolute URI (shallow
    * clones, absolute-path writers). Resolving such an entry against
    * THIS table root's filesystem would silently read from the wrong
    * location (or fail with an opaque path error), so it is refused
    * loudly — same contract as the minReaderVersion gate.
    */
  private[sources] def decodePath(rel: String): String = {
    val uri =
      try new java.net.URI(rel)
      catch { case _: java.net.URISyntaxException =>
        throw new IllegalStateException(s"Delta log references an unparseable path '$rel'") }
    val p = uri.getPath
    if (uri.getScheme != null || uri.getAuthority != null || (p != null && p.startsWith("/")))
      throw new IllegalStateException(
        s"Delta log references an ABSOLUTE file path '$rel' (shallow clone or " +
          "absolute-path writer) — this interop reader resolves add entries " +
          "against the table root only; read the table with delta-spark or " +
          "migrate it to a graft versioned table")
    p
  }

  private def qualifiedRoot(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }
}

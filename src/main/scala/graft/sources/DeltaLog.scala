package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, lit, struct, to_json, udf, when}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, MapType, StringType, StructField, StructType}

/** The Delta transaction-log FORMAT, in one place (PROTOCOL.md): the
  * one parser from log lines to typed actions, the one checkpoint
  * reader (classic, multi-part and v2-sidecar layouts) and the one
  * FOLD that applies actions to table state. A table version is one
  * deterministic replay — the newest checkpoint, then the commits
  * after it — and every consumer runs that same replay:
  * [[DeltaRead.snapshot]] (cold and cached advance), the `<v>.crc`
  * writer and [[DeltaWrite.checkpoint]]'s tail fold.
  *
  * Replay rules: file actions reconcile by the protocol's file
  * identity `(path, dv.uniqueId)` — a deletion-vector DELETE commits
  * add(F, newDv) + remove(F, oldDv), and a remove only retires the
  * identity it names; the newest `protocol`, `metaData`, per-appId
  * `txn` and per-domain `domainMetadata` action wins.
  */
object DeltaLog {

  private val mapper = new ObjectMapper()

  // ----- actions -----------------------------------------------------

  sealed trait Action
  /** Feature lists are None when the action carries none (legacy
    * protocols) — a checkpoint writes them back absent, not empty.
    */
  final case class Protocol(minReader: Int, minWriter: Int,
                            readerFeatures: Option[Seq[String]],
                            writerFeatures: Option[Seq[String]]) extends Action
  final case class Metadata(id: String, schemaString: String, partitionColumns: Seq[String],
                            configuration: Map[String, String], format: String,
                            formatOptions: Map[String, String],
                            createdTime: Option[Long]) extends Action
  /** `path` stays URI-encoded as logged; `size` is -1 and the row-id
    * fields are -1 when the action lacks them; `stats`/`dv` null.
    */
  final case class AddFile(path: String, partitionValues: Map[String, String], size: Long,
                           modificationTime: Long, dataChange: Boolean, stats: String,
                           dv: DeletionVectors.Descriptor, baseRowId: Long,
                           defaultRowCommitVersion: Long) extends Action
  final case class RemoveFile(path: String, deletionTimestamp: Option[Long],
                              dataChange: Boolean,
                              dv: DeletionVectors.Descriptor) extends Action
  final case class Txn(appId: String, version: Long, lastUpdated: Option[Long]) extends Action
  final case class DomainMetadata(domain: String, configuration: String,
                                  removed: Boolean) extends Action
  final case class Cdc(path: String, partitionValues: Map[String, String],
                       size: Long) extends Action
  final case class CommitInfo(timestamp: Long, inCommitTimestamp: Option[Long]) extends Action
  /** v2 checkpoints only: a file of `_delta_log/_sidecars` holding file actions. */
  final case class Sidecar(path: String) extends Action

  /** The action one log line (or one checkpoint row as JSON) carries;
    * None for kinds no replay reads (e.g. `checkpointMetadata`). A
    * null-valued kind is no action: a checkpoint row serialised with
    * its empty columns kept reads `{"protocol":null,"metaData":{..}}`.
    */
  def parseAction(line: String): Option[Action] =
    mapper.readTree(line).properties().asScala.iterator
      .filterNot(_.getValue.isNull)
      .flatMap(e => actionOf(e.getKey, e.getValue)).nextOption()

  /** A commit's actions, in log order. */
  def parseCommit(content: String): Seq[Action] =
    content.split("\n").iterator.map(_.trim).filter(_.nonEmpty).flatMap(parseAction).toSeq

  def commitFile(logP: Path, v: Long): Path = new Path(logP, f"$v%020d.json")

  /** Commit `v`'s actions; None when its JSON is missing or unreadable. */
  def readCommit(fs: FileSystem, logP: Path, v: Long): Option[Seq[Action]] =
    graft.pipeline.VersionedTable.readSmall(fs, commitFile(logP, v)).map(parseCommit)

  private def actionOf(kind: String, b: JsonNode): Option[Action] = kind match {
    case "add" => Some(AddFile(b.path("path").asText(), strMap(b.get("partitionValues")),
      long(b, "size", -1L), long(b, "modificationTime", 0L),
      b.path("dataChange").asBoolean(true), text(b, "stats"), dvOf(b.get("deletionVector")),
      long(b, "baseRowId", -1L), long(b, "defaultRowCommitVersion", -1L)))
    case "remove" => Some(RemoveFile(b.path("path").asText(), optLong(b, "deletionTimestamp"),
      b.path("dataChange").asBoolean(true), dvOf(b.get("deletionVector"))))
    case "metaData" => Some(Metadata(text(b, "id"), text(b, "schemaString"),
      strings(b.get("partitionColumns")).getOrElse(Nil), strMap(b.get("configuration")),
      b.path("format").path("provider").asText("parquet"),
      strMap(b.path("format").get("options")), optLong(b, "createdTime")))
    case "protocol" => Some(Protocol(b.path("minReaderVersion").asInt(1),
      b.path("minWriterVersion").asInt(2), strings(b.get("readerFeatures")),
      strings(b.get("writerFeatures"))))
    case "txn" => Some(Txn(b.path("appId").asText(), b.path("version").asLong(),
      optLong(b, "lastUpdated")))
    case "domainMetadata" => Some(DomainMetadata(b.path("domain").asText(),
      text(b, "configuration"), b.path("removed").asBoolean(false)))
    case "cdc" => Some(Cdc(b.path("path").asText(), strMap(b.get("partitionValues")),
      long(b, "size", -1L)))
    case "commitInfo" => Some(CommitInfo(b.path("timestamp").asLong(-1L),
      optLong(b, "inCommitTimestamp")))
    case "sidecar" => Some(Sidecar(b.path("path").asText()))
    case _ => None
  }

  private def optLong(b: JsonNode, f: String): Option[Long] =
    if (b.hasNonNull(f)) Some(b.get(f).asLong()) else None
  private def long(b: JsonNode, f: String, absent: Long): Long = optLong(b, f).getOrElse(absent)
  private def text(b: JsonNode, f: String): String = if (b.hasNonNull(f)) b.get(f).asText() else null
  private def strings(n: JsonNode): Option[Seq[String]] =
    if (n == null || n.isNull) None else Some(n.elements().asScala.map(_.asText()).toSeq)
  /** A JSON object of strings; JSON nulls stay null (a null partition value). */
  private def strMap(n: JsonNode): Map[String, String] =
    if (n == null || n.isNull) Map.empty
    else n.properties().asScala.map(e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap

  /** A `deletionVector` descriptor (null = none). Offset PRESENCE
    * matters: the uniqueId distinguishes an absent offset from 0.
    */
  private def dvOf(n: JsonNode): DeletionVectors.Descriptor = {
    if (n == null || n.isNull || n.path("storageType").asText("").isEmpty) return null
    DeletionVectors.Descriptor(n.path("storageType").asText(""), n.path("pathOrInlineDv").asText(""),
      if (n.hasNonNull("offset")) Some(n.get("offset").asInt()) else None,
      n.path("sizeInBytes").asInt(0), n.path("cardinality").asLong(0))
  }

  /** The file-action identity: (decoded path, dv.uniqueId, "" without a DV). */
  private def fileKey(path: String, dv: DeletionVectors.Descriptor): (String, String) =
    (DeltaRead.decodePath(path), uid(dv))
  private def uid(dv: DeletionVectors.Descriptor): String = if (dv == null) "" else dv.uniqueId

  /** A commit's inCommitTimestamp, when its commitInfo carries one. */
  def inCommitTimestamp(content: String): Option[Long] =
    content.split("\n").find(_.contains("inCommitTimestamp")).flatMap(parseAction)
      .collect { case c: CommitInfo => c.inCommitTimestamp }.flatten

  /** `content` with its first action — the commitInfo — stamped with `ict`. */
  def withInCommitTimestamp(content: String, ict: Long): String = {
    val lines = content.split("\n").filter(_.trim.nonEmpty)
    val ci = mapper.readTree(lines.head)
    ci.get("commitInfo").asInstanceOf[ObjectNode].put("inCommitTimestamp", ict)
    (mapper.writeValueAsString(ci) +: lines.tail.toSeq).mkString("\n") + "\n"
  }

  /** One add line stamped with row-tracking ids (the default commit
    * version only when known), every other field kept byte for byte.
    */
  def withRowIds(addLine: String, baseRowId: Long, defaultRowCommitVersion: Long): String = {
    val n = mapper.readTree(addLine)
    val a = n.get("add").asInstanceOf[ObjectNode]
    a.put("baseRowId", baseRowId)
    if (defaultRowCommitVersion >= 0L) a.put("defaultRowCommitVersion", defaultRowCommitVersion)
    mapper.writeValueAsString(n)
  }

  // ----- the fold ----------------------------------------------------

  /** Table state under replay: the snapshot, plus what only a
    * checkpoint writes back — the raw protocol / metaData / txn
    * actions, the raw add behind every file this replay made live,
    * the removed paths not live again (tombstones), every file
    * identity this replay's actions named (`touched` — the keys a
    * checkpoint's distributed add set anti-joins against), and the
    * physical → logical column names of the current metaData (built
    * once per mapping, not per add).
    */
  final case class LogState(
      table: String,
      snap: DeltaRead.Snapshot,
      protocol: Protocol = null,
      metadata: Metadata = null,
      txns: Map[String, Txn] = Map.empty,
      adds: Map[String, AddFile] = Map.empty,
      tombstones: Map[String, RemoveFile] = Map.empty,
      touched: Set[(String, String)] = Set.empty,
      toLogical: Map[String, String] = Map.empty)

  /** The state before any action: no schema, no files, protocol (1, 2). */
  def emptyState(table: String): LogState =
    LogState(table, DeltaRead.Snapshot(-1L, null, Nil, Map.empty))

  /** The state to fold further commits onto an already replayed snapshot. */
  def resume(table: String, snap: DeltaRead.Snapshot): LogState =
    LogState(table, snap, toLogical = snap.colMap.map(_.swap))

  /** Apply `actions` in order. O(actions), except that a `metaData`
    * action whose column mapping differs re-keys the live partition
    * values (O(files), only on such a change).
    */
  def fold(st: LogState, actions: Iterable[Action]): LogState = actions.foldLeft(st)(step)

  private def step(st: LogState, a: Action): LogState = a match {
    case p: Protocol =>
      st.copy(protocol = p, snap = st.snap.copy(minReader = p.minReader, minWriter = p.minWriter,
        readerFeatures = p.readerFeatures.fold(Set.empty[String])(_.toSet),
        writerFeatures = p.writerFeatures.fold(Set.empty[String])(_.toSet)))
    case m: Metadata =>
      val s = withMetadata(st.table, st.snap, m)
      st.copy(metadata = m, snap = s,
        toLogical = if (s.colMap == st.snap.colMap) st.toLogical else s.colMap.map(_.swap))
    case t: Txn =>
      st.copy(txns = st.txns + (t.appId -> t),
        snap = st.snap.copy(txns = st.snap.txns + (t.appId -> t.version)))
    case d: DomainMetadata =>
      st.copy(snap = st.snap.copy(domains =
        if (d.removed) st.snap.domains - d.domain
        else st.snap.domains + (d.domain -> d.configuration)))
    case f: AddFile =>
      val k = fileKey(f.path, f.dv)
      st.copy(snap = withAdds(st, Seq(k._1 -> f)), adds = st.adds + (k._1 -> f),
        tombstones = st.tombstones - k._1, touched = st.touched + k)
    case r: RemoveFile =>
      val k @ (p, u) = fileKey(r.path, r.dv)
      val s = st.snap
      // a remove retires only the identity it names: the same path
      // re-added under a new DV in this commit stays live
      if (s.files.contains(p) && uid(s.dvs.get(p).orNull) != u) st.copy(touched = st.touched + k)
      else st.copy(snap = s.copy(files = s.files - p, sizes = s.sizes - p, stats = s.stats - p,
          dvs = s.dvs - p, rowIds = s.rowIds - p,
          sizeBytes = s.sizeBytes - s.sizes.get(p).fold(0L)(math.max(_, 0L)),
          unknownSizes = s.unknownSizes - s.sizes.get(p).count(_ < 0L)),
        adds = st.adds - p, tombstones = st.tombstones + (p -> r), touched = st.touched + k)
    case _ => st
  }

  /** `st`'s snapshot with the given (decoded path → add) files live.
    * Partition-value keys are PHYSICAL in the log under column mapping
    * and logical in the snapshot; stats stay physical (skipping runs at
    * the scan). The size totals swap out a replaced file's old size.
    */
  private[sources] def withAdds(st: LogState,
                                adds: Iterable[(String, AddFile)]): DeltaRead.Snapshot = {
    val s = st.snap
    val toLogical = st.toLogical
    val paths = adds.map(_._1)
    var sizes = s.sizes
    var sizeBytes = s.sizeBytes
    var unknownSizes = s.unknownSizes
    adds.foreach { case (p, a) =>
      sizes.get(p).foreach(old => if (old >= 0L) sizeBytes -= old else unknownSizes -= 1)
      if (a.size >= 0L) sizeBytes += a.size else unknownSizes += 1
      sizes = sizes.updated(p, a.size)
    }
    s.copy(sizeBytes = sizeBytes, unknownSizes = unknownSizes, sizes = sizes,
      files = s.files ++ adds.map { case (p, a) =>
        p -> (if (toLogical.isEmpty) a.partitionValues
              else a.partitionValues.map { case (k, v) => toLogical.getOrElse(k, k) -> v })
      },
      stats = s.stats -- paths ++ adds.collect { case (p, a) if a.stats != null => p -> a.stats },
      dvs = s.dvs -- paths ++ adds.collect { case (p, a) if a.dv != null => p -> a.dv },
      rowIds = s.rowIds -- paths ++ adds.collect { case (p, a) if a.baseRowId >= 0L =>
        p -> ((a.baseRowId, a.defaultRowCommitVersion)) })
  }

  private def withMetadata(table: String, s: DeltaRead.Snapshot,
                           m: Metadata): DeltaRead.Snapshot = {
    require(m.schemaString != null,
      s"Delta log at $table carries a metaData action without a schemaString")
    val schema = DataType.fromJson(m.schemaString).asInstanceOf[StructType]
    val mode = m.configuration.getOrElse("delta.columnMapping.mode", "none")
    // id mode resolves parquet columns by field id at the scan, but the
    // protocol requires physicalName in both modes, so the map builds alike
    val colMap = if (mode == "name" || mode == "id") buildColMap(table, schema)
      else Map.empty[String, String]
    // a mapping change re-keys live partition values: back to the
    // physical names the log holds, then to the new logical names
    val files = if (colMap == s.colMap) s.files else {
      val toLogical = colMap.map(_.swap)
      s.files.map { case (p, pv) => p -> pv.map { case (k, v) =>
        val phys = s.colMap.getOrElse(k, k)
        toLogical.getOrElse(phys, phys) -> v
      } }
    }
    s.copy(schema = schema, partitionColumns = m.partitionColumns,
      metaId = Option(m.id).getOrElse(s.metaId), configuration = m.configuration,
      colMap = colMap, files = files)
  }

  /** TOP-LEVEL logical → physical name map of a column-mapped schema:
    * every top-level field must carry the protocol's physicalName.
    * Nested renames resolve from each nested field's own metadata at
    * the scan; this map stays top-level because partition translation
    * and the writers consume it.
    */
  private def buildColMap(table: String, schema: StructType): Map[String, String] =
    schema.fields.map { f =>
      val key = "delta.columnMapping.physicalName"
      if (!f.metadata.contains(key))
        throw new IllegalStateException(
          s"Delta table at $table declares column mapping but column " +
            s"'${f.name}' carries no physicalName metadata (the protocol " +
            "requires it in both name and id modes) — corrupt log?")
      f.name -> f.metadata.getString(key)
    }.toMap

  /** Fold commits `[from, to]` onto `st`; Left(v) names the first
    * commit whose JSON is missing.
    */
  def replay(fs: FileSystem, logP: Path, st: LogState, from: Long,
             to: Long): Either[Long, LogState] = {
    var cur = st
    var v = from
    while (v <= to) {
      readCommit(fs, logP, v) match {
        case Some(actions) => cur = fold(cur, actions)
        case None => return Left(v)
      }
      v += 1
    }
    Right(cur)
  }

  // ----- checkpoints -------------------------------------------------

  private val DvType = StructType(Seq(StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType), StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType), StructField("cardinality", LongType)))
  private val StrMap = MapType(StringType, StringType)

  /** The checkpoint row schema this writer emits (one action per row,
    * exactly one non-null column) — the protocol's checkpoint schema
    * for the action kinds graft writes; every field nullable.
    */
  val CheckpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType),
        StructField("options", StrMap)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", StrMap), StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", StrMap), StructField("size", LongType),
      StructField("modificationTime", LongType), StructField("dataChange", BooleanType),
      StructField("stats", StringType), StructField("deletionVector", DvType),
      StructField("baseRowId", LongType), StructField("defaultRowCommitVersion", LongType)))),
    StructField("remove", StructType(Seq(StructField("path", StringType),
      StructField("deletionTimestamp", LongType), StructField("dataChange", BooleanType)))),
    StructField("txn", StructType(Seq(StructField("appId", StringType),
      StructField("version", LongType), StructField("lastUpdated", LongType)))),
    StructField("domainMetadata", StructType(Seq(StructField("domain", StringType),
      StructField("configuration", StringType), StructField("removed", BooleanType))))))

  private def boxed(l: Option[Long]): java.lang.Long = l.map(Long.box).orNull
  private def boxedRowId(l: Long): java.lang.Long = if (l >= 0L) Long.box(l) else null

  /** One action as a [[CheckpointSchema]] row. File actions are written
    * `dataChange=false` — checkpoint rows describe existing state; a
    * remove without a timestamp is stamped `nowMs`.
    */
  def checkpointRow(a: Action, nowMs: Long): Row = {
    val cells = Array.fill[Any](CheckpointSchema.length)(null)
    val (i, v) = a match {
      case p: Protocol => 0 -> Row(p.minReader, p.minWriter, p.readerFeatures.orNull,
        p.writerFeatures.orNull)
      case m: Metadata => 1 -> Row(m.id, Row(m.format, m.formatOptions), m.schemaString,
        m.partitionColumns, m.configuration, boxed(m.createdTime))
      case f: AddFile => 2 -> Row(f.path, f.partitionValues, f.size, f.modificationTime, false,
        f.stats, Option(f.dv).map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull,
        boxedRowId(f.baseRowId), boxedRowId(f.defaultRowCommitVersion))
      case r: RemoveFile => 3 -> Row(r.path, r.deletionTimestamp.getOrElse(nowMs), false)
      case t: Txn => 4 -> Row(t.appId, t.version, boxed(t.lastUpdated))
      case d: DomainMetadata => 5 -> Row(d.domain, d.configuration, d.removed)
      case other => throw new IllegalArgumentException(s"no checkpoint row for $other")
    }
    cells(i) = v
    Row.fromSeq(cells.toSeq)
  }

  /** A v2 checkpoint's sidecar reference as a file under
    * `_delta_log/_sidecars` — None for an absolute reference, which
    * this reader does not follow.
    */
  def sidecarFile(logP: Path, rel: String): Option[Path] =
    if (rel.contains("://") || rel.startsWith("/")) None
    else Some(new Path(new Path(logP, "_sidecars"), rel))

  /** One checkpoint (all parts of a multi-part one, or a v2 main file).
    * `actions` are its non-file actions, collected in one job (v2
    * [[Sidecar]] references included); `files` its add/remove rows as
    * a distributed frame with one [[CheckpointSchema]]-typed `add` or
    * `remove` column set per row.
    */
  final class Checkpoint private[DeltaLog] (spark: SparkSession, logP: Path, table: String,
                                            mains: Seq[String]) {
    private val main = spark.read.parquet(mains.map(n => new Path(logP, n).toString): _*)

    val actions: Seq[Action] = {
      val kinds = Seq("protocol", "metaData", "txn", "domainMetadata", "sidecar")
        .filter(main.columns.contains)
      if (kinds.isEmpty) Nil
      else main.where(kinds.map(col(_).isNotNull).reduce(_ || _))
        .select(to_json(struct(kinds.map(col): _*))).collect().toSeq
        .flatMap(r => parseAction(r.getString(0)))
    }

    def sidecars: Seq[String] = actions.collect { case Sidecar(p) => p }.sorted

    private def sidecarPaths: Seq[String] = sidecars.map(rel => sidecarFile(logP, rel)
      .getOrElse(throw new IllegalStateException(
        s"v2 checkpoint at $table references an absolute sidecar '$rel' — graft " +
          "resolves sidecars under _delta_log/_sidecars only")).toString)

    lazy val files: DataFrame = {
      val frames = (main +: sidecarPaths.map(spark.read.parquet(_)))
        .filter(f => f.columns.contains("add") || f.columns.contains("remove"))
      require(frames.exists(_.columns.contains("add")),
        s"unrecognized checkpoint layout at $table (no add column in the " +
          "checkpoint or its sidecars)")
      frames.map(fileRows).reduce(_ unionByName _)
    }

    /** Rows in the checkpoint and its sidecars — a footer-only count. */
    def rowCount: Long = {
      val sides = sidecars.flatMap(sidecarFile(logP, _)).map(_.toString)
      main.count() + (if (sides.isEmpty) 0L else spark.read.parquet(sides: _*).count())
    }
  }

  def readCheckpoint(spark: SparkSession, logP: Path, table: String,
                     files: Seq[String]): Checkpoint =
    new Checkpoint(spark, logP, table, files)

  /** The state a checkpoint holds, minus its files (which stay distributed). */
  def seed(table: String, ck: Option[Checkpoint]): LogState =
    fold(emptyState(table), ck.fold(Seq.empty[Action])(_.actions))

  /** A frame's add/remove rows, rebuilt field by NAME into
    * [[CheckpointSchema]]'s shapes (foreign layouts may omit optional
    * fields or order them differently); absent fields read null.
    */
  private def fileRows(f: DataFrame): DataFrame = {
    def fields(kind: String): Set[String] =
      if (f.columns.contains(kind)) f.select(s"$kind.*").columns.toSet else Set.empty
    def rebuild(kind: String, dt: StructType)(custom: PartialFunction[String, Column]): Column = {
      val have = fields(kind)
      if (!have("path")) lit(null).cast(dt).as(kind)
      else when(col(s"$kind.path").isNotNull, struct(dt.fields.toSeq.map { fd =>
        custom.applyOrElse(fd.name, (n: String) =>
          if (have(n)) col(s"$kind.$n").cast(fd.dataType).as(n)
          else lit(null).cast(fd.dataType).as(n))
      }: _*)).cast(dt).as(kind)
    }
    val addT = CheckpointSchema("add").dataType.asInstanceOf[StructType]
    val rmT = CheckpointSchema("remove").dataType.asInstanceOf[StructType]
    val addHas = fields("add")
    val add = rebuild("add", addT) {
      case "dataChange" => lit(false).as("dataChange")
      case "deletionVector" if addHas("deletionVector") =>
        when(col("add.deletionVector.storageType").isNotNull, struct(DvType.fields.toSeq.map {
          fd => col(s"add.deletionVector.${fd.name}").cast(fd.dataType).as(fd.name) }: _*))
          .as("deletionVector")
    }
    val rmHas = fields("remove")
    val remove = rebuild("remove", rmT) {
      case "dataChange" => lit(false).as("dataChange")
      case "deletionTimestamp" =>
        (if (rmHas("deletionTimestamp"))
          coalesce(col("remove.deletionTimestamp").cast(LongType), lit(0L))
        else lit(0L)).as("deletionTimestamp")
    }
    f.select(add, remove).where(col("add").isNotNull || col("remove").isNotNull)
  }

  // null-safe: the optimizer may fold a literal-null path through the UDF
  private val decode = udf((p: String) => if (p == null) null else DeltaRead.decodePath(p))

  /** A checkpoint's adds still live after the tail folded into `st`,
    * as (`__dpath` = decoded path, `add`) — the carried files: no tail
    * action named their identity, and no tail add made their path live
    * (a tail add of the same path wins). One broadcast anti-join on the
    * decoded path, so a cross-writer encoding difference cannot
    * resurrect a removed file.
    */
  def untouchedAdds(spark: SparkSession, files: DataFrame, st: LogState): DataFrame = {
    val adds = files.where(col("add").isNotNull)
      .select(decode(col("add.path")).as("__dpath"), col("add"))
    if (st.touched.isEmpty) adds
    else {
      import spark.implicits._
      val dv = col("add.deletionVector")
      val uidCol = when(dv.isNull || dv("storageType") === "", lit("")).otherwise(
        concat(dv("storageType"), dv("pathOrInlineDv"), lit("@"),
          coalesce(dv("offset"), lit(0)).cast(StringType)))
      // (path, uid, anyUid): a touched identity, or a tail-live path
      val keys = (st.touched.iterator.map { case (p, u) => (p, u, false) } ++
        st.snap.files.keysIterator.map(p => (p, "", true))).toSeq
        .toDF("__tpath", "__tuid", "__tany")
      adds.withColumn("__uid", uidCol)
        .join(broadcast(keys), col("__dpath") === col("__tpath") &&
          (col("__tany") || col("__uid") === col("__tuid")), "left_anti")
        .select("__dpath", "add")
    }
  }

  /** A checkpoint's tombstones at or after `since` whose path no action
    * folded into `st` touched.
    */
  def untouchedTombstones(spark: SparkSession, files: DataFrame, st: LogState,
                          since: Long): DataFrame = {
    val tombs = files.where(col("remove.deletionTimestamp") >= lit(since)).select(col("remove"))
    val touchedPaths = st.touched.map(_._1)
    if (touchedPaths.isEmpty) tombs
    else {
      import spark.implicits._
      tombs.withColumn("__dpath", decode(col("remove.path")))
        .join(broadcast(touchedPaths.toSeq.toDF("__dpath")), Seq("__dpath"), "left_anti")
        .select("remove")
    }
  }

  /** A collected [[untouchedAdds]] row as (decoded path, add). */
  def addOf(r: Row): (String, AddFile) = {
    val a = r.getStruct(1)
    def lng(i: Int, absent: Long) = if (a.isNullAt(i)) absent else a.getLong(i)
    val dv = if (a.isNullAt(6)) null else {
      val d = a.getStruct(6)
      if (d.isNullAt(0) || d.getString(0).isEmpty) null
      else DeletionVectors.Descriptor(d.getString(0), d.getString(1),
        if (d.isNullAt(2)) None else Some(d.getInt(2)),
        if (d.isNullAt(3)) 0 else d.getInt(3), if (d.isNullAt(4)) 0L else d.getLong(4))
    }
    r.getString(0) -> AddFile(a.getString(0),
      if (a.isNullAt(1)) Map.empty else a.getMap[String, String](1).toMap,
      lng(2, -1L), lng(3, 0L), dataChange = false, if (a.isNullAt(5)) null else a.getString(5),
      dv, lng(7, -1L), lng(8, -1L))
  }
}

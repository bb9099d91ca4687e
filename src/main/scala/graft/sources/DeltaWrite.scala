package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.Txn
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, expr, lit}

/** Native Delta Lake WRITER — the last reference capability graft
  * lacked (drune's merge sinks write through `DeltaTable`, reference:
  * src/drune/engines/spark/steps/writer.py:40-100). The delta-spark
  * connector is not on this build's classpath, so this implements the
  * PUBLIC transaction-log protocol (github.com/delta-io/delta
  * PROTOCOL.md) directly, the write-side mirror of [[DeltaRead]]:
  *
  *  - data lands as ordinary parquet files written by Spark's own
  *    distributed writer into a hidden staging dir, then renamed into
  *    the table (file moves are metadata ops; renames never copy);
  *  - the commit is ONE atomic `_delta_log/NNNNNNNNNNNNNNNNNNNN.json`
  *    holding the complete action list (`protocol`+`metaData` at v0,
  *    `add` per new file, `remove` per replaced file, `commitInfo`),
  *    published through the same hard-link/rename CAS primitive as
  *    graft's own manifest protocol ([[graft.pipeline.VersionedTable
  *    .casPublish]]) — concurrent writers serialize exactly like
  *    delta-spark's optimistic commit loop: the loser re-reads the
  *    winner's snapshot, recomputes its remove set, and retries the
  *    SAME already-written data files at the next version (losing a
  *    race never re-runs the data job);
  *  - `add.path` entries are RFC-2396 percent-encoded relative URIs
  *    and partition values travel in `partitionValues` (decoded from
  *    the hive-escaped directory names Spark's writer produced) —
  *    byte-compatible with what [[DeltaRead.decodePath]] and
  *    delta-spark expect.
  *
  * Supported: append, overwrite (schema-changing overwrite re-emits
  * `metaData` CARRYING the original table id), dynamic partition
  * overwrite (removes only the partitions the new data touches),
  * idempotent streaming appends ([[appendStream]], `txn` actions),
  * FILE-PRUNED [[merge]] (per-file stats classify; untouched adds
  * carry by absence of a remove), DV-emitting [[delete]], and
  * append/DML into name-mode column-mapped tables (physical-name
  * writes). Adds carry footer-derived `stats`
  * (data skipping for any delta reader, including [[DeltaRead]]'s
  * own [[org.apache.spark.sql.graftbridge.StatsManifestFileIndex]]
  * scan), and the log folds into parquet CHECKPOINTS + a
  * `_last_checkpoint` pointer every [[CheckpointInterval]] commits
  * ([[checkpoint]] — incremental construction, tombstone carry-over,
  * txn survival).
  *
  * Scale: the data write is Spark's normal distributed parquet job
  * (partitioned layout, codegen, AQE all apply); driver work is
  * O(files touched this commit) for the log line plus O(live files)
  * once per commit to know the remove set / validate schema — the
  * same residency delta-spark's OptimisticTransaction holds. Failed
  * writers leave only unreferenced staging files (invisible to every
  * reader; a vacuum sweep can reclaim them).
  */
object DeltaWrite {

  private val mapper = new ObjectMapper()

  /** Append `df` to the Delta table at `path`, creating it (v0) if
    * absent. Returns the committed version.
    *
    * `mergeSchema = true` is delta-spark's additive evolution: columns
    * of `df` the table lacks APPEND to the schema (nullable — existing
    * files read them as null via parquet by-name resolution), and
    * table columns `df` lacks null-fill; the commit re-emits
    * `metaData` with the union schema, carrying the table id. Type
    * changes still refuse, and column-mapped tables refuse (a new
    * column must mint a column id).
    */
  def append(spark: SparkSession, df: DataFrame, path: String,
             partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false): Long =
    write(spark, df, path, Mode.Append, partitionBy, mergeSchema = mergeSchema)

  /** Replace the table's content (and, if changed, its schema /
    * partitioning — carrying the table id) with `df`.
    */
  def overwrite(spark: SparkSession, df: DataFrame, path: String,
                partitionBy: Seq[String] = Nil): Long =
    write(spark, df, path, Mode.Overwrite, partitionBy)

  /** Dynamic partition overwrite: only partitions PRESENT in `df` are
    * replaced (remove actions cover exactly the live files whose
    * partition tuple matches a written one) — O(source) data I/O,
    * like `partitionOverwriteMode=dynamic` on delta-spark.
    */
  def overwritePartitions(spark: SparkSession, df: DataFrame, path: String,
                          partitionBy: Seq[String]): Long = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    write(spark, df, path, Mode.DynamicOverwrite, partitionBy)
  }

  /** Idempotent streaming append: commit `df` with a `txn`
    * (SetTransaction) action recording `(appId, batchVersion)`. If the
    * table already carries `appId` at a version >= `batchVersion`, the
    * batch ALREADY COMMITTED (streaming-checkpoint replay after a
    * crash, or a racing twin of the same sink) and this call is a
    * no-op — the protocol's exactly-once handshake, same as
    * delta-spark's `txnAppId`/`txnVersion` options. The race window is
    * closed inside the CAS loop: a loser re-reads the winner's
    * snapshot and re-checks the mark before retrying, deleting its own
    * staged files when the winner was its twin.
    */
  def appendStream(spark: SparkSession, df: DataFrame, path: String,
                   appId: String, batchVersion: Long,
                   partitionBy: Seq[String] = Nil): Long = {
    require(appId != null && appId.nonEmpty, "appendStream needs a stable appId")
    write(spark, df, path, Mode.Append, partitionBy,
      txn = Some((appId, batchVersion)))
  }

  /** Per-file deletion-vector union for a row-matching DML (DELETE /
    * UPDATE): each touched file's existing DV rows union with the
    * newly matched indexes; a file already covering every match drops
    * out (no action), a DV covering EVERY physical row returns a null
    * descriptor (drop the file outright — remove-only, delta-spark's
    * shape), and the inline-vs-on-disk choice follows `inlineMaxBytes`.
    * The caller's `matched` must be derived from THIS `snap` (a file
    * lost to a concurrent rewrite fails loudly — its row indexes no
    * longer address the physical rows).
    */
  private def dvUnionUpdates(spark: SparkSession, snap: DeltaRead.Snapshot,
      fs: FileSystem, rootP: Path, matched: Map[String, Array[Long]],
      inlineMaxBytes: Int, opName: String, path: String)
      : Seq[(String, Option[DeletionVectors.Descriptor], DeletionVectors.Descriptor)] =
    matched.toSeq.sortBy(_._1).flatMap { case (rel, idx) =>
      require(snap.files.contains(rel),
        s"$opName at $path lost file $rel to a concurrent rewrite — the matched " +
          s"row indexes no longer address its physical rows; re-run the $opName")
      val old = snap.dvs.get(rel)
      val oldRows = old.map(d => DeletionVectors.deletedRows(fs, rootP, d))
        .getOrElse(Array.empty[Long])
      val union = (oldRows ++ idx).distinct.sorted
      if (union.length == oldRows.length) None // every match already deleted
      else {
        val numRecords = snap.stats.get(rel).flatMap(DeltaRead.parseAddStats)
          .map(_.rows).filter(_ >= 0)
        if (numRecords.contains(union.length.toLong)) Some((rel, old, null))
        else {
          val inline = DeletionVectors.inlineDescriptor(union)
          val nd = if (inline.sizeInBytes <= inlineMaxBytes) inline
            else DeletionVectors.writeOnDisk(fs, rootP, union)
          Some((rel, old, nd))
        }
      }
    }

  /** DV-EMITTING DELETE — delta-spark's modern DELETE shape: instead
    * of rewriting every touched file, each file's matching PHYSICAL
    * row indexes union into its deletion vector and the commit is
    * remove(F, oldDv) + add(F, newDv) pairs — O(deleted rows) log
    * bytes, ZERO data-file I/O. The new bitmap inlines into the log
    * ("i") up to `inlineMaxBytes` serialized, else lands as an on-disk
    * "u" DV file with the protocol's framing. First DV on a table
    * upgrades the protocol to v3, CARRYING every existing feature
    * (legacy writer versions expand to their implied feature names —
    * clobbering a feature would break other writers' enforcement).
    *
    * Returns the committed version; a no-match (or all-matches-
    * already-deleted) delete commits nothing and returns the current
    * version. CAS losers retry against the winner's DVs; a competitor
    * rewriting a target file aborts loudly (its row indexes no longer
    * address the same physical rows). Losers' staged "u" DV files are
    * unreferenced and vacuum-reclaimable, like staged data files. On
    * change-data-feed tables the deleted rows are the change data,
    * written rebalanced ([[writeDataFiles]]): one `_change_data` file
    * for a small delete, for one extra shuffle-map job.
    */
  def delete(spark: SparkSession, path: String, condition: String,
             inlineMaxBytes: Int = InlineDvMaxBytes): Long = {
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var snap = DeltaRead.snapshot(spark, rootP.toString)
    // column-mapped tables work: the scan surfaces LOGICAL names (the
    // condition's namespace) and the commit re-serializes each file's
    // partitionValues back under PHYSICAL keys (addLive)
    requireWritable(snap, path, removesData = true, cdfHandled = true)
    // without the change data feed the row indexes are the delete's
    // only product: one unpersisted scan, taken once — a retry unions
    // them with the winner's DVs
    lazy val physical = DeltaRead.matchedPhysicalRows(spark, rootP.toString, snap, condition)
    Txn.run(fs, s"DELETE at $path") { attempt =>
      if (attempt > 1) {
        snap = DeltaRead.snapshot(spark, rootP.toString)
        // a table setting or protocol feature committed between attempts
        // (delta.appendOnly, an unknown writer feature) must re-gate the
        // retry — mirroring [[update]]'s per-attempt validation
        requireWritable(snap, path, removesData = true, cdfHandled = true)
      }
      if (!cdfEnabled(snap)) {
        val updates = dvUnionUpdates(spark, snap, fs, rootP, physical,
          inlineMaxBytes, "DELETE", path)
        if (updates.isEmpty) Txn.Done(snap.version)
        else publishCommit(spark, rootP, Some(snap),
          dvDmlContent(snap, "DELETE", "predicate" -> condition, updates, Nil, Nil),
          snap.configuration)
      } else {
        // CHANGE DATA FEED: the deleted rows are the change rows, so ONE
        // persisted pass per CAS attempt yields both the DV indexes and
        // the cdc rows — live rows matching the predicate under THIS
        // attempt's snapshot DVs (already-dead rows never re-appear as
        // changes). A concurrent DV-only DELETE that won the race may
        // have deleted an overlapping subset of the same files; a lost
        // race deletes the staged cdc files and re-derives, mirroring
        // [[update]]. rowTracking tables: the change rows carry their
        // RETIRED ids ([[DeltaRead.CdcRowIdCol]]) so the id-keyed CDF
        // read can surface them — a delete's ids are always
        // attributable (the rows' files and baseRowIds are unchanged).
        val withIds = snap.minWriter >= 7 &&
          snap.writerFeatures.contains("rowTracking") &&
          snap.files.keySet.forall(snap.rowIds.contains)
        val (rows, matched) = liveMatches(spark, rootP, snap,
          if (withIds) Some(DeltaRead.CdcRowIdCol) else None)(_.where(condition))
        try {
          DeltaRead.requireDvBudget(matched, "DELETE", path)
          val updates = dvUnionUpdates(spark, snap, fs, rootP, matched,
            inlineMaxBytes, "DELETE", path)
          if (updates.isEmpty) Txn.Done(snap.version)
          else {
            val cdcFiles = writeCdcFiles(spark, snap,
              rows.drop(RowMeta: _*).withColumn("_change_type", lit("delete")), rootP, fs,
              rebalance = true)
            publishCommit(spark, rootP, Some(snap),
              dvDmlContent(snap, "DELETE", "predicate" -> condition, updates, Nil, cdcFiles),
              snap.configuration, cdcFiles)
          }
        } finally rows.unpersist(false)
      }
    }
  }

  /** DV-BASED UPDATE … SET … WHERE — delta-spark's DV-enabled UPDATE
    * shape (reference behavior: drune exposes row updates only through
    * full-table transforms; this is the in-place lakehouse form).
    * Matched LIVE rows are soft-deleted via deletion vectors in their
    * files and their updated images append as new files through the
    * partition-aware writer — unmatched rows are never rewritten, so
    * the commit is O(matched + touched-file DV), and updating a
    * PARTITION column just works (the new image lands in its new
    * directory). Assignments are SIMULTANEOUS: every right-hand side
    * evaluates against the PRE-update row (standard SQL UPDATE), and
    * each value casts to the target column's type. On CDF tables the
    * commit carries `update_preimage`/`update_postimage` cdc rows. A
    * CAS loss re-derives everything against the winner's snapshot
    * (staged data and cdc files are deleted first — like [[merge]],
    * the data job depends on the snapshot it read). Both writes — the
    * new images and the cdc images — are rebalanced ([[writeDataFiles]]):
    * a small update commits one data file and one cdc file (one per
    * partition value it touches), for one extra shuffle-map job each.
    */
  def update(spark: SparkSession, path: String, condition: String,
             assignments: Map[String, String],
             inlineMaxBytes: Int = InlineDvMaxBytes): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var snap = DeltaRead.snapshot(spark, rootP.toString)
    requireWritable(snap, path, removesData = true, cdfHandled = true)
    assignments.keys.foreach(c => require(
      snap.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"UPDATE at $path: SET targets unknown column '$c' " +
        s"(table columns: ${snap.schema.fieldNames.mkString(", ")})"))
    // identity columns never update (delta-spark's posture, BY DEFAULT
    // included): a SET could push values past the high-water mark with
    // no bump, and later appends would allocate colliding values
    identitiesOf(snap).foreach(id => require(
      !assignments.keys.exists(_.equalsIgnoreCase(id.name)),
      s"UPDATE at $path: SET targets identity column '${id.name}' — updating " +
        "identity values breaks the protocol's collision-freedom contract " +
        "(delta-spark refuses this too)"))
    val byLower = assignments.map { case (k, v) => k.toLowerCase -> v }
    Txn.run(fs, s"UPDATE at $path") { attempt =>
      if (attempt > 1) {
        snap = DeltaRead.snapshot(spark, rootP.toString)
        requireWritable(snap, path, removesData = true, cdfHandled = true)
      }
      // ROW-ID MATERIALIZATION (round 18): on a table declaring a
      // materialized row-id column, UPDATE's postimage files carry each
      // updated row's CURRENT id in the hidden column — an update moves
      // a row to a new file but must not re-key it (delta-spark's
      // stable-id contract; same machinery as compact/merge). The
      // soft-deleted originals' files keep their baseRowId, so unmatched
      // rows' ids never move either way.
      val matName: Option[String] =
        if (snap.minWriter >= 7 && snap.writerFeatures.contains("rowTracking") &&
            snap.files.keySet.forall(snap.rowIds.contains))
          snap.configuration.get("delta.rowTracking.materializedRowIdColumnName")
            .filterNot(m => snap.schema.fieldNames.contains(m) ||
              snap.colMap.values.exists(_ == m))
        else None
      // ONE pass over the matched live rows, persisted for the attempt:
      // it yields the DV indexes and feeds the rewritten images' data
      // write and, on CDF tables, the cdc pre- and postimages. The
      // matched set is DV-budget-bounded (delta-sized, never
      // table-sized), so spill beats a rescan. A lost CAS recomputes
      // from the winner's snapshot.
      val (rows, matched) = liveMatches(spark, rootP, snap, matName)(_.where(condition))
      try {
        DeltaRead.requireDvBudget(matched, "UPDATE", path)
        val updates = dvUnionUpdates(spark, snap, fs, rootP, matched,
          inlineMaxBytes, "UPDATE", path)
        // no match, or every match already deleted
        if (updates.isEmpty) Txn.Done(snap.version)
        else {
          val liveMatched = rows.drop(RowMeta: _*)
          val assigned = liveMatched.select((snap.schema.fields.map { f =>
            byLower.get(f.name.toLowerCase)
              .map(e => expr(e).cast(f.dataType).as(f.name))
              .getOrElse(col(s"`${f.name}`"))
          } ++ matName.map(m => col(s"`$m`"))).toIndexedSeq: _*)
          // generated columns RECOMPUTE from the post-update row unless the
          // statement assigned them explicitly — only the ASSIGNED ones
          // validate (a recomputed column equals its expression by
          // construction; re-checking it would cost a pass per column)
          val gens = generatedOf(snap)
          val newRows = gens.foldLeft(assigned) { case (d, (name, e)) =>
            if (byLower.contains(name.toLowerCase)) {
              validateGenerated(snap, d, name, e, path, "UPDATE"); d
            }
            else d.withColumn(name,
              expr(e).cast(snap.schema(snap.schema.fieldIndex(name)).dataType))
          }
          enforceConstraints(snap, newRows, path, "UPDATE")
          val cdcFiles: Seq[NewFile] =
            if (!cdfEnabled(snap)) Nil
            else {
              // with a materialized row-id column the pre/postimage SHARE
              // each row's id (rename the id column to the cdc home
              // [[DeltaRead.CdcRowIdCol]]); without it the postimage's
              // fresh ids are unknowable here, so no ids attach and the
              // id-keyed CDF read refuses this commit loudly
              val pre = matName.map(m => liveMatched
                .withColumnRenamed(m, DeltaRead.CdcRowIdCol)).getOrElse(liveMatched)
              val post = matName.map(m => newRows
                .withColumnRenamed(m, DeltaRead.CdcRowIdCol)).getOrElse(newRows)
              writeCdcFiles(spark, snap,
                pre.withColumn("_change_type", lit("update_preimage"))
                  .unionByName(post.withColumn("_change_type", lit("update_postimage"))),
                rootP, fs, rebalance = true)
            }
          val (physDf, physParts) = toPhysical(snap, newRows, matName.toSeq)
          val newFiles = withStats(spark, fs, rootP,
            writeDataFiles(spark, physDf, rootP, fs, physParts,
              shredOk = shredOptIn(snap), rebalance = true))
          publishCommit(spark, rootP, Some(snap),
            dvDmlContent(snap, "UPDATE", "predicate" -> condition, updates, newFiles, cdcFiles),
            snap.configuration, newFiles ++ cdcFiles)
        }
      } finally rows.unpersist(false)
    }
  }

  /** Row-index bytes a DV DML inlines into the log before it writes an
    * on-disk "u" DV file instead.
    */
  private val InlineDvMaxBytes = 262144

  /** The position columns a `keepRowMeta` scan carries (file path and
    * physical row index).
    */
  private val RowMeta = Seq("__graft_dv_fp", "__graft_dv_ri")

  /** ONE pass over the live rows of `snap`'s files that `keep` selects —
    * DVs applied, physical positions ([[RowMeta]]) and, with `idCol`,
    * row ids attached, persisted — plus their row indexes per file,
    * collected from that same frame. The DV DMLs' single read: the
    * indexes union into each file's DV ([[dvUnionUpdates]]) while the
    * persisted rows feed the written images and the change rows. A
    * live index set unioned with the old DV equals the physical-match
    * union, because dead rows are already in the old DV. The caller
    * unpersists the returned frame.
    */
  private def liveMatches(spark: SparkSession, rootP: Path, snap: DeltaRead.Snapshot,
                          idCol: Option[String])(keep: DataFrame => DataFrame)
      : (DataFrame, Map[String, Array[Long]]) = {
    val scan = idCol match {
      case Some(c) => DeltaRead.readSnapshotRowIds(spark, rootP.toString, snap, c,
        keepRowMeta = true)
      case None => DeltaRead.readSnapshot(spark, rootP.toString, snap, keepRowMeta = true)
    }
    val rows = keep(scan).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try (rows, DeltaRead.rowIndexesByFile(spark, rootP.toString, snap, rows))
    catch { case e: Throwable => rows.unpersist(false); throw e }
  }

  /** A DV DML commit (DELETE / UPDATE / MERGE): each touched file's old
    * identity is removed and — unless its new DV covers every row —
    * re-added with the new DV, then the written rows land as plain
    * adds. Action order: commitInfo, protocol (the first DV on a table
    * upgrades it), metaData (`identityHw` marks a MERGE moved), cdc,
    * removes, adds.
    */
  private def dvDmlContent(snap: DeltaRead.Snapshot, operation: String,
                           parameter: (String, String),
                           updates: Seq[(String, Option[DeletionVectors.Descriptor],
                             DeletionVectors.Descriptor)],
                           newFiles: Seq[NewFile], cdcFiles: Seq[NewFile],
                           identityHw: Map[String, Long] = Map.empty): String = {
    val now = System.currentTimeMillis
    commitLines(commitInfoLine(now, operation, parameter) +:
      ((if (updates.isEmpty) None else protocolUpgrade(snap)).toSeq ++
        identityMetaDataLine(snap, identityHw, now).toSeq ++
        cdcFiles.map(cdcLine(_, now)) ++
        updates.map { case (rel, oldDv, _) => removeLine(rel, now, dataChange = true, oldDv) } ++
        // null newDv = the DV covered the whole file: drop it
        updates.collect { case (rel, _, newDv) if newDv != null =>
          addLive(snap, rel, now, dataChange = true, Some(newDv)) } ++
        newFiles.map(addNew(_))))
  }

  /** FILE-PRUNED MERGE (upsert): rows of `source` replace target rows
    * matching on `keys` and new keys insert, over ONLY the files whose
    * key-column stats intersect the source's key set. Untouched files
    * carry by ABSENCE of a remove action: zero data I/O and
    * byte-identical add entries in the snapshot, so the commit is
    * O(touched + source), delta-spark MERGE's pruned shape — not the
    * O(table) full overwrite.
    *
    * Classification mirrors [[graft.pipeline.VersionedTable
    * .commitMerge]]: the source's distinct head-key set is collected
    * once (capped at `maxCollectedKeys`, degrading to a min/max range
    * check past the cap) and probed against each live file's
    * log-resident `add.stats` min/max ([[DeltaRead.parseAddStats]]).
    * A file without usable stats on the key column is conservatively
    * touched — never silently skipped. Soundness: an untouched file's
    * key range excludes every source key, so no row in it can match.
    *
    * Two commit shapes, chosen by [[mergeUsesDvs]]:
    *  - DELETION VECTORS, when the table sets
    *    `delta.enableDeletionVectors=true`, the merge is the default
    *    upsert, and the live DVs plus the matched rows fit
    *    [[DeletionVectors.maxDeletedRows]] (delta-spark's DV MERGE, as
    *    DELETE and UPDATE here): one persisted pass over the touched
    *    files' live rows that a source key matches; their row indexes
    *    union into each file's DV (remove + re-add under the same path
    *    with the new DV) and the new files hold only the source's rows.
    *    Unmatched rows are never rewritten, so the data written is
    *    O(source) and the log O(matched). The source rows and the cdc
    *    rows are written rebalanced ([[writeDataFiles]]): one file each
    *    for a small merge, for one extra shuffle-map job each.
    *  - COPY-ON-WRITE otherwise (and as the fallback past the DV cap —
    *    the rewrite leaves the touched files without DVs): the touched
    *    files are removed and rewritten whole.
    *
    * `mergeFn(touchedBase, source)` builds the replacement rows for
    * the touched subset (default: upsert — source wins on key match,
    * unmatched touched rows carry); a custom mergeFn always rewrites.
    * DIVERGENCE from delta-spark MERGE: the default upsert inserts
    * EVERY source row, so a source carrying duplicate key values
    * yields duplicate rows in the table (all-duplicates-win), where
    * delta-spark fails the statement on multiple source matches for
    * one target row — callers porting a MERGE workload with
    * possibly-duplicated sources should `.dropDuplicates(keys)` first
    * or pass a deduplicating mergeFn.
    * ROW-ID MATERIALIZATION (round 18): on a rowTracking table
    * declaring `delta.rowTracking.materializedRowIdColumnName`, the
    * default upsert preserves surviving rows' ids (carried rows keep
    * theirs, updated rows inherit the matched target's in the hidden
    * column, inserts mint fresh) — and duplicated source keys refuse
    * loudly there (they cannot soundly share one inherited id). An
    * inserted row's fresh id is baseRowId + its index in the new file,
    * so the two shapes give inserts different (equally valid, unique
    * and stable) ids: the DV path's new files hold fewer rows. Touched
    * files READ WITH their deletion vectors applied, and their removes
    * carry the DV descriptors, so a merge after a DV delete stays
    * consistent for every reader. A CAS loss re-derives everything
    * against the winner's snapshot (the staged files are deleted —
    * unlike append/overwrite the data job DEPENDS on the snapshot it
    * read).
    */
  def merge(spark: SparkSession, source: DataFrame, path: String, keys: Seq[String],
            mergeFn: (DataFrame, DataFrame) => DataFrame = null,
            maxCollectedKeys: Int = 4000000): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val rootP = qualifiedRoot(spark, path)
    if (!DeltaRead.isDeltaTable(spark, rootP.toString))
      return write(spark, source, path, Mode.Append, Nil) // first write: plain create
    // SOURCE MATERIALIZATION (round 18): one merge statement evaluates
    // its source in several independent sub-plans — key collection,
    // the classification range agg, the upsert's joins, the cdc
    // decomposition's three joins. A self-referential source (MERGE
    // reading its own target, q141's shape) re-scans the table per
    // sub-plan, and a NONDETERMINISTIC source could disagree between
    // the data rewrite and its change rows. Persist once for the
    // statement (delta-spark materializes its merge source for the
    // same two reasons), released in finally. MEMORY_AND_DISK: the
    // source is delta-sized, not table-sized; spill beats rescan.
    val src0 = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeImpl(spark, src0, path, keys, mergeFn, maxCollectedKeys)
    finally src0.unpersist(false)
  }

  private def mergeImpl(spark: SparkSession, source: DataFrame, path: String,
                        keys: Seq[String],
                        mergeFn: (DataFrame, DataFrame) => DataFrame,
                        maxCollectedKeys: Int): Long = {
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // source key set: collected ONCE (prices the pruning for every
    // attempt); the per-file classification reruns per attempt.
    // ONE aggregation prices BOTH the pruner and — for materialized-
    // row-id merges — the duplicate-source-key refusal: the per-group
    // counts ride back with the keys, so the dup probe no longer
    // re-runs the source as its own Spark job (r18, guide §1: the
    // merge fixtures' cost is job count, not bytes).
    val keyCol = keys.head
    require(source.columns.exists(_.equalsIgnoreCase(keyCol)),
      s"merge key '$keyCol' is not in the source (${source.columns.mkString(", ")})")
    val grouped = source.groupBy(keys.map(col): _*).count()
      .limit(maxCollectedKeys + 1).collect()
    val complete = grouped.length <= maxCollectedKeys
    // SOURCE-KEY LOCAL RELATION (r19, guide §3.1): the distinct source
    // keys are ALREADY on the driver (the `grouped` collection), so
    // every join that only needs the source's KEY SET — the default
    // upsert's carried-row anti-join and the cdc decomposition's
    // preimage semi-join — can take them as a broadcast local relation
    // instead of re-deriving them from the source sub-plan, which made
    // those joins shuffle the TOUCHED-FILE side by key. Bounded: only
    // when the collected set is complete and small enough to embed
    // (1M keys ≈ tens of MB broadcast, delta-sized); past the bound the
    // plan-side derivation stays.
    val srcKeysLocal: Option[DataFrame] =
      if (complete && grouped.length <= (1 << 20)) {
        import scala.jdk.CollectionConverters._
        val keyFields = org.apache.spark.sql.types.StructType(
          grouped.headOption.map(_.schema.fields.take(keys.length).toSeq)
            .getOrElse(keys.map(k =>
              source.schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
                source.schema.fields.head).copy(name = k))))
        val rows: java.util.List[org.apache.spark.sql.Row] =
          grouped.iterator.map(r =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq.take(keys.length)))
            .toSeq.asJava
        Some(org.apache.spark.sql.functions.broadcast(
          spark.createDataFrame(rows, keyFields)))
      } else None
    val srcKeys: DataFrame = srcKeysLocal.getOrElse(source.select(keys.map(col): _*))
    // exact when the group set is complete; None degrades to a
    // dedicated probe on the (rare) oversized source
    val dupSrcKnown: Option[Boolean] =
      if (complete) Some(grouped.exists(_.getLong(keys.length) > 1L)) else None
    import graft.pipeline.{FileStats, VersionedTable}
    // keys outside the stats-comparable types (int/long/float/double/
    // string) cannot be range-probed against add.stats — degrade to a
    // touch-every-file pruner (full rewrite) so MERGE stays usable on
    // date/timestamp/decimal/boolean keys instead of throwing
    val pruner: FileStats.ColStat => Boolean =
      try {
        if (complete) {
          val sorted = grouped.iterator.map(_.get(0)).filter(_ != null).toArray
            .distinct.map(VersionedTable.normalizeKey)
            .sortWith(FileStats.cmp(_, _) < 0)
          if (sorted.isEmpty) _ => false // null-keyed-only source: nothing matches
          else st => FileStats.rangeHitsKeys(st,
            scala.collection.immutable.ArraySeq.unsafeWrapArray(sorted))
        } else {
          import org.apache.spark.sql.functions.{max => smax, min => smin}
          val mm = source.agg(smin(col(keyCol)), smax(col(keyCol))).head()
          val (lo, hi) = (VersionedTable.normalizeKey(mm.get(0)),
            VersionedTable.normalizeKey(mm.get(1)))
          st => FileStats.rangeOverlaps(st, lo, hi)
        }
      } catch {
        case _: IllegalArgumentException => _ => true
      }

    Txn.run(fs, s"Delta merge at $path") { _ =>
      val snap = DeltaRead.snapshot(spark, rootP.toString)
      requireWritable(snap, path, removesData = true, cdfHandled = true)
      // CDF needs change ATTRIBUTION (which rows updated vs inserted) —
      // knowable only for the default upsert mergeFn; an arbitrary
      // mergeFn's replacement frame can't be decomposed into changes
      if (cdfEnabled(snap) && mergeFn != null)
        throw new UnsupportedOperationException(
          s"Delta table at $path has change data feed enabled — merge() with a " +
            "custom mergeFn cannot attribute its row-level changes for " +
            "_change_data; use the default upsert mergeFn or disable CDF")
      val tblKey = snap.schema.fieldNames.find(_.equalsIgnoreCase(keyCol)).getOrElse(
        throw new IllegalArgumentException(
          s"merge key '$keyCol' is not a column of the Delta table at $path " +
            s"(${snap.schema.fieldNames.mkString(", ")})"))
      // add.stats key by the PHYSICAL column name under column mapping
      val statKey = snap.colMap.getOrElse(tblKey, tblKey)
      val touched: Seq[String] = snap.files.keySet.toSeq.sorted.filter { rel =>
        snap.stats.get(rel).flatMap(DeltaRead.parseAddStats)
          .flatMap(_.cols.get(statKey)) match {
          case Some(st) => pruner(st)
          case None => true // no stats on the key: conservatively rewrite
        }
      }
      val touchedSet = touched.toSet
      val touchedSnap = snap.copy(files = snap.files.filter(kv => touchedSet.contains(kv._1)))
      // ROW-ID MATERIALIZATION (round 18 — completes round 17's arc):
      // when the table DECLARES a materialized row-id column
      // (delta-spark's stable-id contract,
      // `delta.rowTracking.materializedRowIdColumnName`), the merge's
      // written rows preserve each surviving row's CURRENT id by
      // writing it into that hidden parquet column — carried rows
      // keep theirs, updated rows inherit the matched target row's,
      // and inserted rows stay null (the protocol's fresh formula
      // baseRowId + row_index keys them). Attribution needs the
      // DEFAULT upsert mergeFn (an arbitrary replacement frame can't
      // be decomposed); custom-mergeFn merges on declaring tables keep
      // the documented fresh-id behavior.
      val matName: Option[String] =
        if (mergeFn == null && snap.minWriter >= 7 &&
            snap.writerFeatures.contains("rowTracking") &&
            touched.nonEmpty && touched.forall(snap.rowIds.contains))
          snap.configuration.get("delta.rowTracking.materializedRowIdColumnName")
            .filterNot(m => snap.schema.fieldNames.contains(m) ||
              source.columns.exists(_.equalsIgnoreCase(m)) ||
              snap.colMap.values.exists(_ == m))
        else None
      // DELETION-VECTOR PATH: one persisted pass over the touched files'
      // live rows that a source key matches yields their DV indexes and
      // every target-side input below; [[mergeUsesDvs]] decides it
      // before the pass (table opt-in, default upsert) and again with
      // the matched count (the DV cap) — past the cap the pass is
      // dropped and the merge rewrites the touched files instead
      val customFn = mergeFn != null
      val dvPass: Option[(DataFrame, Map[String, Array[Long]])] =
        if (touched.isEmpty || !mergeUsesDvs(snap, customFn, 0L)) None
        else {
          val (rows, matched) = liveMatches(spark, rootP, touchedSnap, matName)(
            _.join(srcKeys, keys, "left_semi"))
          if (mergeUsesDvs(snap, customFn, matched.valuesIterator.map(_.length.toLong).sum))
            Some((rows, matched))
          else { rows.unpersist(false); None }
        }
      // the target rows the merge reads: the matched live rows on the DV
      // path (carried rows stay in their files), else every live row of
      // the touched files, read WITH their deletion vectors applied
      val targetRows: DataFrame = dvPass match {
        case Some((rows, _)) => rows.drop(RowMeta: _*)
        case None =>
          if (touched.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
          else matName match {
            case Some(m) => DeltaRead.readSnapshotRowIds(spark, rootP.toString, touchedSnap, m)
            case None => DeltaRead.readSnapshot(spark, rootP.toString, touchedSnap)
          }
      }
      // id-carrying frames for the mergeFn: the hidden column must not
      // leak into a custom merge's joins or the schema checks
      val targetData = matName.map(targetRows.drop(_)).getOrElse(targetRows)
      // PER-KEY SURVIVOR IDS, COMPUTED ONCE (r19, guide §1.2): the
      // data write's id inheritance AND — on CDF tables — the cdc
      // postimage join read one keyed frame. Persisted for the attempt
      // (one row per distinct target key, keys + one long —
      // delta-class, never table-wide) only when the cdc decomposition
      // will consume it a second time; released after the commit
      // decision.
      val mergeCdf = cdfEnabled(snap)
      val idByKeyOpt: Option[DataFrame] = matName.map { m =>
        val byKey = targetRows.groupBy(keys.map(col): _*)
          .agg(org.apache.spark.sql.functions.min(col(s"`$m`")).as(m))
        if (mergeCdf)
          byKey.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else byKey
      }
      try {
        // the merged rows: a custom mergeFn's replacement for the touched
        // rows, or the default upsert — every source row (on id tables
        // pulling its matched key's surviving id; null = insert, the
        // fresh formula applies) plus, on copy-on-write, the touched rows
        // no source key matches, carried with the ids they were read with
        val merged0 =
          if (customFn) mergeFn(targetData, source)
          else {
            val srcWithId = idByKeyOpt.fold(source)(source.join(_, keys, "left"))
            // DV path: carried rows stay in their files — the empty target
            // side only aligns the columns and types as copy-on-write's
            // union does
            val carried =
              if (dvPass.isDefined) targetRows.where(lit(false))
              else targetRows.join(srcKeys, keys, "left_anti")
            srcWithId.unionByName(carried, allowMissingColumns = true)
          }
        // merged output must conform to the TABLE schema (realigned by
        // name, loud on drift) — schema evolution is an explicit overwrite
        val missing = snap.schema.fieldNames
          .filterNot(n => merged0.columns.exists(_.equalsIgnoreCase(n)))
        val extra = merged0.columns.filterNot(n => matName.contains(n) ||
          snap.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
        require(missing.isEmpty && extra.isEmpty,
          s"merge output does not match the Delta table schema at $path — missing: " +
            s"[${missing.mkString(", ")}], extra: [${extra.mkString(", ")}]; " +
            "overwrite the table to change its schema")
        // stable ids demand unambiguous inheritance: a source key matching
        // one target row inherits its id; a multi-row target key collapses
        // under the upsert (source wins once) and the deterministic
        // survivor id is the minimum; a DUPLICATED source key would copy
        // one target id onto several output rows — refuse loudly,
        // delta-spark fails multi-match MERGEs outright
        // (dropDuplicates(keys) first)
        if (matName.isDefined) {
          val dupSrc = dupSrcKnown.getOrElse(
            source.groupBy(keys.map(col): _*).count()
              .where(col("count") > 1).limit(1).count() > 0)
          require(!dupSrc,
            s"MERGE into Delta table at $path: the table declares a materialized " +
              "row-id column, so source rows inherit their matched target row's " +
              "id — a source carrying duplicate key values would mint DUPLICATE " +
              "row ids; dropDuplicates(keys) the source first")
        }
        val merged = merged0.select((snap.schema.fieldNames ++ matName).map(col).toIndexedSeq: _*)
        snap.schema.fields.zip(merged.schema.fields).foreach { case (t, d) =>
          require(t.dataType.catalogString == d.dataType.catalogString,
            s"type mismatch merging into Delta table $path — column '${t.name}' " +
              s"is ${t.dataType.catalogString} in the table, " +
              s"${d.dataType.catalogString} in the merge output")
        }
        enforceConstraints(snap, merged, path, "MERGE")
        withGeneratedColumns(snap, merged, path, "MERGE") // validate-only: schema is fixed
        // IDENTITY COLUMNS: merge realigns to the table schema, so the
        // source MUST carry the identity value — an explicit insert,
        // legal only under allowExplicitInsert (GENERATED BY DEFAULT).
        // The high-water mark bumps past the merged extreme in the SAME
        // commit's metaData, preserving the protocol's collision-freedom
        // for later allocating appends. The extreme is probed over the
        // WRITTEN frame (a custom mergeFn may mint values absent from the
        // source), one bounded agg per identity column, identity tables
        // only.
        val mergeIdentities = identitiesOf(snap)
        mergeIdentities.foreach(id => require(id.allowExplicit,
          s"Delta table at $path has GENERATED ALWAYS identity column " +
            s"'${id.name}' — MERGE realigns its output to the table schema and " +
            "would insert explicit identity values, which GENERATED ALWAYS " +
            "forbids; use GENERATED BY DEFAULT or route through append"))
        val mergeIdentityHw: Map[String, Long] =
          if (mergeIdentities.isEmpty) Map.empty
          else {
            import org.apache.spark.sql.functions.{max => fmax, min => fmin, sum => fsum, when => fwhen}
            // ONE agg pass for every identity column (per-column aggs
            // re-ran the whole un-materialized merge join once each):
            // the extreme AND a null probe — a source frame that omits
            // the identity column null-fills under the default mergeFn's
            // unionByName, and silently committing NULL identity values
            // would break the contract for every reader
            val aggs = mergeIdentities.flatMap { id =>
              Seq((if (id.step > 0) fmax(col(id.name)) else fmin(col(id.name)))
                  .as(s"__ext_${id.name}"),
                fsum(fwhen(col(id.name).isNull, 1L).otherwise(0L))
                  .as(s"__nulls_${id.name}"))
            }
            val row = merged.agg(aggs.head, aggs.tail: _*).head()
            mergeIdentities.flatMap { id =>
              val ni = row.fieldIndex(s"__nulls_${id.name}")
              require(row.isNullAt(ni) || row.getLong(ni) == 0L,
                s"MERGE into Delta table at $path would commit NULL values in " +
                  s"identity column '${id.name}' (${row.getLong(ni)} row(s)) — the " +
                  "merge output realigns to the table schema, so the source (or a " +
                  "custom mergeFn) must supply every identity value explicitly")
              val cur = id.highWater.getOrElse(id.start - id.step)
              val ei = row.fieldIndex(s"__ext_${id.name}")
              if (row.isNullAt(ei)) None
              else {
                val v = row.getLong(ei)
                if (if (id.step > 0) v > cur else v < cur) Some(id.name -> v) else None
              }
            }.toMap
          }
        val updates = dvPass.fold(Seq.empty[(String, Option[DeletionVectors.Descriptor],
            DeletionVectors.Descriptor)]) { case (_, matched) =>
          dvUnionUpdates(spark, snap, fs, rootP, matched, InlineDvMaxBytes, "MERGE", path)
        }
        val (physDf, physParts) = toPhysical(snap, merged, matName.toSeq)
        // the DV path writes only the source's rows (rebalanced, like
        // DELETE's and UPDATE's writes); copy-on-write rewrites whole files
        val newFiles = withStats(spark, fs, rootP,
          writeDataFiles(spark, physDf, rootP, fs, physParts,
            shredOk = shredOptIn(snap), rebalance = dvPass.isDefined))
        val removesAny = if (dvPass.isDefined) updates.nonEmpty else touched.nonEmpty
        if (!removesAny && newFiles.isEmpty) Txn.Done(snap.version) // empty no-op
        else {
          // CHANGE DATA FEED: decompose the default upsert into the
          // protocol's change types — target rows whose key the source
          // carries are updates (preimage = current row, postimage = the
          // source row realigned to the table schema), source rows with
          // unseen keys are inserts. Carried rows (untouched by key) are
          // NOT changes and never land in _change_data — exactly why a
          // MERGE commit cannot leave CDF readers to derive from its
          // file-level add/remove actions.
          val cdcFiles: Seq[NewFile] =
            if (!mergeCdf) Nil
            else {
              val tblKeys = keys.map(k =>
                snap.schema.fieldNames.find(_.equalsIgnoreCase(k)).get)
              val srcNames = source.columns
              val srcT = source.select(snap.schema.fields.map { f =>
                if (srcNames.exists(_.equalsIgnoreCase(f.name))) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              }: _*)
              // the matched target rows: the preimages, whose key set also
              // splits the source into postimages and inserts (the DV
              // path's persisted pass already holds exactly them)
              val matchedRows =
                if (dvPass.isDefined) targetRows
                else targetRows.join(srcKeys, keys, "left_semi")
              val changes = matName match {
                case Some(m) =>
                  // id-keyed changes (rowTracking + materialized column):
                  // preimages carry each matched target row's own id,
                  // postimages inherit the key's surviving id (min — the
                  // same deterministic survivor the data write keeps; a
                  // multi-row target key's extra preimages surface with
                  // their retired ids), inserts stay unkeyed — their fresh
                  // ids are assigned at publish, and the id-keyed CDF read
                  // re-derives them from this commit's new files. The
                  // persisted idByKey's key set holds every matched key,
                  // so one inner join keys the postimages and the insert
                  // anti-join probes the same tiny frame.
                  val idByKey = idByKeyOpt.get
                    .withColumnRenamed(m, DeltaRead.CdcRowIdCol)
                  matchedRows.withColumnRenamed(m, DeltaRead.CdcRowIdCol)
                    .withColumn("_change_type", lit("update_preimage"))
                    .unionByName(srcT.join(idByKey, tblKeys, "inner")
                      .withColumn("_change_type", lit("update_postimage")))
                    .unionByName(srcT.join(idByKey.select(tblKeys.map(col): _*),
                        tblKeys, "left_anti")
                      .withColumn(DeltaRead.CdcRowIdCol, lit(null).cast("long"))
                      .withColumn("_change_type", lit("insert")))
                case None =>
                  // ONE key frame for both splits — only the MATCHED keys
                  // (source-bounded, not every touched key), so the
                  // postimage semi-join and the insert anti-join share
                  // one build side
                  val matchedKeys = matchedRows.select(tblKeys.map(col): _*)
                  matchedRows.withColumn("_change_type", lit("update_preimage"))
                    .unionByName(srcT.join(matchedKeys, tblKeys, "left_semi")
                      .withColumn("_change_type", lit("update_postimage")))
                    .unionByName(srcT.join(matchedKeys, tblKeys, "left_anti")
                      .withColumn("_change_type", lit("insert")))
              }
              // changes is empty ⟺ the source is empty (every source row is
              // an update_postimage or an insert; every preimage needs a
              // source key) — and the source's emptiness is already known
              // from the collected key groups, so the old isEmpty probe
              // re-ran the three cdc joins as its own job for nothing
              // (r19, guide §1.2). `grouped` is complete OR past
              // maxCollectedKeys — both cases non-empty when length > 0.
              if (grouped.isEmpty) Nil
              else writeCdcFiles(spark, snap, changes, rootP, fs, rebalance = dvPass.isDefined)
            }
          // a lost race reclaims the staged files: the data job read THIS
          // snapshot's touched files, so the output is stale against the
          // winner's state and the retry re-derives from scratch
          // (commitMerge's posture)
          val content =
            if (dvPass.isDefined)
              dvDmlContent(snap, "MERGE", "matchedKeys" -> keys.mkString(","), updates,
                newFiles, cdcFiles, mergeIdentityHw)
            else {
              val now = System.currentTimeMillis
              commitLines(commitInfoLine(now, "MERGE", "matchedKeys" -> keys.mkString(",")) +:
                (identityMetaDataLine(snap, mergeIdentityHw, now).toSeq ++
                  cdcFiles.map(cdcLine(_, now)) ++
                  fileActions(now, touched, snap.dvs, newFiles, dataChange = true)))
            }
          publishCommit(spark, rootP, Some(snap), content, snap.configuration,
            newFiles ++ cdcFiles)
        }
      } finally {
        dvPass.foreach(_._1.unpersist(false))
        if (mergeCdf) idByKeyOpt.foreach(_.unpersist(false))
      }
    }
  }

  /** Whether a MERGE soft-deletes its matched target rows through
    * deletion vectors instead of rewriting every touched file: the
    * table opts in (`delta.enableDeletionVectors=true`), the merge is
    * the default upsert (a custom `mergeFn`'s replacement frame cannot
    * be split into matched and written rows), and the live DVs plus
    * `matchedRows` stay within [[DeletionVectors.maxDeletedRows]] —
    * past it [[DeltaRead]] refuses to read the table, while a rewrite
    * leaves the touched files without DVs.
    */
  private[sources] def mergeUsesDvs(snap: DeltaRead.Snapshot, customMergeFn: Boolean,
                                    matchedRows: Long): Boolean =
    !customMergeFn &&
      snap.configuration.get("delta.enableDeletionVectors").exists(_.equalsIgnoreCase("true")) &&
      snap.dvs.iterator.collect { case (rel, d) if snap.files.contains(rel) => d.cardinality }
        .sum + matchedRows <= DeletionVectors.maxDeletedRows

  /** The protocol line a first-DV commit needs: upgrade to reader v3 /
    * writer v7 with `deletionVectors`, carrying every EXISTING feature
    * forward — explicit ones verbatim, legacy versions expanded to the
    * protocol's implied feature names (a protocol action REPLACES the
    * old one; dropping a feature would break other writers).
    */
  private def protocolUpgrade(snap: DeltaRead.Snapshot): Option[String] =
    protocolUpgradeTo(snap, "deletionVectors")

  /** Generalized reader-feature upgrade: reader v3 / writer v7 carrying
    * `feature` in BOTH lists (the reader-visible features this writer
    * adds — deletionVectors, v2Checkpoint — are writer features too),
    * plus `extraWriter` writer-only features landing in the same
    * protocol action (a protocol action replaces the old one, so two
    * upgrade lines in one commit would drop each other's additions).
    */
  /** The writer features a legacy `minWriterVersion` IMPLIES — the
    * protocol's table: upgrading a legacy table to the v7 features
    * form must list them all, or the upgrade silently drops
    * enforcement other writers rely on. The single source for every
    * upgrade site.
    */
  private def impliedWriterFeatures(minWriter: Int): Seq[String] = Seq(
    2 -> Seq("appendOnly", "invariants"), 3 -> Seq("checkConstraints"),
    4 -> Seq("changeDataFeed", "generatedColumns"), 5 -> Seq("columnMapping"),
    6 -> Seq("identityColumns"))
    .filter(_._1 <= minWriter).flatMap(_._2)

  /** Reader+writer table features the TYPES in a schema demand —
    * the protocol gates these encodings behind features so a reader
    * unaware of them refuses instead of silently misparsing:
    * `variant` → `variantType` (parquet physical
    * struct<metadata: binary, value: binary>; graft writes the
    * UNSHREDDED form — shredding is the separate variantShredding
    * feature this writer never produces, see [[writeDataFiles]]) and
    * `timestamp without time zone` → `timestampNtz`. Recursive: a
    * variant nested inside a struct/array/map gates the table too.
    * Neither feature is implied by any legacy protocol version, so a
    * schema carrying one must commit in the v3/v7 features form.
    */
  private[sources] def typeFeatures(
      dt: org.apache.spark.sql.types.DataType): Set[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: VariantType => Set("variantType")
      case TimestampNTZType => Set("timestampNtz")
      case s: StructType =>
        s.fields.iterator.map(f => typeFeatures(f.dataType))
          .foldLeft(Set.empty[String])(_ ++ _)
      case a: ArrayType => typeFeatures(a.elementType)
      case m: MapType => typeFeatures(m.keyType) ++ typeFeatures(m.valueType)
      case _ => Set.empty
    }
  }

  /** The protocol line a schema-changing commit must carry when its
    * NEW schema of record introduces type-gated features the table's
    * protocol does not yet list ([[typeFeatures]]) — the multi-feature
    * sibling of [[protocolUpgradeTo]] (two protocol lines in one
    * commit would drop each other's additions, so the missing
    * features land in ONE line). None = nothing missing.
    */
  private def protocolUpgradeForTypes(snap: DeltaRead.Snapshot,
                                      features: Set[String]): Option[String] = {
    val have: Set[String] =
      if (snap.minReader >= 3) snap.readerFeatures.intersect(snap.writerFeatures)
      else Set.empty
    val need = features -- have
    if (need.isEmpty) None else Some(featuresUpgradeLine(snap, need.toSeq))
  }

  private def protocolUpgradeTo(snap: DeltaRead.Snapshot, feature: String,
                                extraWriter: Seq[String] = Nil): Option[String] =
    protocolUpgradeToAll(snap, Seq(feature), extraWriter)

  /** [[protocolUpgradeTo]] for SEVERAL reader+writer features at once —
    * a commit carries at most ONE protocol action (two lines would
    * clobber each other), so an operation needing multiple reader
    * features folds them into one upgrade line here.
    */
  private def protocolUpgradeToAll(snap: DeltaRead.Snapshot, features: Seq[String],
                                   extraWriter: Seq[String] = Nil): Option[String] = {
    if (features.forall(f => snap.minReader >= 3 && snap.readerFeatures.contains(f)) &&
        extraWriter.forall(snap.writerFeatures.contains)) return None
    Some(featuresUpgradeLine(snap, features, extraWriter))
  }

  /** Reader v3 / writer v7 with `features` in both lists plus
    * `extraWriter` writer-only features, carrying every existing
    * feature (legacy versions expanded to their implied names).
    */
  private def featuresUpgradeLine(snap: DeltaRead.Snapshot, features: Seq[String],
                                  extraWriter: Seq[String] = Nil): String = {
    val legacyReader = if (snap.minReader >= 2) Seq("columnMapping") else Nil
    protocolLine(math.max(snap.minReader, 3), math.max(snap.minWriter, 7),
      Some(snap.readerFeatures ++ legacyReader ++ features),
      Some(snap.writerFeatures ++ impliedWriterFeatures(snap.minWriter) ++ legacyReader ++
        extraWriter ++ features))
  }

  /** `snap`'s protocol in the v7 table-features form with writer-only
    * features `add` listed — a legacy writer version expands to its
    * implied feature names (v7 requires the explicit list); the reader
    * side is untouched.
    */
  private def withWriterFeatures(snap: DeltaRead.Snapshot, add: Seq[String]): String =
    protocolLine(snap.minReader, 7,
      if (snap.minReader >= 3) Some(snap.readerFeatures) else None,
      Some((if (snap.minWriter >= 7) snap.writerFeatures.toSeq
            else impliedWriterFeatures(snap.minWriter)) ++ add))

  /** Writer-side protocol gate (PROTOCOL.md "Writer Requirements"):
    * a writer must refuse a table whose minWriterVersion /
    * writerFeatures demand enforcement it does not implement —
    * writing anyway silently breaks contracts every OTHER writer and
    * reader relies on (append-only audit tables, CHECK constraints,
    * CDC consumers expecting `_change_data` files). Legacy writer
    * versions (<=6) expand to their implied feature names; v7 tables
    * are governed by the explicit `writerFeatures` list alone.
    *
    * A feature passes either because this writer implements it
    * (deletionVectors; appendOnly's refusal below IS its enforcement;
    * columnMapping gates separately on the mode) or because the table
    * does not actually configure it — "vacuously satisfied": no
    * `delta.constraints.*` keys, CDF disabled, no invariant /
    * generation / identity metadata on any schema field. Anything
    * else refuses loudly, the protocol's required posture for unknown
    * writer features.
    *
    * `removesData` = the operation deletes or replaces committed rows
    * (overwrite, dynamic overwrite, DELETE). `delta.appendOnly=true`
    * forbids exactly those; appends and dataChange=false maintenance
    * rewrites (OPTIMIZE/compact — delta-spark permits them on
    * append-only tables too) stay allowed.
    *
    * `cdfHandled` = the caller produces a CDF-correct commit on a
    * change-data-feed table: either it writes `cdc` actions +
    * `_change_data` files for its row-level changes ([[delete]],
    * [[merge]]) or its changes are EXACTLY whole-file adds/removes
    * (full/dynamic overwrite), which the protocol lets CDF readers
    * derive without cdc files. Row-removing operations that are
    * neither (RESTORE) refuse on CDF tables.
    */
  private[sources] def requireWritable(snap: DeltaRead.Snapshot, path: String,
                                       removesData: Boolean,
                                       cdfHandled: Boolean = false): Unit = {
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      s"Delta table at $path: $why — graft will not write into it; " +
        "write with delta-spark or drop the table setting")
    val conf = snap.configuration
    if (removesData && conf.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      refuse("delta.appendOnly=true forbids removing or replacing committed rows " +
        "(this operation does); only appends are allowed")
    // id-mode tables WRITE too (round 15): every physical rename stamps
    // `parquet.field.id` from the field's delta.columnMapping.id, and
    // Spark's parquet writer emits the footer ids id-resolving readers
    // (delta-spark, Iceberg-converted consumers) need. The one
    // spec-invalid shape refuses: a field with no id cannot be stamped,
    // and an id-less column in an id-mode file is silent corruption.
    if (conf.get("delta.columnMapping.mode").contains("id")) {
      // recursive: an INNER field without an id would be written as an
      // id-less parquet column — the silent corruption this gate exists
      // to refuse (physicalizeType stamps only fields that carry one)
      def idless(prefix: String,
                 dt: org.apache.spark.sql.types.DataType): Seq[String] = dt match {
        case s: org.apache.spark.sql.types.StructType => s.fields.flatMap { f =>
          val here = if (f.metadata.contains("delta.columnMapping.id")) Nil
            else Seq(s"$prefix${f.name}")
          here ++ idless(s"$prefix${f.name}.", f.dataType)
        }
        case a: org.apache.spark.sql.types.ArrayType =>
          idless(prefix + "element.", a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          idless(prefix + "key.", m.keyType) ++ idless(prefix + "value.", m.valueType)
        case _ => Nil
      }
      val missing = idless("", snap.schema)
      if (missing.nonEmpty)
        refuse(s"delta.columnMapping.mode=id but field(s) ${missing.mkString(", ")} " +
          "carry no delta.columnMapping.id — parquet field ids cannot be stamped")
    }
    // NESTED mapped schemas: appends and in-place DML WRITE (round 15
    // — the physical rename recursively casts inner fields to their
    // physicalNames, see [[physAliasCol]]); only the schema-CHANGE
    // surfaces (full overwrite, mergeSchema minting) refuse at their
    // own entry points — re-emitting nested metaData from an incoming
    // frame would lose the inner (id, physicalName) bindings.
    require(snap.minWriter <= 7,
      s"Delta table at $path requires minWriterVersion=${snap.minWriter} — newer " +
        "than this writer's protocol support (<=7); write with delta-spark")
    val feats: Set[String] =
      if (snap.minWriter >= 7) snap.writerFeatures
      else impliedWriterFeatures(snap.minWriter).toSet
    def fieldMeta(keys: String*): Boolean =
      snap.schema.fields.exists(f => keys.exists(f.metadata.contains))
    feats.foreach {
      case "appendOnly" => () // enforced above (refusal of removesData IS the contract)
      case "deletionVectors" => () // implemented ([[delete]], DV-carrying removes)
      case "columnMapping" => () // gated on the MODE at each entry point
      case "v2Checkpoint" => () // classic checkpoints stay legal under the feature
        // alone; [[DeltaRead]] consumes v2 ones, and [[checkpoint]] both folds
        // them and WRITES the v2 form when delta.checkpointPolicy = v2 pins it
      case "inCommitTimestamp" => () // ENFORCED at publish: every commit into a
        // table pinning delta.enableInCommitTimestamps=true gets its commitInfo
        // stamped with a monotonic inCommitTimestamp ([[publishCommit]])
      case "timestampNtz" => () // a TYPE, not a behavior: Spark's parquet
        // writer/reader carry TIMESTAMP_NTZ natively
      case "variantType" | "variantType-preview" => () // a TYPE, not a
        // behavior: Spark 4 reads/writes the parquet variant group
        // natively, and graft's data writes force the UNSHREDDED
        // struct<metadata, value> layout the feature licenses
        // ([[writeDataFiles]]); new tables with variant columns are
        // created straight in the features form ([[commitContent]])
      case "variantShredding-preview" => () // ALLOWS shredded layouts,
        // does not mandate them — graft writes shredded only when the
        // table also pins delta.enableVariantShredding=true
        // ([[shredOptIn]]); otherwise the unshredded form stays, which
        // remains a legal file shape under shredding. Spark 4's reader
        // consumes both
      case "vacuumProtocolCheck" => () // its contract is "validate the
        // protocol before VACUUM" — [[vacuum]] runs THIS gate, so the
        // check the feature mandates is exactly what's executing
      case "invariants" => () // ENFORCED: [[invariantsOf]] folds the legacy
        // delta.invariants field metadata into the same incoming-batch
        // validation pass as CHECK constraints ([[enforceConstraints]])
      case "checkConstraints" => () // ENFORCED: every row-adding path
        // (write/merge/update/streams) evaluates delta.constraints.*
        // over its incoming rows via [[enforceConstraints]] and fails
        // the statement on a violation — delta-spark's writer contract
      case "changeDataFeed" =>
        // CDF readers DERIVE changes from add/remove when a commit has
        // no cdc action: a pure APPEND (inserts) and dataChange=false
        // maintenance are therefore legal without writing _change_data.
        // Row-removing commits pass only when the caller declared CDF
        // handling (cdc files for DELETE/MERGE; exact whole-file
        // add/remove derivation for overwrites) — anything else refuses.
        if (removesData && !cdfHandled &&
            conf.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true")))
          refuse("change data feed is enabled and this operation cannot express " +
            "its row-level changes as cdc files or whole-file add/remove " +
            "derivation; appends, DELETE, MERGE, and overwrites remain allowed")
      case "generatedColumns" => () // ENFORCED: appends/overwrites COMPUTE a
        // missing generated column and VALIDATE a supplied one
        // ([[withGeneratedColumns]]); UPDATE recomputes unassigned
        // generated columns and validates assigned ones; MERGE validates
      case "clustering" => () // SUPPORTED: the feature's writer
        // contract is "preserve the delta.clustering domain metadata"
        // (replay + checkpoint carry do, see domainMetadata below);
        // clustering newly-written data is an OPTIMIZE-time concern —
        // [[compact]] reads the domain and Z-orders by the table's own
        // clustering columns when the caller names none
      case "domainMetadata" => () // IMPLEMENTED: domain actions replay
        // last-wins into Snapshot.domains, [[checkpoint]] carries the
        // live ones (a fold must never forget a domain — delta-spark
        // keeps e.g. clustering state there), and
        // [[setDomainMetadata]]/[[removeDomainMetadata]] write them
      case "typeWidening" | "typeWidening-preview" => () // SUPPORTED
        // (round 17): the read side resolves old narrow files by
        // Spark 4's parquet widening promotions; the WRITER contract
        // holds because every data path either writes the CURRENT
        // table schema or refuses the frame (append's exact schema
        // check — a still-narrow incoming frame refuses toward an
        // explicit cast, it is NOT auto-widened), and [[widenColumn]]
        // is the only type-change surface — it records the
        // delta.typeChanges field metadata the feature requires. A
        // custom mergeFn emitting a narrower column writes narrow
        // parquet under the wide schema — readable by the same
        // promotion machinery, i.e. exactly the file shape the
        // feature already licenses
      case "rowTracking" => () // IMPLEMENTED (round 17): every commit's
        // add actions get baseRowId/defaultRowCommitVersion stamped at
        // the publish choke point ([[stampRowTracking]]) — fresh ranges
        // from the delta.rowTracking high-water-mark domain for new
        // files, carried ids for re-adds of live paths (DV DML) and
        // restores; checkpoints CARRY both fields. OPTIMIZE, MERGE and
        // UPDATE rewrites PRESERVE row ids when the table declares a
        // materialized row-id column
        // (delta.rowTracking.materializedRowIdColumnName — the rewrite
        // writes each surviving row's current id into it; [[compact]],
        // [[merge]], [[update]]) — delta-spark's stable-id contract.
        // Rewrites on tables WITHOUT the declaration assign
        // FRESH ids — spec-legal (the protocol only mandates fresh-id
        // bookkeeping; stability is delta-spark's materialization
        // extension), documented for consumers that assume stable ids.
      case "identityColumns" => () // ENFORCED: appends allocate omitted
        // identity values from the high-water mark (one zipWithIndex
        // pass) and bump it in the same commit's metaData; explicit
        // inserts gate on allowExplicitInsert; racing allocations abort;
        // MERGE gates on allowExplicitInsert and bumps the mark in its
        // own commit; UPDATE refuses SET on identity columns outright
      case other =>
        refuse(s"its protocol requires writer feature '$other', which this " +
          "writer does not implement")
    }
  }

  /** One CAS-retried metaData-only commit: `change` re-derives the new
    * (schema, partitionColumns, configuration, extra protocol line)
    * against each attempt's fresh snapshot. The shared engine under
    * ALTER-TABLE-shaped statements (rename/drop column, enable column
    * mapping) — zero data I/O, the files bind by physical name.
    */
  private def commitMetaDataChange(spark: SparkSession, path: String, operation: String)
      (change: DeltaRead.Snapshot => (org.apache.spark.sql.types.StructType,
        Seq[String], Map[String, String], Option[String])): Long =
    commitMetaDataChangeOpt(spark, path, operation)(s => Some(change(s)))

  /** [[commitMetaDataChange]] whose `change` may signal an explicit
    * NO-OP with `None` (commit nothing, return the current version) —
    * the signal is a plain return value, not a non-local return
    * escaping through the retry loop (which would break silently if
    * the loop ever caught Throwable or deferred the closure).
    */
  private def commitMetaDataChangeOpt(spark: SparkSession, path: String, operation: String)
      (change: DeltaRead.Snapshot => Option[(org.apache.spark.sql.types.StructType,
        Seq[String], Map[String, String], Option[String])]): Long = {
    val rootP = qualifiedRoot(spark, path)
    Txn.run(rootP.getFileSystem(spark.sparkContext.hadoopConfiguration),
        s"$operation at $path") { _ =>
      val snap = DeltaRead.snapshot(spark, rootP.toString)
      requireWritable(snap, path, removesData = false)
      change(snap) match {
        case None => Txn.Done(snap.version) // explicit no-op: nothing to commit
        case Some((schema, parts, conf, protocol)) =>
          val now = System.currentTimeMillis
          publishCommit(spark, rootP, Some(snap), commitLines(Seq(
            commitInfoLine(now, operation)) ++ protocol ++
            Seq(metaDataLine(snap.metaId, schema.json, parts, conf, now))), conf)
      }
    }
  }

  /** Does SQL expression `e` reference identifier `name`? Word-boundary
    * textual probe — conservative (a string literal containing the
    * name also matches), which is the safe direction for refusals.
    */
  private def identRefs(e: String, name: String): Boolean =
    ("(?i)(?<![A-Za-z0-9_`])" + java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_`])").r.findFirstIn(e).isDefined

  /** Upgrade an UNMAPPED table to name-mode column mapping — the spec's
    * upgrade path (delta-spark `ALTER TABLE … SET TBLPROPERTIES
    * ('delta.columnMapping.mode' = 'name')`): every existing field gets
    * `delta.columnMapping.id` = its ordinal and `physicalName` = its
    * CURRENT name, so every existing data file binds unchanged; only
    * columns added later mint fresh `col-<uuid>` physical names. The
    * same commit carries the protocol upgrade column mapping requires
    * (legacy reader 2 / writer 5, or the `columnMapping` feature on
    * table-features protocols). Unlocks [[renameColumn]] /
    * [[dropColumn]] on tables this engine created.
    */
  def enableColumnMapping(spark: SparkSession, path: String): Long = {
    import org.apache.spark.sql.types.MetadataBuilder
    commitMetaDataChangeOpt(spark, path, "SET TBLPROPERTIES") { snap =>
      if (snap.colMap.nonEmpty) None // already mapped: no-op at this version
      else Some {
        val fields = snap.schema.fields.zipWithIndex.map { case (f, i) =>
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", i + 1L)
            .putString("delta.columnMapping.physicalName", f.name).build())
        }
        val conf = snap.configuration +
          ("delta.columnMapping.mode" -> "name") +
          ("delta.columnMapping.maxColumnId" -> fields.length.toString)
        val protocol: Option[String] =
          if (snap.minWriter >= 7) {
            if (snap.writerFeatures.contains("columnMapping")) None
            else Some(protocolLine(math.max(snap.minReader, 2), snap.minWriter,
              if (snap.minReader >= 3) Some(snap.readerFeatures + "columnMapping") else None,
              Some(snap.writerFeatures + "columnMapping")))
          } else if (snap.minWriter < 5 || snap.minReader < 2)
            Some(protocolLine(math.max(snap.minReader, 2), math.max(snap.minWriter, 5)))
          else None
        (org.apache.spark.sql.types.StructType(fields), snap.partitionColumns,
          conf, protocol)
      }
    }
  }

  /** ALTER TABLE ALTER COLUMN … TYPE — the protocol's TYPE WIDENING
    * feature (readerWriter `typeWidening`, delta-spark 4.x's
    * `delta.enableTypeWidening` surface): a metaData-only commit that
    * widens one top-level column's type. Existing data files keep the
    * NARROW physical type; the scan reads them under the wider table
    * schema via Spark 4's parquet widening promotions (SPARK-40876) —
    * zero data I/O, like delta-spark. The widened field records the
    * protocol's `delta.typeChanges` history entry
    * (`{fromType, toType}`), and the commit upgrades the protocol to
    * carry `typeWidening` in BOTH feature lists (it is a reader
    * feature too: a reader unaware of widening would crash or corrupt
    * on the narrow files).
    *
    * Supported widenings: the integral chain (byte → short → int →
    * long) and float → double — the intersection of the delta matrix
    * with what Spark's vectorized parquet reader promotes natively.
    * The rest of the matrix (int → double, decimal expansion, date →
    * timestampNtz) refuses loudly rather than committing a schema the
    * scan cannot honor.
    */
  def widenColumn(spark: SparkSession, path: String, column: String,
                  to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    def deltaName(dt: DataType): String = dt match {
      case ByteType => "byte"
      case ShortType => "short"
      case IntegerType => "integer"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case other => other.typeName
    }
    val allowed: Map[DataType, Set[DataType]] = Map(
      ByteType -> Set[DataType](ShortType, IntegerType, LongType),
      ShortType -> Set[DataType](IntegerType, LongType),
      IntegerType -> Set[DataType](LongType),
      FloatType -> Set[DataType](DoubleType))
    commitMetaDataChangeOpt(spark, path, "CHANGE COLUMN") { snap =>
      val idx = snap.schema.fieldNames.indexWhere(_.equalsIgnoreCase(column))
      require(idx >= 0, s"widenColumn at $path: unknown column '$column' " +
        s"(table columns: ${snap.schema.fieldNames.mkString(", ")})")
      // partition values are log STRINGS parsed under the declared
      // type — widening one is untested territory for stats pruning
      // and pre-widening commits' partition-value parsing; delta-spark
      // disallows ALTER COLUMN TYPE on partition columns too
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(column)),
        s"widenColumn at $path: '$column' is a partition column — widening a " +
          "partition column's type is not supported (delta-spark refuses this " +
          "too); rewrite the table under the new type instead")
      val f = snap.schema(idx)
      if (f.dataType == to) None // already wide: explicit no-op
      else Some {
      require(allowed.get(f.dataType).exists(_.contains(to)),
        s"widenColumn at $path: ${deltaName(f.dataType)} → ${deltaName(to)} is not " +
          "a supported widening (byte/short/int up the integral chain, " +
          "float → double); rewrite the table for other type changes")
      val change = new MetadataBuilder()
        .putString("fromType", deltaName(f.dataType))
        .putString("toType", deltaName(to)).build()
      val prev: Array[Metadata] =
        if (f.metadata.contains("delta.typeChanges"))
          f.metadata.getMetadataArray("delta.typeChanges")
        else Array.empty
      val widened = f.copy(dataType = to,
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putMetadataArray("delta.typeChanges", prev :+ change).build())
      (StructType(snap.schema.fields.updated(idx, widened)),
        snap.partitionColumns, snap.configuration,
        protocolUpgradeTo(snap, "typeWidening"))
      }
    }
  }

  /** ALTER TABLE RENAME COLUMN parity — mapped tables only: data files
    * key columns by PHYSICAL name, so on a mapped table a rename is a
    * metaData-only commit (the physical name never changes); an
    * unmapped rename would need every file rewritten — refuse toward
    * [[enableColumnMapping]] first.
    */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String): Long = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"new column name '$newName' must be an identifier")
    commitMetaDataChange(spark, path, "RENAME COLUMN") { snap =>
      require(snap.colMap.nonEmpty,
        s"Delta table at $path is not column-mapped — a rename binds old files " +
          "through the physical name, which only a mapped schema carries; run " +
          "enableColumnMapping first")
      val idx = snap.schema.fieldNames.indexWhere(_.equalsIgnoreCase(oldName))
      require(idx >= 0, s"RENAME COLUMN at $path: unknown column '$oldName'")
      require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"RENAME COLUMN at $path: column '$newName' already exists")
      constraintsOf(snap.configuration).foreach { case (n, e) =>
        require(!identRefs(e, oldName),
          s"RENAME COLUMN at $path: CHECK constraint '$n' (CHECK ($e)) references " +
            s"'$oldName' — drop the constraint first")
      }
      // renaming the generated column ITSELF is fine (its expression
      // metadata travels with the field); renaming one of its SOURCE
      // columns would break every future write's recompute/validation
      generatedOf(snap).foreach { case (g, e) =>
        require(g.equalsIgnoreCase(oldName) || !identRefs(e, oldName),
          s"RENAME COLUMN at $path: generated column '$g' (GENERATED AS ($e)) " +
            s"references '$oldName' — delta-spark refuses this alter too")
      }
      val fields = snap.schema.fields.clone()
      fields(idx) = fields(idx).copy(name = newName)
      val parts = snap.partitionColumns.map(p =>
        if (p.equalsIgnoreCase(oldName)) newName else p)
      (org.apache.spark.sql.types.StructType(fields), parts, snap.configuration, None)
    }
  }

  /** ALTER TABLE DROP COLUMN parity — mapped tables only (delta-spark's
    * own requirement): the field leaves the schema, the bytes stay in
    * the old files (readers simply stop projecting the physical
    * column), and a REORG/compact reclaims them physically later.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    commitMetaDataChange(spark, path, "DROP COLUMNS") { snap =>
      require(snap.colMap.nonEmpty,
        s"Delta table at $path is not column-mapped — DROP COLUMN needs column " +
          "mapping (delta-spark's requirement too); run enableColumnMapping first")
      val idx = snap.schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"DROP COLUMN at $path: unknown column '$name'")
      require(snap.schema.fields.length > 1,
        s"DROP COLUMN at $path: cannot drop the table's only column")
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"DROP COLUMN at $path: '$name' is a partition column — the layout " +
          "depends on it; repartition through a full rewrite instead")
      constraintsOf(snap.configuration).foreach { case (n, e) =>
        require(!identRefs(e, name),
          s"DROP COLUMN at $path: CHECK constraint '$n' (CHECK ($e)) references " +
            s"'$name' — drop the constraint first")
      }
      // dropping the generated column itself removes its contract with
      // it; dropping one of its SOURCE columns would brick every write
      generatedOf(snap).foreach { case (g, e) =>
        require(g.equalsIgnoreCase(name) || !identRefs(e, name),
          s"DROP COLUMN at $path: generated column '$g' (GENERATED AS ($e)) " +
            s"references '$name' — drop '$g' first")
      }
      (org.apache.spark.sql.types.StructType(snap.schema.fields.patch(idx, Nil, 1)),
        snap.partitionColumns, snap.configuration, None)
    }

  /** Identity-column specs (`delta.identity.*` field metadata). */
  private final case class IdSpec(name: String, start: Long, step: Long,
      allowExplicit: Boolean, highWater: Option[Long])
  private def identitiesOf(snap: DeltaRead.Snapshot): Seq[IdSpec] =
    snap.schema.fields.collect {
      case f if Seq("delta.identity.start", "delta.identity.step",
          "delta.identity.highWaterMark", "delta.identity.allowExplicitInsert")
          .exists(f.metadata.contains) =>
        require(f.dataType == org.apache.spark.sql.types.LongType,
          s"identity column '${f.name}' must be BIGINT (the protocol's type), " +
            s"got ${f.dataType.catalogString}")
        def lng(k: String, d: Long) =
          if (f.metadata.contains(k)) f.metadata.getLong(k) else d
        IdSpec(f.name, lng("delta.identity.start", 1L), lng("delta.identity.step", 1L),
          f.metadata.contains("delta.identity.allowExplicitInsert") &&
            f.metadata.getBoolean("delta.identity.allowExplicitInsert"),
          if (f.metadata.contains("delta.identity.highWaterMark"))
            Some(f.metadata.getLong("delta.identity.highWaterMark")) else None)
    }.toSeq

  /** A metaData action bumping identity high-water marks in the table
    * schema — everything else (id, partitioning, configuration)
    * carried verbatim. None when no mark moved. The protocol's
    * contract: an explicit insert pushing past the mark must bump it
    * in the SAME commit, or later allocating appends collide.
    */
  private def identityMetaDataLine(snap: DeltaRead.Snapshot,
                                   identityHw: Map[String, Long],
                                   now: Long): Option[String] = {
    if (identityHw.isEmpty) return None
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val schema = StructType(snap.schema.fields.map { f =>
      identityHw.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, hw)) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", hw).build())
        case None => f
      }
    })
    Some(metaDataLine(snap.metaId, schema.json, snap.partitionColumns, snap.configuration, now))
  }

  /** Generated columns (`delta.generationExpression` field metadata). */
  private def generatedOf(snap: DeltaRead.Snapshot): Seq[(String, String)] =
    snap.schema.fields.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        f.name -> f.metadata.getString("delta.generationExpression")
    }.toSeq

  /** Generated-column writer contract (delta-spark's): a batch that
    * OMITS a generated column gets it computed from its generation
    * expression; a batch that SUPPLIES it is validated value-by-value
    * (null-safe equality against the expression) and fails the
    * statement on the first divergence — silently accepting a wrong
    * value would corrupt what every reader treats as derived truth.
    */
  private def withGeneratedColumns(snap: DeltaRead.Snapshot, df: DataFrame,
                                   path: String, opName: String,
                                   computeIfAbsent: Boolean = true): DataFrame =
    generatedOf(snap).foldLeft(df) { case (d, (name, e)) =>
      val dt = snap.schema(snap.schema.fieldIndex(name)).dataType
      if (!d.columns.exists(_.equalsIgnoreCase(name))) {
        // full overwrite is the schema-REDEFINITION surface: an absent
        // generated column there means the contract is being dropped
        // with the schema, not that it should be resurrected
        if (computeIfAbsent) d.withColumn(name, expr(e).cast(dt)) else d
      }
      else { validateGenerated(snap, d, name, e, path, opName); d }
    }

  /** One value-by-value generation check (null-safe equality against
    * the expression); fails the statement with an offending row.
    */
  private def validateGenerated(snap: DeltaRead.Snapshot, df: DataFrame,
                                name: String, e: String,
                                path: String, opName: String): Unit = {
    val dt = snap.schema(snap.schema.fieldIndex(name)).dataType
    val bad = df.where(s"NOT (`$name` <=> CAST(($e) AS ${dt.sql}))")
      .limit(1).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"$opName at $path supplies generated column '$name' with a value " +
        s"diverging from its generation expression ($e); offending row: " +
        s"${bad.head}. Omit the column to have it computed")
  }

  /** CHECK-constraint names and expressions from the table
    * configuration (delta-spark's `delta.constraints.<name>` keys).
    */
  private def constraintsOf(conf: Map[String, String]): Seq[(String, String)] =
    conf.collect { case (k, v) if k.startsWith("delta.constraints.") =>
      k.stripPrefix("delta.constraints.") -> v
    }.toSeq.sortBy(_._1)

  /** Legacy COLUMN INVARIANTS (`delta.invariants` field metadata,
    * protocol writer v2): each is a JSON envelope
    * `{"expression": {"expression": "<sql>"}}` — extracted here to the
    * same (name, expr) shape constraints use, enforced at the same
    * hook sites. An unparsable envelope refuses loudly (silently
    * skipping an invariant would break the contract other writers
    * enforce).
    */
  private def invariantsOf(snap: DeltaRead.Snapshot): Seq[(String, String)] =
    snap.schema.fields.collect {
      case f if f.metadata.contains("delta.invariants") =>
        val raw = f.metadata.getString("delta.invariants")
        val e = try mapper.readTree(raw).path("expression").path("expression").asText("")
        catch { case scala.util.control.NonFatal(_) => "" }
        require(e.nonEmpty,
          s"column '${f.name}' carries an unparsable delta.invariants envelope: $raw")
        s"invariant(${f.name})" -> e
    }.toSeq

  /** Evaluate the table's CHECK constraints over the rows a statement
    * is about to add — the protocol's writer contract for the
    * `checkConstraints` feature. Violation = the expression evaluates
    * to FALSE (NULL passes, SQL CHECK semantics). The probe costs one
    * filtered pass of the INCOMING batch per constraint — never a
    * table scan — and surfaces one offending row in the error.
    */
  private def enforceConstraints(snap: DeltaRead.Snapshot, df: DataFrame,
                                 path: String, opName: String): Unit =
    (constraintsOf(snap.configuration) ++ invariantsOf(snap)).foreach { case (name, e) =>
      val bad = df.where(s"NOT coalesce(($e), true)").limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$opName at $path violates CHECK constraint '$name' (CHECK ($e)); " +
          s"offending row: ${bad.head}")
    }

  /** ALTER TABLE ADD CONSTRAINT parity: verify EVERY existing row
    * satisfies `expr` (delta-spark validates before committing too),
    * then commit `delta.constraints.<name> = expr` with the protocol
    * upgraded for `checkConstraints`. Writes thereafter enforce it.
    */
  def addCheckConstraint(spark: SparkSession, path: String,
                         name: String, expr: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    val key = s"delta.constraints.${name.toLowerCase}"
    // validation and commit share ONE CAS loop (commitMetaDataChange
    // re-derives per attempt): a concurrent append between the scan
    // and the commit loses us the CAS, and the retry RE-VALIDATES
    // against the winner's snapshot — no violating row can slip in
    // under the constraint (delta-spark validates in-transaction too)
    commitMetaDataChange(spark, path, "ADD CONSTRAINT") { snap =>
      require(!snap.configuration.contains(key),
        s"Delta table at $path already has a constraint named '$name' — drop it first")
      val bad = DeltaRead.readSnapshot(spark, qualifiedRoot(spark, path).toString, snap)
        .where(s"NOT coalesce(($expr), true)").limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' at $path: existing row violates " +
          s"CHECK ($expr); offending row: ${bad.head}")
      val protocol: Option[String] =
        if (snap.minWriter >= 7) {
          if (snap.writerFeatures.contains("checkConstraints")) None
          else Some(withWriterFeatures(snap, Seq("checkConstraints")))
        } else if (snap.minWriter < 3) Some(protocolLine(snap.minReader, 3))
        else None
      (snap.schema, snap.partitionColumns,
        snap.configuration + (key -> expr), protocol)
    }
  }

  /** ALTER TABLE DROP CONSTRAINT parity. */
  def dropCheckConstraint(spark: SparkSession, path: String, name: String): Long =
    setProperties(spark, path, Map.empty,
      unset = Seq(s"delta.constraints.${name.toLowerCase}"))

  /** LOGICAL frame → PHYSICAL-named frame + partition columns for the
    * parquet write on a column-mapped table (identity when unmapped).
    * Every DML rewrite path funnels through this just before its
    * [[writeDataFiles]], AFTER all logical-name work is done: the data
    * files, their partition dirs, footer-derived stats, and the
    * decoded `partitionValues` then all land physical — the protocol's
    * shape, and what delta-spark resolves against.
    */
  private def isIdMode(conf: Map[String, String]): Boolean =
    conf.get("delta.columnMapping.mode").contains("id")

  /** The physically-named form of a (possibly nested) mapped type:
    * every inner struct field renamed to the physicalName its own
    * metadata carries, with `parquet.field.id` stamped per level in id
    * mode — the WRITE-side mirror of the reader's recursive
    * physicalization. An inner field with no physicalName refuses
    * loudly (writing a logical inner name is silent corruption for
    * every physical-name-resolving reader).
    */
  private def physicalizeType(dt: org.apache.spark.sql.types.DataType,
                              idMode: Boolean): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val physKey = "delta.columnMapping.physicalName"
        require(f.metadata.contains(physKey),
          s"nested mapped field '${f.name}' carries no physicalName metadata — " +
            "cannot write a physically-named file for this table")
        val g = f.copy(name = f.metadata.getString(physKey),
          dataType = physicalizeType(f.dataType, idMode))
        if (idMode && f.metadata.contains("delta.columnMapping.id"))
          g.copy(metadata = new MetadataBuilder().withMetadata(g.metadata)
            .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
            .build())
        else g
      })
      case a: ArrayType => a.copy(elementType = physicalizeType(a.elementType, idMode))
      case m: MapType => m.copy(keyType = physicalizeType(m.keyType, idMode),
        valueType = physicalizeType(m.valueType, idMode))
      case other => other
    }
  }

  private def hasNestedStruct(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.StructType => true
      case a: org.apache.spark.sql.types.ArrayType => hasNestedStruct(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasNestedStruct(m.keyType) || hasNestedStruct(m.valueType)
      case _ => false
    }

  /** Physical alias for one mapped column. NESTED types first CAST to
    * their physicalized form (a struct cast matches by position and
    * takes the target's field names — the logical→physical rename at
    * every level, inner `parquet.field.id` metadata riding the target
    * type). In ID MODE the top-level alias also carries
    * `parquet.field.id` (from the field's `delta.columnMapping.id`) —
    * Spark's parquet writer emits footer field ids from exactly this
    * metadata (`spark.sql.parquet.fieldId.write.enabled`), which is
    * what makes the new file resolvable by every id-resolving reader.
    */
  private def physAliasCol(idMode: Boolean, f: org.apache.spark.sql.types.StructField,
                           phys: String): org.apache.spark.sql.Column = {
    val c =
      if (hasNestedStruct(f.dataType)) col(f.name).cast(physicalizeType(f.dataType, idMode))
      else col(f.name)
    if (idMode && f.metadata.contains("delta.columnMapping.id"))
      c.as(phys, new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        .build())
    else c.as(phys)
  }

  // (footer-field-id emission is forced ON — scoped, with the prior
  // session value restored — inside [[writeDataFiles]], which detects
  // parquet.field.id metadata anywhere in the frame's schema)

  /** `extra`: pass-through columns OUTSIDE the table schema that must
    * reach the parquet under their own names (the materialized row-id
    * column — a physical name with no mapping id, per delta-spark).
    */
  private def toPhysical(snap: DeltaRead.Snapshot,
                         df: DataFrame,
                         extra: Seq[String] = Nil): (DataFrame, Seq[String]) =
    if (snap.colMap.isEmpty) (df, snap.partitionColumns)
    else {
      val idMode = isIdMode(snap.configuration)
      (df.select(snap.schema.fields.map(f =>
        physAliasCol(idMode, f, snap.colMap(f.name))) ++
        extra.filter(df.columns.contains).map(e => col(s"`$e`")): _*),
        snap.partitionColumns.map(p => snap.colMap.getOrElse(p,
          throw new IllegalStateException(
            s"partition column '$p' has no column-mapping physical name"))))
    }

  /** A column NEW to a mapped table, fully annotated: `field` carries
    * the minted (id, physicalName) pair at its own level AND on every
    * inner struct field (nested columns map field-by-field per the
    * protocol); `phys` is the top-level physical name for colMap
    * convenience.
    */
  private case class Minted(name: String, phys: String,
                            field: org.apache.spark.sql.types.StructField)

  /** Monotonic column-id allocator for ONE write: every field minted
    * in a commit — new top-level columns, their inner fields, and
    * inner fields new to a surviving column on full overwrite — draws
    * from the same sequence starting at the table's id high-water
    * mark, and the commit bumps `delta.columnMapping.maxColumnId` to
    * the final `hw` in the same metaData action (delta-spark's
    * contract). `minMinted` feeds the CAS race check: a concurrent
    * evolver whose high-water reached our first minted id claimed ids
    * this write's staged files already carry.
    */
  private final class MintContext(start: Long) {
    var hw: Long = start
    var minMinted: Long = Long.MaxValue
    def next(): Long = { hw += 1; if (hw < minMinted) minMinted = hw; hw }
    def didMint: Boolean = minMinted != Long.MaxValue
  }

  /** `f` with a freshly-minted (id, physicalName) pair at its own
    * level and recursively on every inner struct field — ids from
    * `ctx` depth-first (parent before children, delta-spark's
    * assignment order), physical names fresh `col-<uuid>` tokens no
    * reader resolves by logical name.
    */
  private def mintMappedField(f: org.apache.spark.sql.types.StructField,
                              ctx: MintContext): org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types.MetadataBuilder
    val id = ctx.next()
    f.copy(dataType = mintInnerType(f.dataType, ctx),
      metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName",
          "col-" + java.util.UUID.randomUUID.toString).build())
  }

  private def mintInnerType(dt: org.apache.spark.sql.types.DataType,
                            ctx: MintContext): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case s: StructType => StructType(s.fields.map(mintMappedField(_, ctx)))
      case a: ArrayType => a.copy(elementType = mintInnerType(a.elementType, ctx))
      case m: MapType => m.copy(keyType = mintInnerType(m.keyType, ctx),
        valueType = mintInnerType(m.valueType, ctx))
      case other => other
    }
  }

  /** The full-overwrite schema field for a SURVIVING logical name on a
    * mapped table: the (id, physicalName) binding carries over from
    * the table field — physical binding is identity across an
    * overwrite — and inner struct fields reconcile recursively by
    * logical name: surviving inner names keep their bindings, inner
    * fields new to this overwrite mint fresh pairs under `ctx`, and
    * dropped inner fields disappear (overwrite is the redefinition
    * surface; the removed files were their only physical home). A
    * STRUCTURAL type change (e.g. long → struct) mints the whole new
    * subtree.
    */
  private def reconcileMappedField(inc: org.apache.spark.sql.types.StructField,
                                   tbl: org.apache.spark.sql.types.StructField,
                                   ctx: MintContext): org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types.MetadataBuilder
    val idKey = "delta.columnMapping.id"
    val physKey = "delta.columnMapping.physicalName"
    if (!tbl.metadata.contains(idKey) || !tbl.metadata.contains(physKey))
      mintMappedField(inc, ctx) // half-mapped foreign field: re-mint whole
    else
      inc.copy(dataType = reconcileMappedType(inc.dataType, tbl.dataType, ctx),
        metadata = new MetadataBuilder().withMetadata(inc.metadata)
          .putLong(idKey, tbl.metadata.getLong(idKey))
          .putString(physKey, tbl.metadata.getString(physKey)).build())
  }

  private def reconcileMappedType(inc: org.apache.spark.sql.types.DataType,
                                  tbl: org.apache.spark.sql.types.DataType,
                                  ctx: MintContext): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (inc, tbl) match {
      case (is: StructType, ts: StructType) =>
        StructType(is.fields.map { f =>
          ts.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(tf) => reconcileMappedField(f, tf, ctx)
            case None => mintMappedField(f, ctx)
          }
        })
      case (ia: ArrayType, ta: ArrayType) =>
        ia.copy(elementType = reconcileMappedType(ia.elementType, ta.elementType, ctx))
      case (im: MapType, tm: MapType) =>
        im.copy(keyType = reconcileMappedType(im.keyType, tm.keyType, ctx),
          valueType = reconcileMappedType(im.valueType, tm.valueType, ctx))
      case _ => mintInnerType(inc, ctx) // structural change: fresh subtree
    }
  }

  /** Mint annotated fields for columns NEW to a mapped table — shared
    * by mergeSchema evolution and full overwrite; nested columns get
    * inner (id, physicalName) pairs minted at every level.
    */
  private def mintColumnIds(extras: Seq[org.apache.spark.sql.types.StructField],
                            ctx: MintContext): Seq[Minted] =
    extras.map { f =>
      val mf = mintMappedField(f, ctx)
      Minted(f.name, mf.metadata.getString("delta.columnMapping.physicalName"), mf)
    }

  /** The column-id high-water mark: the configured maxColumnId or the
    * max id any schema field (inner fields included — a foreign log
    * may have skipped the config key) carries, whichever is larger.
    */
  private def mappingIdHighWater(s: DeltaRead.Snapshot): Long = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def idsOf(dt: DataType): Seq[Long] = dt match {
      case st: StructType => st.fields.toSeq.flatMap { f =>
        (if (f.metadata.contains("delta.columnMapping.id"))
          Seq(f.metadata.getLong("delta.columnMapping.id")) else Nil) ++ idsOf(f.dataType)
      }
      case a: ArrayType => idsOf(a.elementType)
      case m: MapType => idsOf(m.keyType) ++ idsOf(m.valueType)
      case _ => Nil
    }
    val fieldIds = idsOf(s.schema)
    math.max(
      s.configuration.get("delta.columnMapping.maxColumnId")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L),
      if (fieldIds.isEmpty) 0L else fieldIds.max)
  }

  private object Mode extends Enumeration {
    val Append, Overwrite, DynamicOverwrite = Value
  }

  // ----- In-Commit Timestamps (writer feature `inCommitTimestamp`) ---
  // When `delta.enableInCommitTimestamps = true`, the protocol requires
  // every commit's commitInfo to be the FIRST action and to carry an
  // `inCommitTimestamp` strictly greater than the previous commit's —
  // the clock-skew-proof timestamp delta-spark 4.x time travel reads.

  private[sources] def ictEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))

  /** The previous commit's inCommitTimestamp (None when v < 0, the
    * JSON was log-cleaned, or it predates enablement) — one small read
    * of the head commit, which metadata cleanup always preserves.
    */
  private[sources] def prevIct(fs: FileSystem, logP: Path, v: Long): Option[Long] =
    if (v < 0) None
    else graft.pipeline.VersionedTable.readSmall(fs, DeltaLog.commitFile(logP, v))
      .flatMap(DeltaLog.inCommitTimestamp)

  /** Monotonic ICT for the commit about to land at `version`. */
  private def nextIct(fs: FileSystem, logP: Path, version: Long): Long =
    math.max(System.currentTimeMillis,
      prevIct(fs, logP, version - 1).map(_ + 1L).getOrElse(Long.MinValue))

  /** Best-effort `<v>.crc` version-checksum sidecar in delta-spark's
    * VersionChecksum shape: table-level aggregates (tableSizeBytes,
    * numFiles) plus the replayed metadata/protocol, which a reader can
    * validate a snapshot against without replaying the log. Computed
    * INCREMENTALLY — the [[DeltaLog]] fold of this commit's own actions
    * onto the pre-commit snapshot, so the 100 TB cost is O(commit).
    * Skipped — never written wrong — when the base state is
    * unavailable (no prevSnap on a non-initial commit) or any live
    * file's size is unknown (a legacy add without `size`). Optional
    * per the protocol; delta-spark validates opportunistically, as
    * does [[DeltaRead.snapshot]].
    */
  private def writeVersionChecksum(fs: FileSystem, logP: Path, version: Long,
                                   content: String,
                                   prevSnap: Option[DeltaRead.Snapshot]): Unit =
    try {
      if (prevSnap.isEmpty && version > 0L) return
      val table = logP.getParent.toString
      val actions = DeltaLog.parseCommit(content)
      val post = DeltaLog.fold(prevSnap.fold(DeltaLog.emptyState(table))(
        DeltaLog.resume(table, _)), actions)
      val s = post.snap
      if (s.unknownSizes > 0) return
      // this commit's own metaData / protocol as logged, else the base's
      val metaNode = Option(post.metadata).map { m =>
        val b = metaDataNode(m.id, m.schemaString, m.partitionColumns, m.configuration)
        m.createdTime.foreach(b.put("createdTime", _))
        b
      }.orElse(prevSnap.map(crcMetaNode)).orNull
      val protoNode = Option(post.protocol).map(p =>
        protocolNode(p.minReader, p.minWriter, p.readerFeatures, p.writerFeatures))
        .orElse(prevSnap.map(crcProtoNode)).orNull
      if (metaNode == null || protoNode == null) return
      val node = mapper.createObjectNode
      node.put("tableSizeBytes", s.sizeBytes)
      node.put("numFiles", s.files.size.toLong)
      node.put("numMetadata", 1L)
      node.put("numProtocol", 1L)
      actions.collect { case c: DeltaLog.CommitInfo => c.inCommitTimestamp }.flatten
        .lastOption.foreach(v => node.put("inCommitTimestampOpt", v))
      node.set[com.fasterxml.jackson.databind.JsonNode]("metadata", metaNode)
      node.set[com.fasterxml.jackson.databind.JsonNode]("protocol", protoNode)
      // the optional state lists delta-spark's VersionChecksum also
      // carries. setTransactions is CAPPED (ADVICE r16): delta-spark
      // omits the list past ~100 appIds rather than letting a
      // many-sink streaming table grow every crc (and every commit's
      // driver work) unboundedly — the list is optional per the
      // protocol, so omission only loses validation depth.
      if (s.txns.nonEmpty && s.txns.size <= 100) {
        val arr = node.putArray("setTransactions")
        s.txns.toSeq.sortBy(_._1).foreach { case (appId, v) =>
          val t = arr.addObject(); t.put("appId", appId); t.put("version", v)
        }
      }
      if (s.domains.nonEmpty) {
        val arr = node.putArray("domainMetadata")
        s.domains.toSeq.sortBy(_._1).foreach { case (d, c) =>
          val o = arr.addObject()
          o.put("domain", d); o.put("configuration", Option(c).getOrElse(""))
          o.put("removed", false)
        }
      }
      graft.pipeline.VersionedTable.casPublish(
        fs, new Path(logP, f"$version%020d.crc"),
        mapper.writeValueAsString(node) + "\n")
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def crcMetaNode(s: DeltaRead.Snapshot): com.fasterxml.jackson.databind.JsonNode =
    metaDataNode(Option(s.metaId).getOrElse(""), s.schema.json, s.partitionColumns,
      s.configuration)

  private def crcProtoNode(s: DeltaRead.Snapshot): com.fasterxml.jackson.databind.JsonNode =
    protocolNode(s.minReader, s.minWriter, Some(s.readerFeatures).filter(_.nonEmpty),
      Some(s.writerFeatures).filter(_.nonEmpty))

  /** The protocol's row-tracking high-water-mark domain. */
  private[sources] val RowTrackingDomain = "delta.rowTracking"

  private def parseHwm(cfg: String): Long =
    try {
      val n = mapper.readTree(cfg)
      if (n.hasNonNull("rowIdHighWaterMark")) n.get("rowIdHighWaterMark").asLong(-1L)
      else -1L
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** ROW TRACKING (writer feature `rowTracking`): stamp every add
    * action in `content` with `baseRowId` / `defaultRowCommitVersion`
    * and advance the [[RowTrackingDomain]] high-water mark — the
    * protocol's writer contract whenever the feature is in
    * writerFeatures (enabled or merely supported). Runs at the publish
    * choke point so every DML path (append, overwrite, merge, DV
    * delete/update, optimize, restore) satisfies the contract without
    * per-path code:
    *  - an add already CARRYING baseRowId keeps it (restore embeds the
    *    target snapshot's ids; foreign content is trusted) — the hwm
    *    still rises to cover it when its stats expose numRecords;
    *  - a re-add of a LIVE path (DV DML re-adds the same file) carries
    *    the file's existing ids from `prevSnap` — physical rows are
    *    unchanged, so their ids must not move;
    *  - a NEW file gets the next fresh range: baseRowId = hwm + 1,
    *    hwm += numRecords (from `add.stats` — refusing loudly when a
    *    new add has no numRecords, because an unknowable range would
    *    corrupt the watermark for every other writer), and
    *    defaultRowCommitVersion = the committing version.
    * The domain action lands in the same commit (last-wins replay);
    * per-attempt re-stamping is safe because the caller re-snapshots
    * after a lost CAS. O(commit actions) — no table scan.
    */
  private[sources] def stampRowTracking(version: Long, content: String,
      prevSnap: Option[DeltaRead.Snapshot]): String = {
    // cheap reject: the feature name must appear in the prev protocol
    // or in this commit's own protocol line
    val prevActive = prevSnap.exists(s =>
      s.minWriter >= 7 && s.writerFeatures.contains("rowTracking"))
    if (!prevActive && !content.contains("rowTracking")) return content
    val lines = content.split("\n").toIndexedSeq.filter(_.trim.nonEmpty)
      .map(l => l -> DeltaLog.parseAction(l))
    val contentActive = lines.exists {
      case (_, Some(p: DeltaLog.Protocol)) => p.writerFeatures.exists(_.contains("rowTracking"))
      case _ => false
    }
    if (!prevActive && !contentActive) return content
    var hwm = prevSnap.flatMap(_.domains.get(RowTrackingDomain))
      .map(parseHwm).getOrElse(-1L)
    // Missing/unparseable high-water-mark domain on a table that already
    // carries stamped files: restarting at 0 would silently mint row ids
    // DUPLICATING the live files' ranges (the disjoint-range invariant
    // with no error). Re-seed from the live ranges themselves —
    // max(baseRowId + numRecords - 1) — refusing loudly when a stamped
    // file's numRecords is unknowable (its range can't be bounded).
    if (hwm < 0L && prevSnap.exists(_.rowIds.nonEmpty)) {
      val s = prevSnap.get
      hwm = s.rowIds.iterator.map { case (rel, (base, _)) =>
        val nr = s.stats.get(rel).flatMap(DeltaRead.parseAddStats)
          .map(_.rows).filter(_ >= 0L).getOrElse(
            throw new IllegalStateException(
              s"row tracking: the ${RowTrackingDomain} high-water-mark domain is " +
                s"missing or unparseable and live file '$rel' carries a baseRowId " +
                "but no numRecords stats — its id range cannot be bounded, so a " +
                "fresh range cannot be assigned without risking duplicate row ids"))
        base + nr - 1L
      }.max
    }
    val carried: Map[String, (Long, Long)] =
      prevSnap.map(_.rowIds).getOrElse(Map.empty)
    def numRecordsOf(a: DeltaLog.AddFile): Option[Long] =
      Option(a.stats).flatMap(DeltaRead.parseAddStats).map(_.rows).filter(_ >= 0L)
    var stamped = false
    var domainSeen = false
    val out = lines.flatMap {
      case (_, Some(d: DeltaLog.DomainMetadata)) if d.domain == RowTrackingDomain =>
        // content carrying its own hwm (foreign shape): fold it in and
        // drop the line — the recomputed domain appended below covers it
        domainSeen = true
        hwm = math.max(hwm, parseHwm(Option(d.configuration).getOrElse("")))
        None
      case (l, Some(a: DeltaLog.AddFile)) if a.baseRowId >= 0L =>
        numRecordsOf(a).foreach(nr => hwm = math.max(hwm, a.baseRowId + nr - 1))
        Some(l)
      case (l, Some(a: DeltaLog.AddFile)) =>
        val rel = DeltaRead.decodePath(a.path)
        stamped = true
        Some(carried.get(rel) match {
          case Some((brid, dcv)) => DeltaLog.withRowIds(l, brid, dcv)
          case None =>
            val nr = numRecordsOf(a).getOrElse(throw new UnsupportedOperationException(
              s"row tracking requires numRecords stats on every new add action — " +
                s"'$rel' carries none; cannot assign a sound baseRowId range"))
            hwm += nr
            DeltaLog.withRowIds(l, hwm - nr + 1, version)
        })
      case (l, _) => Some(l)
    }
    if (!stamped && !domainSeen) return content
    commitLines(out :+ domainLine(RowTrackingDomain,
      s"""{"rowIdHighWaterMark":$hwm}""", removed = false))
  }

  /** The publish step of one Delta commit attempt — the single commit
    * point every writer path hands to [[Txn.run]]. `content` (whose
    * first line is the commitInfo) lands at `prevSnap`'s next version
    * (v0 when absent). At CAS time it is stamped: under in-commit
    * timestamps the commitInfo gains `inCommitTimestamp` — `ict` when
    * the caller already fixed it for this attempt, else the next
    * monotonic value (it must exceed whatever commit actually precedes
    * this one) — and row-tracking tables get their add actions stamped
    * ([[stampRowTracking]]); both stamps and the crc's fold of the
    * commit go through [[DeltaLog]], the one log-format module. A win
    * writes the `<v>.crc` version-checksum sidecar (best-effort) and
    * then folds the log at the checkpoint cadence `conf` sets. `staged` are the files this
    * attempt wrote.
    */
  private def publishCommit(spark: SparkSession, rootP: Path,
                            prevSnap: Option[DeltaRead.Snapshot], content: String,
                            conf: Map[String, String], staged: Seq[NewFile] = Nil,
                            ict: Option[Long] = None): Txn.Publish = {
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new Path(rootP, "_delta_log")
    val version = prevSnap.fold(0L)(_.version + 1)
    lazy val stamped = {
      val ictValue = ict.orElse(
        if (ictEnabled(conf)) Some(nextIct(fs, logP, version)) else None)
      val withIct = ictValue.fold(content)(DeltaLog.withInCommitTimestamp(content, _))
      stampRowTracking(version, withIct, prevSnap)
    }
    Txn.Publish(version,
      () => graft.pipeline.VersionedTable.casPublish(
        fs, new Path(logP, f"$version%020d.json"), stamped),
      () => {
        writeVersionChecksum(fs, logP, version, stamped, prevSnap)
        autoCheckpoint(spark, rootP.toString, version, conf)
      },
      staged.map(f => new Path(rootP, f.relPath)))
  }

  /** Auto-checkpoint cadence: after a commit lands version V where
    * `V % interval == 0`, the writer folds the log into a
    * `V.checkpoint.parquet` + `_last_checkpoint` pointer. The interval
    * honors the table's `delta.checkpointInterval` property
    * (delta-spark reads the same key); this constant is the default
    * when the property is absent or unparseable (delta-spark's default
    * is 10 too). Best-effort: a checkpoint failure never fails the
    * commit that triggered it.
    */
  val CheckpointInterval = 10

  private[sources] def effectiveCheckpointInterval(config: Map[String, String]): Int =
    config.get("delta.checkpointInterval")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(CheckpointInterval)

  /** Best-effort post-commit checkpoint fold at the table's configured
    * cadence — `config` is the configuration the just-committed version
    * carries (the snapshot's, or the new metaData's when the commit
    * replaced it), so an interval change applies from its own commit on.
    */
  private def autoCheckpoint(spark: SparkSession, root: String, version: Long,
                             config: Map[String, String]): Unit =
    if (version > 0 && version % effectiveCheckpointInterval(config) == 0)
      try checkpoint(spark, root)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARNING: auto-checkpoint at version $version " +
          s"of $root failed (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
          "the commit itself is durable; readers replay the JSON log")
      }

  private def write(spark: SparkSession, df: DataFrame, path: String,
                    mode: Mode.Value, partitionByReq: Seq[String],
                    txn: Option[(String, Long)] = None,
                    mergeSchema: Boolean = false): Long = {
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val existing: Option[DeltaRead.Snapshot] =
      if (DeltaRead.isDeltaTable(spark, rootP.toString))
        Some(DeltaRead.snapshot(spark, rootP.toString))
      else None
    // COLUMN MAPPING (name mode): appends and dynamic partition
    // overwrites land as PHYSICAL-named parquet (renamed just before
    // the write; partition dirs and add.partitionValues keys physical
    // too, the protocol's shape) and touch no metaData. FULL overwrite
    // (round 15 — the last mapped-table DML gap) is the
    // schema-REDEFINITION surface: its re-emitted metaData CARRIES each
    // surviving logical column's (id, physicalName) — old physical
    // names never re-bind to different logical columns for other
    // readers' caches — and MINTS fresh ids/col-<uuid> names for
    // genuinely new columns under a monotonically bumped
    // delta.columnMapping.maxColumnId, delta-spark's own minting
    // contract (see the mergeSchema evolution path below, which this
    // reuses).
    // cdfHandled: an overwrite's changes are EXACTLY whole-file
    // removes (DV descriptors carried) + whole-file adds — the shape
    // CDF readers derive delete/insert changes from without cdc files
    // (delta-spark's own INSERT OVERWRITE posture)
    existing.foreach(requireWritable(_, path, removesData = mode != Mode.Append,
      cdfHandled = true))
    // non-append writes on DV'd tables are safe: the removes this
    // writer emits CARRY each file's deletionVector descriptor (other
    // readers reconcile by (path, dv.uniqueId) — a dv-less remove
    // would resurrect the soft-deleted rows for them).

    // replayed micro-batch: its txn mark is already in the log — skip
    // BEFORE the data job runs (the cheap, common replay path)
    def replayed(snap: Option[DeltaRead.Snapshot]): Option[Long] =
      txn.flatMap { case (appId, ver) =>
        snap.filter(_.txns.get(appId).exists(_ >= ver)).map(_.version)
      }
    val replay = replayed(existing)
    if (replay.isDefined) return replay.get

    // partition layout: inherit the table's unless this is a
    // full overwrite (which may legally re-partition the table)
    val parts: Seq[String] = existing match {
      case Some(snap) if mode != Mode.Overwrite =>
        if (partitionByReq.isEmpty) snap.partitionColumns
        else {
          require(snap.partitionColumns.map(_.toLowerCase) ==
                    partitionByReq.map(_.toLowerCase),
            s"Delta table at $path is partitioned by " +
              s"(${snap.partitionColumns.mkString(", ")}) but the write asked for " +
              s"(${partitionByReq.mkString(", ")}) — append/dynamic-overwrite keep " +
              "the table's layout; use a full overwrite to re-partition")
          snap.partitionColumns
        }
      case _ => partitionByReq
    }
    parts.foreach(p => require(df.columns.exists(_.equalsIgnoreCase(p)),
      s"partition column '$p' is not in the dataframe (${df.columns.mkString(", ")})"))
    // partition values are log STRINGS — a variant has no canonical
    // string form, so a variant partition column cannot round-trip
    // through partitionValues (delta-spark refuses it too)
    parts.foreach { p =>
      df.schema.fields.find(_.name.equalsIgnoreCase(p)).foreach { f =>
        require(!typeFeatures(f.dataType).contains("variantType"),
          s"partition column '$p' at $path is (or contains) a variant — variant " +
            "values have no canonical partition-string form; partition by a " +
            "derived column (e.g. variant_get(..) cast to a scalar) instead")
      }
    }

    // generated columns first: a batch omitting one gets it computed,
    // a batch supplying one is validated — BEFORE alignment, which
    // would otherwise reject the "missing" generated column
    val dfg: DataFrame = existing match {
      case Some(snap) if mode != Mode.Overwrite =>
        withGeneratedColumns(snap, df, path,
          if (mode == Mode.Append) "APPEND" else "OVERWRITE")
      case Some(snap) =>
        // full overwrite: a SUPPLIED generated column still validates
        // against the current contract (a same-schema overwrite keeps
        // the expression alive — accepting diverging values would
        // corrupt derived truth); an absent one is the schema change
        withGeneratedColumns(snap, df, path, "OVERWRITE", computeIfAbsent = false)
      case None => df
    }
    // IDENTITY COLUMNS (round 14 — the last writer-feature refusal): a
    // batch OMITTING an identity column gets values allocated from the
    // high-water mark (hw + step, hw + 2*step, ... via one global
    // zipWithIndex pass — batch-sized, never a table scan); a batch
    // SUPPLYING one requires allowExplicitInsert and pushes the
    // high-water past the supplied extreme. The new high-water commits
    // in the SAME metaData action (commitContent), and a RACING
    // identity allocation is a true conflict: the CAS loser sees the
    // moved mark and aborts loudly (delta-spark aborts such txns too).
    val identities: Seq[IdSpec] =
      if (mode == Mode.Overwrite) Nil else existing.toSeq.flatMap(identitiesOf)
    val identityHwB = scala.collection.mutable.LinkedHashMap[String, Long]()
    val dfi: DataFrame = identities.foldLeft(dfg) { (d, id) =>
      val cur = id.highWater.getOrElse(id.start - id.step)
      if (!d.columns.exists(_.equalsIgnoreCase(id.name))) {
        val n = d.count()
        if (n == 0) d.withColumn(id.name, lit(null).cast("bigint"))
        else {
          identityHwB(id.name) = cur + n * id.step
          val st = org.apache.spark.sql.types.StructType(d.schema.fields :+
            org.apache.spark.sql.types.StructField(id.name,
              org.apache.spark.sql.types.LongType, nullable = true))
          val rdd = d.rdd.zipWithIndex.map { case (row, i) =>
            org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (cur + (i + 1) * id.step)) }
          spark.createDataFrame(rdd, st)
        }
      } else {
        require(id.allowExplicit,
          s"identity column '${id.name}' at $path is GENERATED ALWAYS — " +
            "explicit inserts refuse; omit the column to have values allocated")
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        val ext = (if (id.step > 0) d.agg(fmax(col(id.name)))
                   else d.agg(fmin(col(id.name)))).head()
        if (!ext.isNullAt(0)) {
          val v = ext.getLong(0)
          // collision-freedom is the contract: the next GENERATED value
          // must land beyond every supplied one
          if (if (id.step > 0) v > cur else v < cur) identityHwB(id.name) = v
        }
        d
      }
    }
    val identityHw: Map[String, Long] = identityHwB.toMap

    // schema alignment: append must match the table's columns (order
    // may differ — realign by name; the analyzer resolves
    // case-insensitively); a gap or type change is a LOUD error, the
    // schema-evolution route is an explicit overwrite
    val aligned: DataFrame = existing match {
      case Some(snap) if mode != Mode.Overwrite =>
        val df = dfi // alignment below operates on the generated frame
        val tbl = snap.schema
        val dfNames = df.columns.map(_.toLowerCase).toSet
        val missing = tbl.fieldNames.filterNot(n => dfNames.contains(n.toLowerCase))
        val extra = df.columns.filterNot(n =>
          tbl.fieldNames.exists(_.equalsIgnoreCase(n)))
        if (!mergeSchema)
          require(missing.isEmpty && extra.isEmpty,
            s"schema mismatch appending to Delta table $path — missing: " +
              s"[${missing.mkString(", ")}], extra: [${extra.mkString(", ")}]; " +
              "append with mergeSchema=true (additive) or overwrite the table")
        // (column-mapped tables evolve too: new columns mint physical
        // names + ids under delta.columnMapping.maxColumnId below)
        // mergeSchema: table columns df lacks NULL-FILL (the protocol's
        // by-name read does the same for old files vs new columns);
        // df-only columns append after the table's, nullable
        val re = df.select(tbl.fields.map { f =>
          if (dfNames.contains(f.name.toLowerCase)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } ++ extra.map(col): _*)
        tbl.fields.zip(re.schema.fields).foreach { case (t, d) =>
          if (dfNames.contains(t.name.toLowerCase))
            require(t.dataType.catalogString == d.dataType.catalogString,
              s"type mismatch appending to Delta table $path — column '${t.name}' " +
                s"is ${t.dataType.catalogString} in the table, " +
                s"${d.dataType.catalogString} in the dataframe" +
                (if (mergeSchema) " (mergeSchema is additive, never a type change)"
                 else ""))
        }
        re
      case _ => df
    }
    // CHECK constraints gate the rows this statement ADDS (one pass of
    // the incoming batch per constraint, evaluated on logical names)
    existing.foreach(s => enforceConstraints(s, aligned, path,
      if (mode == Mode.Append) "APPEND" else "OVERWRITE"))

    // MAPPED-TABLE EVOLUTION: a mergeSchema append that widens a
    // name-mode table must MINT each new column's (id, physicalName)
    // under `delta.columnMapping.maxColumnId` — delta-spark's own
    // minting contract: ids are monotonic from the configured
    // high-water mark (falling back to the max id any schema field
    // already carries — a foreign log may have skipped the config
    // key), physical names are fresh `col-<uuid>` tokens that no
    // reader ever resolves by logical name. The commit bumps
    // maxColumnId in the SAME metaData action (commitContent), and
    // the data files below land with the minted physical names.
    val mintCtx: Option[MintContext] = existing.filter(_.colMap.nonEmpty)
      .map(s => new MintContext(mappingIdHighWater(s)))
    val minted: Seq[Minted] = existing match {
      case Some(s) if s.colMap.nonEmpty && (mode == Mode.Overwrite || mergeSchema) =>
        // overwrite: every column absent from the CURRENT schema is new
        // (surviving logical names carry their ids in mappedOverwrite
        // below); mergeSchema append: same definition of "new". Nested
        // new columns mint inner (id, physicalName) pairs at every
        // level from the same allocator.
        mintColumnIds(aligned.schema.fields.filterNot(f =>
          s.schema.fieldNames.exists(_.equalsIgnoreCase(f.name))).toSeq, mintCtx.get)
      case _ => Nil
    }
    // The full-overwrite metaData schema on a mapped table: incoming
    // fields in incoming order, surviving logical names carrying the
    // current (id, physicalName) metadata — their physical binding is
    // identity across the overwrite, inner fields reconciled
    // recursively (surviving inner names keep bindings, new inner
    // fields mint) — and new fields carrying their minted pair.
    // Non-mapping metadata follows the incoming frame (overwrite is
    // the redefinition surface, same as unmapped).
    val mappedOverwrite: Option[org.apache.spark.sql.types.StructType] =
      existing.filter(s => s.colMap.nonEmpty && mode == Mode.Overwrite).map { s =>
        org.apache.spark.sql.types.StructType(aligned.schema.fields.map { f =>
          s.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(tf) => reconcileMappedField(f, tf, mintCtx.get)
            case None => minted.find(_.name == f.name).map(_.field)
              .getOrElse(throw new IllegalStateException(
                s"overwrite at $path: no minted id for new column '${f.name}'"))
          }
        })
      }
    // ids minted THIS write, top-level and inner (a nested overwrite
    // can mint inner ids with `minted` empty): the metaData's
    // maxColumnId bump and the CAS race check both need the range
    val mintedIdMin: Option[Long] = mintCtx.filter(_.didMint).map(_.minMinted)
    val newMaxColumnId: Option[Long] = mintCtx.filter(_.didMint).map(_.hw)

    // Column mapping: the PARQUET (and its partition dirs) must carry
    // PHYSICAL names — rename at the last moment, after every
    // logical-name check above; footer-derived add.stats then key by
    // physical name too, exactly what the mapped read's skipping and
    // delta-spark expect. partitionValuesOf below decodes the physical
    // dir segments, landing physical keys in add.partitionValues.
    val (physDf, physParts) = existing.filter(_.colMap.nonEmpty) match {
      case Some(s) =>
        val idMode = isIdMode(s.configuration)
        mappedOverwrite match {
          case Some(os) =>
            // overwrite: the NEW schema's mapping governs — surviving
            // names keep their physical binding, new ones the minted;
            // os fields carry (id, physicalName) for BOTH, so the id
            // stamp rides the same metadata
            val byName = os.fields.map(f => f.name -> f).toMap
            (aligned.select(aligned.schema.fieldNames.map { n =>
              val f = byName(n)
              physAliasCol(idMode, f,
                f.metadata.getString("delta.columnMapping.physicalName"))
            }: _*),
              parts.map(p => byName.get(p)
                .orElse(byName.collectFirst {
                  case (k, f) if k.equalsIgnoreCase(p) => f })
                .map(_.metadata.getString("delta.columnMapping.physicalName"))
                .getOrElse(p)))
          case None =>
            if (minted.isEmpty) toPhysical(s, aligned)
            else {
              val ext = s.colMap ++ minted.map(m => m.name -> m.phys)
              // minted fields are fully annotated (inner metadata
              // included), so the nested physicalize cast and the
              // id-mode footer stamp both ride the same field
              val mintedF = minted.map(m => m.name -> m.field).toMap
              (aligned.select(aligned.schema.fields.map { af =>
                val f = s.schema.fields.find(_.name == af.name)
                  .orElse(mintedF.get(af.name)).getOrElse(af)
                physAliasCol(idMode, f, ext.getOrElse(af.name, af.name))
              }: _*),
                s.partitionColumns.map(p => s.colMap.getOrElse(p, p)))
            }
        }
      case None => (aligned, parts)
    }

    // the distributed data job runs ONCE; CAS losers re-commit the
    // same files at a later version
    val newFiles = withStats(spark, fs, rootP,
      writeDataFiles(spark, physDf, rootP, fs, physParts,
        shredOk = existing.exists(shredOptIn)))

    fs.mkdirs(new Path(rootP, "_delta_log")) // casPublish stages its tmp inside the log dir
    var snap = existing
    // losing a race never re-runs the data job: every attempt commits
    // the same staged files, which the driver reclaims only if the call
    // ends without a win
    Txn.run(fs, s"Delta commit at $path",
        staged = newFiles.map(f => new Path(rootP, f.relPath))) { attempt =>
      if (attempt > 1) {
        // lost the race: adopt the winner's snapshot, re-check layout
        // compatibility (the winner may have re-partitioned or evolved
        // the schema under us), recompute removes, retry
        snap = Some(DeltaRead.snapshot(spark, rootP.toString))
        // a RACING identity allocation moved the high-water mark under
        // us: the staged values may collide with the winner's — abort
        // loudly (the caller re-runs; delta-spark aborts the txn too)
        if (identityHw.nonEmpty) {
          val fresh = identitiesOf(snap.get).map(i => i.name -> i.highWater).toMap
          identities.foreach { old =>
            if (fresh.get(old.name).exists(_ != old.highWater))
              throw new IllegalStateException(
                s"identity allocation at $path conflicts: a concurrent writer moved " +
                  s"'${old.name}''s high-water mark — re-run the append")
          }
        }
      }
      // the winner may have been this sink's own TWIN committing the
      // same micro-batch — its txn mark now covers this batch, so the
      // staged files are garbage: bow out (the driver reclaims them)
      replayed(snap) match {
        case Some(v) => Txn.Done(v)
        case None =>
          if (attempt > 1) snap.foreach { s =>
            // a mapped OVERWRITE that minted ids cannot tolerate a winner
            // who minted past them: the staged parquet and the prepared
            // metaData carry THIS attempt's ids — re-committing would
            // reuse the winner's (delta-spark aborts this conflict too)
            if (mode == Mode.Overwrite && mintedIdMin.nonEmpty)
              require(mappingIdHighWater(s) < mintedIdMin.get,
                s"concurrent writer evolved the column-mapped Delta table $path " +
                  "mid-commit (column ids were minted past this overwrite's) — " +
                  "re-run the write")
            if (mode != Mode.Overwrite) {
              require(s.partitionColumns.map(_.toLowerCase) == parts.map(_.toLowerCase),
                s"concurrent writer re-partitioned Delta table $path to " +
                  s"(${s.partitionColumns.mkString(", ")}) mid-commit — this " +
                  s"${mode.toString.toLowerCase} wrote (${parts.mkString(", ")}) layout; " +
                  "re-run the write")
              if (!mergeSchema)
                require(s.schema.fieldNames.map(_.toLowerCase).sorted.sameElements(
                          aligned.schema.fieldNames.map(_.toLowerCase).sorted),
                  s"concurrent writer changed the schema of Delta table $path mid-commit — " +
                    "re-run the write against the new schema")
              else {
                // a MAPPED evolving append cannot tolerate a concurrent
                // mint: the staged parquet already carries THIS attempt's
                // physical names, and a winner who claimed the same ids
                // (or the same logical columns under different physical
                // names) would orphan them — abort loudly, never re-mint
                if (mintedIdMin.nonEmpty) {
                  require(mappingIdHighWater(s) < mintedIdMin.get,
                    s"concurrent writer evolved the column-mapped Delta table $path " +
                      "mid-commit (column ids were minted past this append's) — " +
                      "re-run the write")
                }
                // an evolving append tolerates concurrent evolution — the
                // retry's metaData re-unions against the winner's schema —
                // but a TYPE conflict on any shared column is fatal
                s.schema.fields.foreach { t =>
                  aligned.schema.fields.find(_.name.equalsIgnoreCase(t.name)).foreach { d =>
                    require(t.dataType.catalogString == d.dataType.catalogString,
                      s"concurrent writer changed the type of column '${t.name}' of Delta " +
                        s"table $path mid-commit (${d.dataType.catalogString} staged vs " +
                        s"${t.dataType.catalogString} now) — re-run the write")
                  }
                }
              }
            }
          }
          val next = snap.map(_.version + 1).getOrElse(0L)
          val removes: Seq[String] = (mode, snap) match {
            case (Mode.Overwrite, Some(s)) => s.files.keys.toSeq.sorted
            case (Mode.DynamicOverwrite, Some(s)) =>
              // newFiles carry PHYSICAL pv keys (decoded from the written
              // dirs); the snapshot's are LOGICAL — compare physical
              val touched = newFiles.map(_.partitionValues).distinct.toSet
              def phys(pv: Map[String, String]): Map[String, String] =
                if (s.colMap.isEmpty) pv
                else pv.map { case (k, v) => s.colMap.getOrElse(k, k) -> v }
              s.files.collect { case (p, pv) if touched.contains(phys(pv)) => p }
                .toSeq.sorted
            case _ => Nil
          }
          publishCommit(spark, rootP, snap,
            commitContent(aligned, mode, parts, snap, newFiles, removes, next,
              txn, mergeSchema, minted, identityHw, mappedOverwrite, newMaxColumnId),
            snap.map(_.configuration).getOrElse(Map.empty))
      }
    }
  }

  private final case class NewFile(
      relPath: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      stats: String = null)

  /** Delta `add.stats` JSON (numRecords / minValues / maxValues /
    * nullCount) from the parquet FOOTERS of the just-renamed files —
    * the same footer pass [[graft.pipeline.FileStats]] uses for
    * manifest sidecars, serialized in the form delta-spark's
    * data-skipping reader consumes. Per-file best effort: a column
    * without usable footer stats is simply absent from min/max (legal
    * — stats are always partial per the protocol), non-finite doubles
    * are skipped (they have no JSON literal), and a footer read
    * failure leaves that file statless rather than failing the commit.
    * Distributed above the same 64-file threshold as the sidecar
    * writer — a 100k-file commit must not serialize 100k object-store
    * footer reads on the driver. Files that already carry stats (task
    * 0's, read by [[writeDataFiles]]'s zero-row guard) are not re-read.
    */
  private def withStats(spark: SparkSession, fs: FileSystem, rootP: Path,
                        written: Seq[NewFile]): Seq[NewFile] = {
    val (known, files) = written.partition(_.stats != null)
    known ++ (try {
      import graft.pipeline.FileStats
      val uris = files.map(f => fs.makeQualified(new Path(rootP, f.relPath)).toString)
      val stats: Seq[Option[FileStats.FileStat]] =
        if (files.length <= 64)
          uris.map(u => try Some(FileStats.readFooterStats(u,
            new org.apache.hadoop.conf.Configuration(
              spark.sparkContext.hadoopConfiguration))) catch {
            case scala.util.control.NonFatal(_) => None
          })
        else {
          // the SESSION's hadoop conf (object-store credentials,
          // endpoints) must reach the executors — a default
          // Configuration() would silently lose every add.stats
          // exactly on the large commits this branch exists for.
          // Configuration isn't serializable (and Spark's own wrapper
          // is private[spark]): ship the entry list, rebuild per
          // partition on top of the defaults.
          val confEntries: Array[(String, String)] = {
            val it = spark.sparkContext.hadoopConfiguration.iterator()
            val b = Array.newBuilder[(String, String)]
            while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
            b.result()
          }
          spark.sparkContext.parallelize(uris, math.min(files.length, 256))
            .mapPartitions { it =>
              val conf = new org.apache.hadoop.conf.Configuration()
              confEntries.foreach { case (k, v) => conf.set(k, v) }
              it.map(u => try Some(FileStats.readFooterStats(u, conf)) catch {
                case scala.util.control.NonFatal(_) => None
              })
            }.collect().toSeq
        }
      files.zip(stats).map {
        case (f, Some(st)) => f.copy(stats = statsJson(st))
        case (f, None)     => f
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARNING: could not derive add.stats for the " +
          s"delta commit at $rootP (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
          "files commit without stats; delta-native data skipping will scan them")
        files
    })
  }

  private def statsJson(st: graft.pipeline.FileStats.FileStat): String = {
    val node = mapper.createObjectNode
    node.put("numRecords", st.rows)
    val mins = node.putObject("minValues")
    val maxs = node.putObject("maxValues")
    st.cols.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      (cs.min, cs.max) match {
        case (lo: Long, hi: Long)     => mins.put(name, lo); maxs.put(name, hi)
        case (lo: Double, hi: Double) =>
          if (!lo.isNaN && !lo.isInfinite && !hi.isNaN && !hi.isInfinite) {
            mins.put(name, lo); maxs.put(name, hi)
          }
        case (lo: String, hi: String) => mins.put(name, lo); maxs.put(name, hi)
        case _ => ()
      }
    }
    val nulls = node.putObject("nullCount")
    st.nulls.toSeq.sortBy(_._1).foreach { case (name, n) => nulls.put(name, n) }
    mapper.writeValueAsString(node)
  }

  /** Does this table OPT IN to shredded variant layouts
    * (`delta.enableVariantShredding=true` + the
    * variantShredding-preview reader feature, both set by
    * [[setProperties]])? Gated on BOTH so a bare property without the
    * protocol feature can never produce files other readers refuse.
    */
  private def shredOptIn(snap: DeltaRead.Snapshot): Boolean =
    snap.configuration.get("delta.enableVariantShredding")
      .exists(_.equalsIgnoreCase("true")) &&
      snap.minReader >= 3 &&
      snap.readerFeatures.contains("variantShredding-preview")

  /** Distributed parquet write into a hidden staging dir under the
    * table root, then per-file rename into place (same-FS move =
    * metadata op). File names come from Spark's writer
    * (part-NNNNN-&lt;job-uuid&gt;…) so they never collide with live files.
    *
    * FILE SIZING: the frame's partitioning sets the file count, which
    * suits appends, overwrites and copy-on-write rewrites (whole files
    * in, whole files out, or the caller's own partitioning). The
    * deletion-vector DMLs pass `rebalance`: their writes hold only the
    * rows they changed — a DELETE's change data, an UPDATE's new images
    * and change data, a DV MERGE's source rows and change data — but
    * inherit the partitioning of the touched-file scan or of a union of
    * change branches, one near-empty file per partition and branch.
    * AQE's rebalance (`RebalancePartitions`, keyed by the physical
    * partition columns `parts` on a partitioned table) sizes them
    * instead: the file count follows
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — one file for a
    * small change set (one per partition value touched), skew-split
    * files for a large one. The cost is one shuffle-map job, over the
    * changed rows only (the DV paths never rewrite unchanged ones).
    *
    * ZERO-ROW GUARD: Spark's writer opens a file for task 0 even when
    * that partition holds no rows (every other task opens one at its
    * first row), so a write whose first partition is empty — an append
    * of a filtered frame, copy-on-write change data whose first touched
    * file matches nothing — would commit a zero-row file. On an
    * unpartitioned write that produced other files, task 0's file
    * (`part-00000-*`) has its footer read: with zero rows it is deleted
    * and left out, else its stats ride on the returned file so
    * [[withStats]] does not read the footer again. A lone file is kept
    * (an empty write still commits its schema-bearing file). A
    * partitioned write opens files only at a row, so it never needs
    * the guard.
    */
  private def writeDataFiles(spark: SparkSession, df: DataFrame, rootP: Path,
                             fs: FileSystem, parts: Seq[String],
                             subdir: String = "",
                             shredOk: Boolean = false,
                             rebalance: Boolean = false): Seq[NewFile] = {
    val staging = new Path(rootP,
      ".graft-delta-staging-" + java.util.UUID.randomUUID.toString.take(12))
    // id-mode frames carry parquet.field.id metadata that MUST reach
    // the footers — force the emitter on for exactly this write and
    // restore the session's prior setting after (a permanent global
    // flip would change unrelated writes for a user who disabled it)
    val FieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    def carriesFieldIds(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => f.metadata.contains("parquet.field.id") ||
          carriesFieldIds(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => carriesFieldIds(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        carriesFieldIds(m.keyType) || carriesFieldIds(m.valueType)
      case _ => false
    }
    val needIds = carriesFieldIds(df.schema)
    val priorFieldId = if (needIds) spark.conf.getOption(FieldIdKey) else None
    // variant columns write UNSHREDDED (Spark 4 shreds by default):
    // the delta variantType feature licenses exactly the
    // struct<metadata, value> physical layout — a shredded file needs
    // the separate variantShredding feature, which this writer never
    // declares, so shredding here would commit files other readers
    // refuse or misread. Same set/restore discipline as the field-id
    // flag above.
    val ShredKey = "spark.sql.variant.writeShredding.enabled"
    val hasVariant = !shredOk && typeFeatures(df.schema).contains("variantType")
    val priorShred = if (hasVariant) spark.conf.getOption(ShredKey) else None
    try {
      // restore in finally so a failed write can't leak the flipped
      // flag into the session. The set/restore window is still visible
      // to concurrent writers in OTHER threads of this session (session
      // confs are shared); for them the flag being transiently true is
      // harmless — parquet emitters ignore field ids the frame doesn't
      // carry — but a concurrent writer that set it FALSE on purpose
      // should use its own session.
      if (needIds) spark.conf.set(FieldIdKey, "true")
      if (hasVariant) spark.conf.set(ShredKey, "false")
      try {
        val w = (if (rebalance) df.hint("rebalance", parts.map(p => col(s"`$p`")): _*)
          else df).write.mode("overwrite")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(staging.toString)
      } finally {
        if (needIds) priorFieldId match {
          case Some(v) => spark.conf.set(FieldIdKey, v)
          case None => spark.conf.unset(FieldIdKey)
        }
        if (hasVariant) priorShred match {
          case Some(v) => spark.conf.set(ShredKey, v)
          case None => spark.conf.unset(ShredKey)
        }
      }
      val found = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) { if (!n.startsWith(".") && !n.startsWith("_")) walk(st.getPath) }
        else if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
          found += st
      }
      walk(staging)
      val taskZero: Option[(FileStatus, graft.pipeline.FileStats.FileStat)] =
        if (parts.nonEmpty || found.length < 2) None
        else found.find(_.getPath.getName.startsWith("part-00000-")).flatMap { st =>
          try Some(st -> graft.pipeline.FileStats.readFooterStats(
            fs.makeQualified(st.getPath).toString, spark.sparkContext.hadoopConfiguration))
          catch { case scala.util.control.NonFatal(_) => None }
        }
      val kept = taskZero match {
        case Some((st, fst)) if fst.rows == 0L && fs.delete(st.getPath, false) =>
          found.filterNot(_ eq st)
        case _ => found
      }
      kept.toSeq.sortBy(_.getPath.toString).map { st =>
        val rel = relativize(staging, st.getPath)
        // `subdir` relocates the output under a hidden table subtree
        // (cdc files live under _change_data/ per the protocol) while
        // partition dirs stay derived from the staging layout
        val destRel = if (subdir.isEmpty) rel else subdir + "/" + rel
        val dest = new Path(rootP, destRel)
        if (destRel.contains("/")) fs.mkdirs(dest.getParent)
        require(fs.rename(st.getPath, dest),
          s"staging move ${st.getPath} -> $dest failed; no commit was written")
        NewFile(destRel, partitionValuesOf(rel, parts), st.getLen, st.getModificationTime,
          taskZero.collect { case (z, fst) if z eq st => statsJson(fst) }.orNull)
      }
    } finally fs.delete(staging, true)
  }

  // ----- change data feed ----------------------------------------------

  private[sources] def cdfEnabled(snap: DeltaRead.Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /** Write CHANGE rows into `_change_data/` (the protocol's cdc-file
    * home): `changes` carries the table's columns plus `_change_type`
    * (insert / delete / update_preimage / update_postimage), is
    * renamed physical under column mapping here, and lands partitioned
    * like the table so each cdc action carries its partitionValues.
    * `rebalance`: a deletion-vector DML's change rows, sized as
    * [[writeDataFiles]] describes.
    */
  private def writeCdcFiles(spark: SparkSession, snap: DeltaRead.Snapshot,
                            changes: DataFrame, rootP: Path,
                            fs: FileSystem, rebalance: Boolean = false): Seq[NewFile] = {
    val phys =
      if (snap.colMap.isEmpty) changes
      else {
        val idMode = isIdMode(snap.configuration)
        val extras = Seq(col("_change_type")) ++
          (if (changes.columns.contains(DeltaRead.CdcRowIdCol))
            Seq(col(DeltaRead.CdcRowIdCol)) else Nil)
        changes.select(snap.schema.fields.map(f =>
          physAliasCol(idMode, f, snap.colMap(f.name))) ++ extras: _*)
      }
    val physParts = snap.partitionColumns.map(p => snap.colMap.getOrElse(p, p))
    writeDataFiles(spark, phys, rootP, fs, physParts, subdir = "_change_data",
      shredOk = shredOptIn(snap), rebalance = rebalance)
  }

  /** A `cdc` action line: `dataChange=false` per the protocol (cdc
    * files describe changes; they are not table data and never replay
    * into the snapshot).
    */
  private def cdcLine(f: NewFile, now: Long): String = {
    val c = mapper.createObjectNode
    val cb = c.putObject("cdc")
    cb.put("path", encodePath(f.relPath))
    val pv = cb.putObject("partitionValues")
    f.partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v)
    }
    cb.put("size", f.size)
    cb.put("dataChange", false)
    mapper.writeValueAsString(c)
  }

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/") + "/"
    val s = p.toUri.getPath
    require(s.startsWith(b), s"$p is not under $base")
    s.substring(b.length)
  }

  /** Partition values from the hive-style dir segments Spark's writer
    * produced (`col=escaped/`): unescape to the RAW value for the
    * `partitionValues` map; `__HIVE_DEFAULT_PARTITION__` = null.
    */
  private def partitionValuesOf(rel: String, parts: Seq[String]): Map[String, String] = {
    if (parts.isEmpty) return Map.empty
    val dirs = rel.split('/').dropRight(1)
    require(dirs.length == parts.length,
      s"staged file '$rel' has ${dirs.length} partition dirs, expected " +
        s"${parts.length} (${parts.mkString(", ")})")
    dirs.map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"staged dir '$seg' is not a col=value partition segment")
      val k = ExternalCatalogUtils.unescapePathName(seg.substring(0, i))
      val v = seg.substring(i + 1)
      k -> (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else ExternalCatalogUtils.unescapePathName(v))
    }.toMap
  }

  /** RFC-2396 percent-encode a RELATIVE path for `add.path` /
    * `remove.path` — the exact inverse of [[DeltaRead.decodePath]]'s
    * `new URI(p).getPath`. '%' itself is encoded (the on-disk name may
    * contain hive escapes), '/' and URI pchars pass through.
    */
  private[graft] def encodePath(rel: String): String = {
    val keep = "-_.~!$&'()*+,;=:@/"
    rel.flatMap { c =>
      if ((c.isLetterOrDigit && c < 128) || keep.indexOf(c.toInt) >= 0) c.toString
      else c.toString.getBytes("UTF-8").map(b => f"%%${b & 0xff}%02X").mkString
    }
  }

  private def commitContent(df: DataFrame, mode: Mode.Value, parts: Seq[String],
                            snap: Option[DeltaRead.Snapshot], adds: Seq[NewFile],
                            removes: Seq[String], version: Long,
                            txn: Option[(String, Long)] = None,
                            mergeSchema: Boolean = false,
                            minted: Seq[Minted] = Nil,
                            identityHw: Map[String, Long] = Map.empty,
                            mappedOverwrite: Option[org.apache.spark.sql.types.StructType]
                              = None,
                            newMaxColumnId: Option[Long] = None): String = {
    val now = System.currentTimeMillis
    val lines = Seq.newBuilder[String]
    lines += commitInfoLine(now, if (mode == Mode.Append) "WRITE" else "OVERWRITE",
      "mode" -> (if (mode == Mode.Append) "Append" else "Overwrite"))

    txn.foreach { case (appId, ver) =>
      val tx = mapper.createObjectNode
      val txb = tx.putObject("txn")
      txb.put("appId", appId)
      txb.put("version", ver)
      txb.put("lastUpdated", now)
      lines += mapper.writeValueAsString(tx)
    }

    if (version == 0L) {
      val tf = typeFeatures(df.schema)
      // variant / timestampNtz columns gate the table behind
      // reader+writer features — a (1,2) protocol would let
      // feature-unaware readers misparse the encoded values, so the
      // table is CREATED straight in the features form
      // (delta-spark's CREATE TABLE posture)
      lines += (if (tf.isEmpty) protocolLine(1, 2)
        else protocolLine(3, 7, Some(tf), Some(tf ++ impliedWriterFeatures(2))))
    }

    // metaData at v0, on overwrites that change schema or layout, and
    // on mergeSchema appends that actually widened the schema —
    // CARRYING the table id (a fresh id would read as a different
    // table to other Delta clients). The evolved schema is the UNION
    // of the CURRENT snapshot's (re-read per CAS attempt — a racing
    // evolver's additions survive) and this write's extra columns,
    // forced nullable (existing files read them as null by name).
    val schemaJson0 = snap match {
      case Some(s) if mode != Mode.Overwrite && mergeSchema =>
        val extras = df.schema.fields
          .filterNot(f => s.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(_.copy(nullable = true))
          .map { f =>
            // mapped-table evolution: the new field's metaData carries
            // its minted (id, physicalName) at every level — the
            // protocol's shape, what buildColMap and delta-spark
            // resolve against
            minted.find(_.name == f.name) match {
              case Some(m) => m.field.copy(nullable = true)
              case None => f
            }
          }
        org.apache.spark.sql.types.StructType(s.schema.fields ++ extras).json
      // mapped-table FULL overwrite: the redefinition schema carries
      // surviving (id, physicalName) pairs and the minted ones — built
      // in write(), where the current mapping is in scope
      case _ => mappedOverwrite.map(_.json).getOrElse(df.schema.json)
    }
    // identity allocation bumps the columns' high-water marks in the
    // SAME commit's metaData (the protocol's contract: a crash between
    // data and metaData could otherwise re-issue the allocated values).
    // The schema of record for an identity append is the TABLE schema
    // (it carries the identity field metadata the incoming frame lacks).
    val schemaJson =
      if (identityHw.isEmpty) schemaJson0
      else {
        import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructType}
        val base = snap match {
          case Some(s) if mode != Mode.Overwrite && !mergeSchema => s.schema.json
          case _ => schemaJson0
        }
        StructType(DataType.fromJson(base).asInstanceOf[StructType].fields.map { f =>
          identityHw.get(f.name) match {
            case Some(hw) => f.copy(metadata = new MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong("delta.identity.highWaterMark", hw).build())
            case None => f
          }
        }).json
      }
    val needMeta = identityHw.nonEmpty || (snap match {
      case None => true
      case Some(s) =>
        (mode == Mode.Overwrite &&
          (s.schema.json != schemaJson ||
            s.partitionColumns.map(_.toLowerCase) != parts.map(_.toLowerCase))) ||
        (mergeSchema && s.schema.json != schemaJson)
      })
    if (needMeta) {
      // CARRY the table configuration — a re-emitted metaData REPLACES
      // the old one, and dropping e.g. delta.appendOnly=true here would
      // silently disable an enforcement other writers rely on. A
      // mapped-table evolution bumps maxColumnId to the newest minted
      // id in the same action (the protocol's monotonic high-water).
      val confOut = snap.map(_.configuration).getOrElse(Map.empty) ++
        newMaxColumnId.map(m => "delta.columnMapping.maxColumnId" -> m.toString)
      lines += metaDataLine(snap.map(_.metaId).orNull, schemaJson, parts, confOut, now)
      // a schema change EVOLVING IN a variant / timestampNtz column
      // (mergeSchema append, full overwrite redefinition) upgrades the
      // protocol in the SAME commit — committing the new schema under
      // the old protocol would hand feature-unaware readers a type
      // they silently misparse. Plain appends never reach here
      // (needMeta false), so legacy tables aren't churned.
      snap.filter(_ => version > 0L).foreach { s =>
        import org.apache.spark.sql.types.{DataType, StructType}
        val tf = typeFeatures(DataType.fromJson(schemaJson).asInstanceOf[StructType])
        protocolUpgradeForTypes(s, tf).foreach(lines += _)
      }
    }

    lines ++= fileActions(now, removes, snap.map(_.dvs).getOrElse(Map.empty), adds,
      dataChange = true)
    commitLines(lines.result())
  }

  // ----- maintenance: OPTIMIZE + VACUUM -------------------------------

  /** OPTIMIZE-style compaction: rewrite the current snapshot into
    * `targetFiles` files (one per live partition tuple on partitioned
    * tables) and commit the swap with `dataChange=false` on every
    * add/remove — the protocol's "no new rows" marker, so streaming
    * sources (ours and delta-spark's) do NOT re-stream the rewritten
    * rows and a mid-stream compaction is invisible. Old files stay on
    * disk for time travel until [[vacuum]]. No-op (returns the current
    * version) when the table already has <= targetFiles files.
    *
    * Concurrency: the data job runs once; the commit retries through
    * the CAS loop like every write, BUT a competitor that removed or
    * replaced any file this compaction folded makes the rewrite stale
    * (committing it would resurrect dead rows) — that aborts loudly
    * with the staged files unreferenced, delta-spark OPTIMIZE's
    * conflict posture. A competitor that only APPENDED is compatible:
    * its files simply carry into the new snapshot untouched.
    */
  /** SET/UNSET TBLPROPERTIES: one metaData-only commit replacing the
    * table configuration with `current ++ set -- unset` (schema, id,
    * partitioning, and files all carry). Enabling
    * `delta.enableChangeDataFeed` upgrades the protocol in the same
    * commit when needed — minWriterVersion ≥ 4 legacy, or the explicit
    * `changeDataFeed` writer feature on v7 tables — because a CDF flag
    * the protocol doesn't back is invisible to delta-spark's gates.
    * Setting a property whose contract this writer cannot enforce
    * still lands (the enforcement gate runs per-WRITE, where it can
    * refuse the specific operation). Returns the committed version
    * (unchanged when the configuration already matches).
    */
  def setProperties(spark: SparkSession, path: String,
                    set: Map[String, String],
                    unset: Seq[String] = Nil): Long = {
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new Path(rootP, "_delta_log")
    Txn.run(fs, s"SET TBLPROPERTIES at $path") { _ =>
      val snap = DeltaRead.snapshot(spark, rootP.toString)
      requireWritable(snap, path, removesData = false)
      val next = snap.version + 1
      // ICT ENABLEMENT (writer feature `inCommitTimestamp`): the
      // enabling commit itself must carry a stamped commitInfo, and a
      // table enabled after creation records the enablement provenance
      // the protocol's timestamp time travel reads (which version the
      // ICT clock starts at, and its first value). The stamp is fixed
      // once per attempt so the provenance value IS the commit's stamp.
      val enablingIct = set.get("delta.enableInCommitTimestamps")
        .exists(_.equalsIgnoreCase("true")) && !ictEnabled(snap.configuration)
      val ict = if (enablingIct || ictEnabled(snap.configuration))
        Some(nextIct(fs, logP, next)) else None
      val provenance = if (!enablingIct) Map.empty[String, String] else Map(
        "delta.inCommitTimestampEnablementVersion" -> next.toString,
        "delta.inCommitTimestampEnablementTimestamp" -> ict.get.toString)
      val newConf = (snap.configuration ++ set ++ provenance) -- unset
      if (newConf == snap.configuration) Txn.Done(snap.version)
      else {
        val now = System.currentTimeMillis
        val lines = Seq.newBuilder[String]
        lines += commitInfoLine(now, "SET TBLPROPERTIES", "properties" ->
          mapper.writeValueAsString(mapper.valueToTree(newConf): com.fasterxml.jackson.databind.JsonNode))
        // property-gated features need the protocol to carry them:
        // enabling CDF → changeDataFeed (legacy minWriter 4), adding a
        // delta.constraints.* key → checkConstraints (legacy minWriter 3),
        // enabling ICT → inCommitTimestamp (table-features only: 7)
        // ROW TRACKING enablement (delta.enableRowTracking = true): the
        // protocol gains rowTracking + domainMetadata (the hwm domain
        // lives there), and every live file that carries no baseRowId is
        // BACKFILLED — re-added dataChange=false in this same commit so
        // [[stampRowTracking]] assigns it a fresh range (delta-spark's
        // ALTER TABLE enablement runs the same backfill). Zero data I/O:
        // the re-adds are log actions over the existing files.
        val enablingRowTracking = set.get("delta.enableRowTracking")
          .exists(_.equalsIgnoreCase("true")) &&
          !(snap.minWriter >= 7 && snap.writerFeatures.contains("rowTracking"))
        val needs = Seq(
          "changeDataFeed" -> (4, set.get("delta.enableChangeDataFeed")
            .exists(_.equalsIgnoreCase("true"))),
          "checkConstraints" -> (3, set.keys.exists(_.startsWith("delta.constraints."))),
          "inCommitTimestamp" -> (7, enablingIct),
          "rowTracking" -> (7, enablingRowTracking),
          "domainMetadata" -> (7, enablingRowTracking &&
            !(snap.minWriter >= 7 && snap.writerFeatures.contains("domainMetadata"))))
          .collect { case (f, (lv, true)) => f -> lv }
        // `delta.checkpointPolicy = v2` requires the v2Checkpoint READER
        // feature (spec: the policy is illegal without it) — upgrade to
        // the table-features protocol in the same commit, folding any
        // writer features this call also needs into the one protocol
        // action (two protocol lines would clobber each other)
        val needV2Ckpt = set.get("delta.checkpointPolicy").contains("v2") &&
          !(snap.minReader >= 3 && snap.readerFeatures.contains("v2Checkpoint"))
        // VARIANT SHREDDING opt-in (`delta.enableVariantShredding=true`,
        // delta-spark's preview property): future variant writes keep
        // Spark's shredded layout ([[writeDataFiles]] stops pinning it
        // off), which the variantShredding-preview READER feature gates —
        // and shredded files are still variant files, so the base
        // variantType feature rides along when missing.
        val needVarShred = set.get("delta.enableVariantShredding")
          .exists(_.equalsIgnoreCase("true")) &&
          !(snap.minReader >= 3 &&
            snap.readerFeatures.contains("variantShredding-preview"))
        val readerNeeds =
          (if (needV2Ckpt) Seq("v2Checkpoint") else Nil) ++
          (if (needVarShred)
            Seq("variantShredding-preview") ++
              (if (snap.minReader >= 3 && snap.readerFeatures.contains("variantType")) Nil
               else Seq("variantType"))
           else Nil)
        if (readerNeeds.nonEmpty) {
          protocolUpgradeToAll(snap, readerNeeds, needs.map(_._1)).foreach(lines += _)
        } else if (needs.nonEmpty) {
          if (snap.minWriter >= 7) {
            val missing = needs.map(_._1).filterNot(snap.writerFeatures.contains)
            if (missing.nonEmpty) lines += withWriterFeatures(snap, missing)
          } else {
            val target = needs.map(_._2).max
            // a v7-only feature (inCommitTimestamp) on a legacy table:
            // minWriter 7 REQUIRES the writerFeatures list, so expand
            // the legacy versions to their implied names and add the
            // needed features — reader version stays untouched
            if (target >= 7) lines += withWriterFeatures(snap, needs.map(_._1))
            else if (snap.minWriter < target) lines += protocolLine(snap.minReader, target)
          }
        }
        lines += metaDataLine(snap.metaId, snap.schema.json, snap.partitionColumns, newConf, now)
        // row-tracking backfill: re-add every live file lacking ids
        // (dataChange=false; pv keys go back to PHYSICAL under mapping) —
        // the publish step's stampRowTracking assigns the ranges and the
        // hwm domain
        if (enablingRowTracking)
          lines ++= snap.files.keys.toSeq.sorted.filterNot(snap.rowIds.contains).map(rel =>
            addLive(snap, rel, now, dataChange = false, snap.dvs.get(rel)))
        publishCommit(spark, rootP, Some(snap), commitLines(lines.result()), newConf, ict = ict)
      }
    }
  }

  /** Set (or update) one metadata DOMAIN (writer feature
    * `domainMetadata` — the protocol's per-domain key/value channel;
    * delta-spark keeps e.g. clustering state there). One metadata-only
    * commit carrying the `domainMetadata` action; the first set on a
    * legacy table upgrades the protocol to the v7 features form with
    * the feature listed (reader version untouched — it is writer-only).
    * Replay is last-action-wins per domain, so an update is just
    * another set. `configuration` is an opaque string (delta-spark
    * stores JSON); `delta.`-prefixed domains are system-controlled per
    * the spec — setting one you don't control is on the caller.
    */
  def setDomainMetadata(spark: SparkSession, path: String, domain: String,
                        configuration: String): Long =
    commitDomainAction(spark, path, domain, configuration, removed = false,
      "SET DOMAIN METADATA")

  /** Remove one metadata domain: commits a `removed=true` tombstone
    * (replay drops the domain; the next checkpoint folds the tombstone
    * away). A no-op returning the current version when the domain is
    * not live.
    */
  def removeDomainMetadata(spark: SparkSession, path: String, domain: String): Long =
    commitDomainAction(spark, path, domain, null, removed = true,
      "REMOVE DOMAIN METADATA")

  /** The table's liquid-clustering columns from the `delta.clustering`
    * domain (writer feature `clustering`): `clusteringColumns` is an
    * array of path-segment arrays, PHYSICAL names under column
    * mapping. Each path resolves against the snapshot schema (a
    * segment matches a field's logical name or its physicalName
    * metadata); only fully-resolved TOP-LEVEL columns are returned —
    * graft's Z-order kernel ranks top-level columns, so nested or
    * unresolvable entries are SKIPPED with a log line rather than
    * crashing OPTIMIZE on a domain this writer didn't mint.
    */
  private[sources] def clusteringColumnsOf(snap: DeltaRead.Snapshot): Seq[String] =
    snap.domains.get("delta.clustering").toSeq.flatMap { cfg =>
      try {
        import scala.jdk.CollectionConverters._
        val arr = mapper.readTree(cfg).path("clusteringColumns")
        if (!arr.isArray) Nil
        else {
          val physKey = "delta.columnMapping.physicalName"
          val paths = arr.elements().asScala
            .map(p => p.elements().asScala.map(_.asText()).toSeq)
            .filter(_.nonEmpty).toSeq
          val (usable, skipped) = paths.partition { segs =>
            segs.lengthCompare(1) == 0 && snap.schema.fields.exists(f =>
              f.name.equalsIgnoreCase(segs.head) ||
                (f.metadata.contains(physKey) &&
                  f.metadata.getString(physKey) == segs.head))
          }
          if (skipped.nonEmpty)
            org.slf4j.LoggerFactory.getLogger("graft.sources.DeltaWrite").info(
              s"delta.clustering names ${skipped.map(_.mkString("."))
                .mkString(", ")} — nested or not in the current schema; " +
                "OPTIMIZE clusters by the remaining columns")
          usable.map { segs =>
            snap.schema.fields.find(f =>
              f.name.equalsIgnoreCase(segs.head) ||
                (f.metadata.contains(physKey) &&
                  f.metadata.getString(physKey) == segs.head)).get.name
          }
        }
      } catch { case scala.util.control.NonFatal(_) => Nil }
    }

  private def commitDomainAction(spark: SparkSession, path: String, domain: String,
                                 configuration: String, removed: Boolean,
                                 operation: String): Long = {
    require(domain != null && domain.nonEmpty, "domain must be non-empty")
    val rootP = qualifiedRoot(spark, path)
    Txn.run(rootP.getFileSystem(spark.sparkContext.hadoopConfiguration),
        s"$operation at $path") { _ =>
      val snap = DeltaRead.snapshot(spark, rootP.toString)
      requireWritable(snap, path, removesData = false)
      if (removed && !snap.domains.contains(domain)) Txn.Done(snap.version)
      else {
        // first domain write on a table without the feature: upgrade to
        // the v7 features form carrying it (legacy writer versions
        // expand to their implied feature names, same as the ICT upgrade)
        val hasFeature = snap.minWriter >= 7 && snap.writerFeatures.contains("domainMetadata")
        publishCommit(spark, rootP, Some(snap), commitLines(
          Seq(commitInfoLine(System.currentTimeMillis, operation, "domain" -> domain)) ++
            (if (hasFeature) None else Some(withWriterFeatures(snap, Seq("domainMetadata")))) ++
            Seq(domainLine(domain, Option(configuration).getOrElse(""), removed))),
          snap.configuration)
      }
    }
  }

  /** OPTIMIZE-style rewrite. `zorderBy` turns it into OPTIMIZE ZORDER
    * (delta-spark's `OPTIMIZE … ZORDER BY` shape): the snapshot is
    * rewritten as `zorderFiles` Morton-clustered files
    * ([[graft.operators.ZOrder.cluster]]) so parquet min/max stats
    * prune scans on ANY clustered column; still one dataChange=false
    * commit, and a ZORDER rewrite never early-returns — re-clustering
    * an already-small table is the point. Clustering happens on the
    * LOGICAL frame, so zorderBy names user columns even on
    * column-mapped tables (the physical rename follows).
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8,
              zorderBy: Seq[String] = Nil, zorderFiles: Int = 8,
              clusterSmallFileBytes: Long = 32L * 1024 * 1024): Long = {
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    require(zorderFiles >= 1, s"zorderFiles must be >= 1: $zorderFiles")
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var snap = DeltaRead.snapshot(spark, rootP.toString)
    // dataChange=false repackaging — permitted on append-only tables;
    // column-mapped tables rewrite through toPhysical (logical scan,
    // physical-named output)
    requireWritable(snap, path, removesData = false)

    if (snap.files.isEmpty) return snap.version // nothing to rewrite
    // OPTIMIZE on a liquid-clustered table honors the table's OWN
    // clustering columns when the caller names none (delta-spark's
    // OPTIMIZE semantics on clustered tables)
    val effZorder = if (zorderBy.nonEmpty) zorderBy else clusteringColumnsOf(snap)
    if (snap.files.size <= targetFiles && effZorder.isEmpty) return snap.version
    // IDEMPOTENCE of the implicit clustered OPTIMIZE: its commit
    // records its own version in a graft marker domain; when nothing
    // has committed since, the periodic maintenance call is a no-op
    // instead of a full-table rewrite every cycle. An EXPLICIT
    // zorderBy always rewrites (the caller asked).
    val implicitClustering = zorderBy.isEmpty && effZorder.nonEmpty
    val canMark = snap.minWriter >= 7 && snap.writerFeatures.contains("domainMetadata")
    def clusteredAtOf(s: DeltaRead.Snapshot): Option[Long] =
      s.domains.get(ClusteredAtDomain).flatMap(v =>
        scala.util.Try(mapper.readTree(v).path("version").asLong).toOption)
    if (implicitClustering && clusteredAtOf(snap).contains(snap.version))
      return snap.version
    // INCREMENTAL implicit clustering (ADVICE r16): delta-spark's
    // clustered OPTIMIZE rewrites only files not yet clustered. The
    // marker records the last clustered-OPTIMIZE version m; every file
    // live at m IS clustered (that commit rewrote the whole table, or —
    // inductively — extended a clustered set), so only files added
    // SINCE m rewrite. A DV grown on a clustered file leaves its row
    // ranges intact — membership is by path. Falls back to the full
    // rewrite when the historical snapshot is gone (log cleaned) or no
    // marker exists; an EXPLICIT zorderBy always rewrites everything.
    val alreadyClustered: Set[String] =
      if (!implicitClustering) Set.empty
      else clusteredAtOf(snap).filter(_ < snap.version) match {
        case Some(m) =>
          try DeltaRead.snapshot(spark, rootP.toString, Some(m)).files.keySet
            .intersect(snap.files.keySet)
          catch { case scala.util.control.NonFatal(_) => Set.empty }
        case None => Set.empty
      }
    val newSinceMarker: Set[String] = snap.files.keySet -- alreadyClustered
    if (implicitClustering && newSinceMarker.isEmpty) {
      // nothing new since the marker (e.g. only DV deletes landed):
      // re-stamp nothing, just no-op — the marker stays at m
      return snap.version
    }
    // SMALL-FILE RE-SELECTION (self-review r17): pure path-membership
    // incrementality would let a periodic small-append + OPTIMIZE loop
    // grow the file count without bound (each cycle's tiny outputs are
    // "clustered" forever). When there IS new data to cluster, small
    // already-clustered files (< clusterSmallFileBytes; unknown sizes
    // stay put) re-fold with it — delta-spark's minFileSize
    // re-selection shape — so steady state stays ~zorderFiles files.
    // A no-new-data maintenance call still no-ops above.
    val smallClustered: Set[String] =
      if (!implicitClustering) Set.empty
      else alreadyClustered.filter { rel =>
        val sz = snap.sizes.getOrElse(rel, -1L)
        sz >= 0 && sz < clusterSmallFileBytes
      }
    val folded: Set[String] = newSinceMarker ++ smallClustered
    // the DV identity each folded file is rewritten AGAINST — a
    // concurrent DELETE growing a folded file's DV makes the staged
    // rewrite stale (committing it would resurrect the newly deleted
    // rows); checked on every CAS retry, purgeDvs' guard
    val origDv: Map[String, String] = folded.iterator.map(rel =>
      rel -> snap.dvs.get(rel).map(_.uniqueId).getOrElse("")).toMap
    val parts = snap.partitionColumns

    val subsetSnap =
      if (alreadyClustered.isEmpty) snap
      else snap.copy(files = snap.files.filter(kv => folded.contains(kv._1)))
    // ROW-ID MATERIALIZATION (round 17): when the table DECLARES a
    // materialized row-id column (delta-spark's stable-id contract —
    // `delta.rowTracking.materializedRowIdColumnName`), the rewrite
    // reads each folded row's CURRENT id and writes it into that
    // hidden parquet column, so OPTIMIZE preserves row ids instead of
    // assigning fresh ones. Tables without the declaration keep the
    // fresh-id behavior (documented divergence). The new adds still
    // get fresh baseRowId ranges (the protocol requires them); readers
    // coalesce(materialized, base + index) and see the original ids.
    val matName: Option[String] =
      if (snap.minWriter >= 7 && snap.writerFeatures.contains("rowTracking") &&
          subsetSnap.files.keySet.forall(snap.rowIds.contains))
        snap.configuration.get("delta.rowTracking.materializedRowIdColumnName")
          .filterNot(m => snap.schema.fieldNames.contains(m) ||
            snap.colMap.values.exists(_ == m))
      else None
    val src = matName match {
      case Some(m) =>
        DeltaRead.readSnapshotRowIds(spark, rootP.toString, subsetSnap, m)
      case None => DeltaRead.readSnapshot(spark, rootP.toString, subsetSnap)
    }
    val clustered =
      if (effZorder.nonEmpty)
        graft.operators.ZOrder.cluster(src, effZorder, zorderFiles, within = parts)
      else if (parts.isEmpty) src.repartition(targetFiles)
      else src.repartition(math.max(targetFiles, 1), parts.map(col): _*)
    val (physDf, physParts) = toPhysical(snap, clustered, matName.toSeq)
    val newFiles = withStats(spark, fs, rootP,
      writeDataFiles(spark, physDf, rootP, fs, physParts,
        shredOk = shredOptIn(snap)))

    // the data job runs once: an appends-only competitor just moves the
    // commit to the next version; the staged files are reclaimed only
    // if the call ends without a win
    Txn.run(fs, s"Delta compaction at $path",
        staged = newFiles.map(f => new Path(rootP, f.relPath))) { attempt =>
      if (attempt > 1) {
        snap = DeltaRead.snapshot(spark, rootP.toString)
        // stale if a folded file is GONE (rewritten/removed) or its DV
        // IDENTITY moved (a concurrent DV DELETE soft-deleted rows this
        // rewrite materialized as live — committing would resurrect them)
        val stale = folded.exists { rel =>
          !snap.files.contains(rel) ||
            snap.dvs.get(rel).map(_.uniqueId).getOrElse("") != origDv(rel)
        }
        if (stale) throw new IllegalStateException(
          s"Delta compaction at $path aborted: a concurrent commit removed, " +
            "replaced or DV-deleted rows in a file this compaction folded — " +
            "committing the rewrite would resurrect dead rows. Re-run the " +
            "compaction against the new snapshot")
      }
      val next = snap.version + 1
      // the marker claims "every file live at `next` is clustered" —
      // a competitor's files that appeared between the base snapshot
      // and this attempt would be live at `next` WITHOUT being
      // clustered, so the marker is omitted when any exist (the next
      // maintenance cycle re-clusters both them and this run's
      // outputs; an under-claimed marker is always safe, an
      // over-claimed one skips files forever)
      val foreignNew = snap.files.keySet -- folded -- alreadyClustered
      publishCommit(spark, rootP, Some(snap),
        compactContent(newFiles, folded.toSeq.sorted, snap.dvs,
          clusteredAt = if (implicitClustering && canMark && foreignNew.isEmpty)
            Some(next) else None),
        snap.configuration)
    }
  }

  /** RESTORE the table to the state of `toVersion` — delta-spark's
    * `RESTORE TABLE … VERSION AS OF` shape: ONE commit whose removes
    * retire files the target version lacks and whose adds re-instate
    * files it has that the head lost (carrying their original
    * partitionValues, stats, and DELETION VECTORS — the dv identity is
    * part of the file action), re-emitting metaData when the schema or
    * layout drifted since. Zero data-file I/O — except on CDF tables,
    * where the restore reads exactly the changed files once to emit
    * its `_change_data` rows (retired files' live rows as deletes,
    * re-instated files' as inserts — delta-spark RESTORE's CDC shape).
    * Time travel across the restore keeps working (the protocol never
    * rewinds — a restore is a new commit). Fails loudly when a
    * required file or on-disk DV was already vacuumed (same guard as
    * the versioned protocol's restore). COLUMN-MAPPED tables restore
    * too (round 14): physical names pin every file binding across the
    * rewind, and `delta.columnMapping.maxColumnId` stays MONOTONE
    * (max of target and current — rewinding it would let a later
    * evolution re-mint an id the history already used).
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = DeltaRead.snapshot(spark, rootP.toString, Some(toVersion))
    Txn.run(fs, s"RESTORE at $path") { _ =>
      val cur = DeltaRead.snapshot(spark, rootP.toString)
      requireWritable(cur, path, removesData = true, cdfHandled = true)
      // COLUMN MAPPING: physical names pin every file binding, so a
      // mapped restore is the same file+metaData rewind — EXCEPT
      // delta.columnMapping.maxColumnId, which the spec keeps
      // MONOTONE (rewinding it would let a post-restore evolution
      // re-mint an id the history already used): restored config
      // carries max(target, current).
      val effConf: Map[String, String] = {
        val k = "delta.columnMapping.maxColumnId"
        def idOf(c: Map[String, String]) =
          c.get(k).flatMap(v => scala.util.Try(v.toLong).toOption)
        (idOf(target.configuration), idOf(cur.configuration)) match {
          case (Some(t), Some(c)) if c > t =>
            target.configuration + (k -> c.toString)
          case _ => target.configuration
        }
      }
      if (cur.files == target.files && cur.dvs == target.dvs &&
          cur.schema.json == target.schema.json &&
          cur.partitionColumns == target.partitionColumns &&
          cur.configuration == effConf) Txn.Done(cur.version) // already there
      else {
        // (config/partition-only drift past the file check → restoreContent
        // emits a metaData-only commit: restore restores config too)
        // every re-instated file (and its on-disk DV) must still exist —
        // vacuum may have reclaimed history past the retention window
        val returning = (target.files.keySet -- cur.files.keySet).toSeq.sorted
        returning.foreach { rel =>
          require(fs.exists(new Path(rootP, rel)),
            s"cannot restore $path to v$toVersion: data file $rel was already " +
              "vacuumed — restore only reaches versions within the vacuum retention")
        }
        target.dvs.foreach { case (rel, d) =>
          if (d.storageType == "u")
            require(fs.exists(DeletionVectors.onDiskPath(rootP, d.pathOrInlineDv)),
              s"cannot restore $path to v$toVersion: the deletion vector of $rel " +
                "was already vacuumed")
        }
        // CHANGE DATA FEED: a restore's changes are the retired files'
        // LIVE rows (deletes) plus the re-instated files' live rows
        // (inserts) — delta-spark RESTORE's file-granular CDC shape (a
        // DV-only change reports its file as delete-all + insert-all
        // churn; consumers key-reconcile). Rows land under the TARGET's
        // schema/layout (what the table has after this commit); old-only
        // columns null out, the same by-name rule the span reader uses.
        // This is the one restore path that is not zero-data-I/O — it
        // reads exactly the changed files once.
        val cdcFiles: Seq[NewFile] =
          if (!cdfEnabled(cur)) Nil
          else {
            def uid(m: Map[String, DeletionVectors.Descriptor], rel: String): String =
              m.get(rel).map(_.uniqueId).getOrElse("")
            val rm = cur.files.keySet.filter(rel =>
              !target.files.contains(rel) || uid(cur.dvs, rel) != uid(target.dvs, rel))
            val ad = target.files.keySet.filter(rel =>
              !cur.files.contains(rel) || uid(cur.dvs, rel) != uid(target.dvs, rel))
            // rowTracking: both sides' ids are attributable — retired
            // rows carry the HEAD's ids, re-instated rows the target
            // version's (restore re-adds embed their original baseRowId)
            // — so the cdc rows key the id-surfacing CDF read directly
            def canIds(s: DeltaRead.Snapshot, rels: Set[String]): Boolean =
              s.minWriter >= 7 && s.writerFeatures.contains("rowTracking") &&
                rels.forall(s.rowIds.contains)
            def slice(s: DeltaRead.Snapshot, rels: Set[String]): DataFrame = {
              val sub = s.copy(files = s.files.filter(kv => rels.contains(kv._1)))
              if (canIds(s, rels))
                DeltaRead.readSnapshotRowIds(spark, rootP.toString, sub,
                  DeltaRead.CdcRowIdCol)
              else DeltaRead.readSnapshot(spark, rootP.toString, sub)
            }
            val pieces = Seq.newBuilder[DataFrame]
            if (rm.nonEmpty)
              pieces += slice(cur, rm).withColumn("_change_type", lit("delete"))
            if (ad.nonEmpty)
              pieces += slice(target, ad).withColumn("_change_type", lit("insert"))
            pieces.result().reduceOption((a, b) =>
              a.unionByName(b, allowMissingColumns = true)) match {
              case None => Nil
              case Some(ch) =>
                val aligned = ch.select(
                  target.schema.fieldNames.map(n =>
                    if (ch.columns.exists(_.equalsIgnoreCase(n))) col(n)
                    else lit(null).cast(target.schema(n).dataType).as(n))
                  ++ Seq(col("_change_type")) ++
                  (if (ch.columns.contains(DeltaRead.CdcRowIdCol))
                    Seq(col(DeltaRead.CdcRowIdCol)) else Nil): _*)
                if (aligned.isEmpty) Nil
                else writeCdcFiles(spark, target, aligned, rootP, fs)
            }
          }
        // a lost race re-derives against the winner's head (the staged
        // cdc files are stale against it and get reclaimed)
        publishCommit(spark, rootP, Some(cur),
          restoreContent(cur, target, toVersion, cdcFiles, effConf), effConf, cdcFiles)
      }
    }
  }

  private def restoreContent(cur: DeltaRead.Snapshot, target: DeltaRead.Snapshot,
                             toVersion: Long,
                             cdcFiles: Seq[NewFile] = Nil,
                             effConf: Map[String, String] = null): String = {
    val restoredConf = Option(effConf).getOrElse(target.configuration)
    val now = System.currentTimeMillis
    val lines = Seq.newBuilder[String]
    lines += commitInfoLine(now, "RESTORE", "version" -> toVersion)
    cdcFiles.foreach(f => lines += cdcLine(f, now))
    // metaData re-emit when schema/partitioning drifted — CARRYING the
    // table id and the TARGET's configuration (restore restores config)
    if (cur.schema.json != target.schema.json ||
        cur.partitionColumns != target.partitionColumns ||
        cur.configuration != restoredConf)
      lines += metaDataLine(cur.metaId, target.schema.json, target.partitionColumns,
        restoredConf, now)
    // a file is "the same" only as (path, dv identity) — a file whose
    // DV CHANGED retires its current identity and re-adds the target's
    def uid(m: Map[String, DeletionVectors.Descriptor], rel: String): String =
      m.get(rel).map(_.uniqueId).getOrElse("")
    val toRemove = cur.files.keySet.filter(rel =>
      !target.files.contains(rel) || uid(cur.dvs, rel) != uid(target.dvs, rel))
    val toAdd = target.files.keySet.filter(rel =>
      !cur.files.contains(rel) || uid(cur.dvs, rel) != uid(target.dvs, rel))
    lines ++= toRemove.toSeq.sorted.map(rel =>
      removeLine(rel, now, dataChange = true, cur.dvs.get(rel)))
    // row tracking: a restored file's rows are the SAME physical rows
    // they were at the target version — embed their original ids so
    // stampRowTracking carries instead of reassigning (the hwm only
    // ever rises, so the old range is still covered)
    lines ++= toAdd.toSeq.sorted.map(rel => addLive(target, rel, now, dataChange = true,
      target.dvs.get(rel), target.rowIds.get(rel)))
    commitLines(lines.result())
  }

  /** MATERIALIZE-DVs-ONLY OPTIMIZE (delta-spark's `REORG TABLE …
    * APPLY (PURGE)` shape): rewrite ONLY the files whose deletion
    * vector covers at least `minDeletedFraction` of their rows —
    * clean files and lightly-masked files carry untouched (their add
    * entries survive byte-identical, by absence of a remove action).
    * A delete-heavy table sheds its read-path DV filter cost without
    * paying [[compact]]'s full O(table) rewrite. Commits with
    * `dataChange=false` on every action (no new rows — streams must
    * not re-deliver), so it is legal on append-only tables too.
    *
    * A file without numRecords stats but WITH a DV counts as dirty
    * (its fraction is unknowable; the point is shedding the mask).
    * Returns the current version untouched when nothing crosses the
    * threshold. Concurrency: same posture as [[compact]] — a
    * competitor that removed/replaced a folded file aborts loudly
    * (committing would resurrect its dead rows); pure appenders are
    * compatible and the commit retries.
    */
  def purgeDvs(spark: SparkSession, path: String,
               minDeletedFraction: Double = 0.05): Long = {
    require(minDeletedFraction >= 0 && minDeletedFraction <= 1,
      s"minDeletedFraction must be in [0,1]: $minDeletedFraction")
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var snap = DeltaRead.snapshot(spark, rootP.toString)
    requireWritable(snap, path, removesData = false)

    val dirty: Seq[String] = snap.dvs.collect {
      case (rel, d) if snap.files.contains(rel) &&
        snap.stats.get(rel).flatMap(DeltaRead.parseAddStats).map(_.rows)
          .filter(_ > 0)
          .forall(rows => d.cardinality.toDouble / rows >= minDeletedFraction) => rel
    }.toSeq.sorted
    if (dirty.isEmpty) return snap.version

    // ONE distributed job over just the dirty files, DVs applied —
    // the survivors land as fresh clean files in the table layout
    val dirtySet = dirty.toSet
    val src = DeltaRead.readSnapshot(spark, rootP.toString,
      snap.copy(files = snap.files.filter(kv => dirtySet.contains(kv._1))))
    val (physDf, physParts) = toPhysical(snap, src)
    val newFiles = withStats(spark, fs, rootP,
      writeDataFiles(spark, physDf, rootP, fs, physParts,
        shredOk = shredOptIn(snap)))
    // the DV identity each folded file was rewritten AGAINST — a
    // competitor replacing the file or growing its DV makes the
    // staged rewrite stale (committing it would resurrect rows)
    val origDv: Map[String, String] = dirty.map(rel =>
      rel -> snap.dvs(rel).uniqueId).toMap

    // appends-only competitors just move the commit to the next version
    Txn.run(fs, s"Delta DV purge at $path",
        staged = newFiles.map(f => new Path(rootP, f.relPath))) { attempt =>
      if (attempt > 1) {
        snap = DeltaRead.snapshot(spark, rootP.toString)
        val stale = dirty.exists { rel =>
          !snap.files.contains(rel) ||
            !snap.dvs.get(rel).map(_.uniqueId).contains(origDv(rel))
        }
        if (stale) throw new IllegalStateException(
          s"Delta DV purge at $path aborted: a concurrent commit changed a folded " +
            "file or its deletion vector — committing the rewrite would resurrect " +
            "deleted rows. Re-run the purge against the new snapshot")
      }
      publishCommit(spark, rootP, Some(snap), compactContent(newFiles, dirty, snap.dvs),
        snap.configuration)
    }
  }

  /** Re-serialize a live deletionVector descriptor into a remove
    * action — the protocol's (path, dv.uniqueId) reconciliation needs
    * the remove to name EXACTLY the dv identity it retires, including
    * offset PRESENCE (delta's uniqueId distinguishes absent from 0).
    */
  private def putDv(rmb: ObjectNode, d: DeletionVectors.Descriptor): Unit = {
    val dv = rmb.putObject("deletionVector")
    dv.put("storageType", d.storageType)
    dv.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(o => dv.put("offset", o))
    dv.put("sizeInBytes", d.sizeInBytes)
    dv.put("cardinality", d.cardinality)
  }

  /** Marker domain the implicit clustered OPTIMIZE stamps with its own
    * commit version — the idempotence handle ([[compact]]).
    */
  private[sources] val ClusteredAtDomain = "graft.optimize.clusteredAt"

  private def compactContent(adds: Seq[NewFile], removes: Seq[String],
                             dvs: Map[String, DeletionVectors.Descriptor],
                             clusteredAt: Option[Long] = None): String = {
    val now = System.currentTimeMillis
    commitLines(commitInfoLine(now, "OPTIMIZE") +:
      (clusteredAt.map(v => domainLine(ClusteredAtDomain, s"""{"version":$v}""",
        removed = false)).toSeq ++
        fileActions(now, removes, dvs, adds, dataChange = false)))
  }

  // ----- log actions: one serializer per action kind -------------------

  private type ObjectNode = com.fasterxml.jackson.databind.node.ObjectNode

  /** Commit content: one action per line, newline-terminated. */
  private def commitLines(actions: Seq[String]): String = actions.mkString("\n") + "\n"

  private def actionLine(kind: String, body: ObjectNode): String = {
    val n = mapper.createObjectNode
    n.set[com.fasterxml.jackson.databind.JsonNode](kind, body)
    mapper.writeValueAsString(n)
  }

  /** `commitInfo`; `params` become `operationParameters` (omitted when
    * empty). The protocol wants it as each commit's FIRST action.
    */
  private def commitInfoLine(now: Long, operation: String, params: (String, Any)*): String = {
    val b = mapper.createObjectNode
    b.put("timestamp", now)
    b.put("operation", operation)
    if (params.nonEmpty) {
      val op = b.putObject("operationParameters")
      params.foreach {
        case (k, v: Long) => op.put(k, v)
        case (k, v) => op.put(k, v.toString)
      }
    }
    b.put("engineInfo", "graft-delta-writer/1.0")
    actionLine("commitInfo", b)
  }

  private def addLine(rel: String, partitionValues: Iterable[(String, String)], size: Long,
                      modificationTime: Long, dataChange: Boolean, stats: Option[String],
                      dv: Option[DeletionVectors.Descriptor] = None,
                      rowIds: Option[(Long, Long)] = None): String = {
    val b = mapper.createObjectNode
    b.put("path", encodePath(rel))
    val pv = b.putObject("partitionValues")
    partitionValues.foreach { case (k, v) => if (v == null) pv.putNull(k) else pv.put(k, v) }
    b.put("size", size)
    b.put("modificationTime", modificationTime)
    b.put("dataChange", dataChange)
    stats.foreach(b.put("stats", _))
    dv.foreach(putDv(b, _))
    rowIds.foreach { case (brid, dcv) =>
      b.put("baseRowId", brid)
      if (dcv >= 0L) b.put("defaultRowCommitVersion", dcv)
    }
    actionLine("add", b)
  }

  /** An add for a file this commit wrote. */
  private def addNew(f: NewFile, dataChange: Boolean = true): String =
    addLine(f.relPath, f.partitionValues, f.size, f.modificationTime, dataChange,
      Option(f.stats))

  /** A re-add of snapshot `s`'s file `rel`. Snapshot partition-value
    * keys are LOGICAL; the log's are PHYSICAL under column mapping —
    * translated back on the way out.
    */
  private def addLive(s: DeltaRead.Snapshot, rel: String, now: Long, dataChange: Boolean,
                      dv: Option[DeletionVectors.Descriptor],
                      rowIds: Option[(Long, Long)] = None): String =
    addLine(rel, s.files(rel).toSeq.map { case (k, v) => s.colMap.getOrElse(k, k) -> v },
      s.sizes.getOrElse(rel, -1L), now, dataChange, s.stats.get(rel), dv, rowIds)

  private def removeLine(rel: String, now: Long, dataChange: Boolean,
                         dv: Option[DeletionVectors.Descriptor]): String = {
    val b = mapper.createObjectNode
    b.put("path", encodePath(rel))
    b.put("deletionTimestamp", now)
    b.put("dataChange", dataChange)
    dv.foreach(putDv(b, _))
    actionLine("remove", b)
  }

  /** Removes (each carrying its live DV) then adds of a file-rewriting
    * commit.
    */
  private def fileActions(now: Long, removes: Seq[String],
                          dvs: Map[String, DeletionVectors.Descriptor],
                          adds: Seq[NewFile], dataChange: Boolean): Seq[String] =
    removes.map(p => removeLine(p, now, dataChange, dvs.get(p))) ++
      adds.map(addNew(_, dataChange))

  private def metaDataNode(id: String, schemaJson: String, partitionColumns: Seq[String],
                           configuration: Map[String, String]): ObjectNode = {
    val b = mapper.createObjectNode
    b.put("id", id)
    val fmt = b.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    b.put("schemaString", schemaJson)
    val pc = b.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    val cfg = b.putObject("configuration")
    configuration.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
    b
  }

  /** `metaData` carrying table id `metaId` (a fresh one when null). */
  private def metaDataLine(metaId: String, schemaJson: String, partitionColumns: Seq[String],
                           configuration: Map[String, String], now: Long): String = {
    val b = metaDataNode(Option(metaId).getOrElse(java.util.UUID.randomUUID.toString),
      schemaJson, partitionColumns, configuration)
    b.put("createdTime", now)
    actionLine("metaData", b)
  }

  /** Protocol versions plus the feature lists (sorted, deduplicated),
    * each omitted when None.
    */
  private def protocolNode(minReader: Int, minWriter: Int,
                           readerFeatures: Option[Iterable[String]],
                           writerFeatures: Option[Iterable[String]]): ObjectNode = {
    val b = mapper.createObjectNode
    b.put("minReaderVersion", minReader)
    b.put("minWriterVersion", minWriter)
    readerFeatures.foreach { fs =>
      val a = b.putArray("readerFeatures"); fs.toSeq.distinct.sorted.foreach(a.add)
    }
    writerFeatures.foreach { fs =>
      val a = b.putArray("writerFeatures"); fs.toSeq.distinct.sorted.foreach(a.add)
    }
    b
  }

  private def protocolLine(minReader: Int, minWriter: Int,
                           readerFeatures: Option[Iterable[String]] = None,
                           writerFeatures: Option[Iterable[String]] = None): String =
    actionLine("protocol", protocolNode(minReader, minWriter, readerFeatures, writerFeatures))

  private def domainLine(domain: String, configuration: String, removed: Boolean): String = {
    val b = mapper.createObjectNode
    b.put("domain", domain)
    b.put("configuration", configuration)
    b.put("removed", removed)
    actionLine("domainMetadata", b)
  }

  /** Physically delete files no longer referenced by the CURRENT
    * snapshot and older than `retentionMs` (mtime-based, delta-spark's
    * vacuum safety contract: the window must cover in-flight writers'
    * staging and any reader's time-travel lag). Also reclaims crashed
    * writers' staging directories past the window. Returns the deleted
    * paths (table-relative). Time travel to versions whose files were
    * vacuumed stops working — the documented lakehouse trade.
    */
  def vacuum(spark: SparkSession, path: String,
             retentionMs: Long = TombstoneRetentionMs): Seq[String] = {
    require(retentionMs >= 0, "vacuum retention must be >= 0")
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis - retentionMs
    val snap = DeltaRead.snapshot(spark, rootP.toString)
    // the vacuumProtocolCheck feature's whole contract: a vacuum
    // implementation must validate the table protocol before deleting
    // anything — an unknown writer feature may change what "referenced"
    // means (as deletionVectors did), and sweeping under it loses data
    requireWritable(snap, path, removesData = false)
    // live DELETION VECTOR files are snapshot state too — sweeping one
    // would corrupt every future read of its data file
    val live = snap.files.keySet ++ snap.dvs.values.collect {
      case d if d.storageType == "u" =>
        val abs = graft.sources.DeletionVectors.onDiskPath(rootP, d.pathOrInlineDv)
        abs.toString.stripPrefix(rootP.toString).stripPrefix("/")
    }
    val deleted = Seq.newBuilder[String]
    def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n == "_delta_log") () // the log is never data
      else {
        val r = if (rel.isEmpty) n else rel + "/" + n
        if (st.isDirectory) {
          walk(st.getPath, r)
          // empty dirs left behind (fully-vacuumed partitions, old
          // staging) disappear too
          if (fs.listStatus(st.getPath).isEmpty && fs.delete(st.getPath, false))
            ()
        } else if (!live.contains(r) && st.getModificationTime < cutoff &&
                   fs.delete(st.getPath, false)) {
          deleted += r
        }
      }
    }
    walk(rootP, "")
    deleted.result().sorted
  }

  // ----- checkpointing ------------------------------------------------
  // Parquet checkpoint rows: one action per row, exactly one non-null
  // struct column, in [[DeltaLog.CheckpointSchema]]'s shapes;
  // [[DeltaLog.readCheckpoint]] (and delta-spark) read them back by
  // column presence.

  /** Delta duration-property parse: `interval N <unit>` (delta-spark's
    * CalendarInterval surface restricted to the fixed-length units the
    * log properties actually use). Refuses month/year — calendar
    * arithmetic on a retention window is ambiguous, and delta-spark's
    * defaults never use them.
    */
  private[sources] def parseRetention(s: String): Long = {
    val Re = """(?i)\s*(?:interval\s+)?(\d+)\s*(nanosecond|microsecond|millisecond|second|minute|hour|day|week)s?\s*""".r
    s match {
      case Re(n, unit) =>
        val ms = unit.toLowerCase match {
          case "nanosecond" => 1L / 1000000L // floors to 0 — sub-ms is sub-resolution
          case "microsecond" => 0L
          case "millisecond" => 1L
          case "second" => 1000L
          case "minute" => 60L * 1000
          case "hour" => 3600L * 1000
          case "day" => 24L * 3600 * 1000
          case "week" => 7L * 24 * 3600 * 1000
        }
        n.toLong * ms
      case _ => throw new IllegalArgumentException(
        s"unparseable Delta retention duration '$s' — expected 'interval N " +
          "<second|minute|hour|day|week>[s]'")
    }
  }

  /** METADATA CLEANUP (delta-spark's expired-log deletion, run after
    * every checkpoint): delete commit JSONs in a CONTIGUOUS prefix
    * strictly below the newest checkpoint whose modification time is
    * past `delta.logRetentionDuration` (default `interval 30 days`),
    * plus any checkpoint files (and their v2 sidecars) wholly inside
    * the deleted prefix. Gated on `delta.enableExpiredLogCleanup`
    * (default true). The cut stops at the FIRST unexpired commit —
    * never a hole — so the surviving log replays from the newest
    * checkpoint exactly as before; time travel below the cut refuses,
    * delta-spark's documented trade. Returns the deleted log-relative
    * names. Best-effort from [[checkpoint]]; callable as maintenance.
    */
  def cleanupExpiredLogs(spark: SparkSession, path: String,
                         nowMs: Long = System.currentTimeMillis): Seq[String] =
    cleanupExpiredLogsWith(spark, path,
      DeltaRead.snapshot(spark, path).configuration, nowMs)

  private def cleanupExpiredLogsWith(spark: SparkSession, path: String,
                                     conf: Map[String, String],
                                     nowMs: Long): Seq[String] = {
    if (!conf.getOrElse("delta.enableExpiredLogCleanup", "true")
          .equalsIgnoreCase("true")) return Nil
    val retention = parseRetention(
      conf.getOrElse("delta.logRetentionDuration", "interval 30 days"))
    val cutoffMs = nowMs - retention
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new Path(rootP, "_delta_log")
    if (!fs.exists(logP)) return Nil
    val statuses = fs.listStatus(logP)
    val mtimes = statuses.map(st => st.getPath.getName -> st.getModificationTime).toMap
    val names = statuses.map(_.getPath.getName).toSeq
    val cpFiles = DeltaRead.checkpointFilesOf(names)
    if (cpFiles.isEmpty) return Nil // state must stay replayable
    val latestCp = cpFiles.keys.max
    // contiguous expired prefix strictly below the newest checkpoint
    val commits = DeltaRead.commitVersionsOf(names).sorted
    var cut = -1L
    val it = commits.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val v = it.next()
      val n = f"$v%020d.json"
      if (v < latestCp && mtimes.getOrElse(n, Long.MaxValue) <= cutoffMs) cut = v
      else stop = true
    }
    if (cut < 0) return Nil
    val deleted = Seq.newBuilder[String]
    for (v <- commits if v <= cut) {
      val n = f"$v%020d.json"
      if (fs.delete(new Path(logP, n), false)) deleted += n
      val crc = f"$v%020d.crc" // the commit's checksum sidecar goes with it
      if (fs.delete(new Path(logP, crc), false)) deleted += crc
    }
    // checkpoints wholly inside the deleted prefix are superseded by
    // the newer one the cut preserves. Sweep EVERY checkpoint-form file
    // at versions <= cut — not just the per-version mapping
    // checkpointFilesOf elects — or a racing checkpointer's duplicate
    // UUID main (legal: both publish) and its sidecars would orphan
    // forever. A deleted v2 main's sidecars go ONLY if no RETAINED v2
    // main still references them: the spec allows incremental
    // checkpointing (a newer checkpoint reusing an older one's sidecar
    // files — delta-spark does this), so sidecar reachability is
    // computed across the retained set first and shared files survive.
    val CkAny = """(\d{20})\.checkpoint(\..+)?\.parquet""".r
    val v2MainRe = """\d{20}\.checkpoint\.[0-9a-fA-F]{8}-[0-9a-fA-F-]{27}\.parquet"""
    def sidecarRefsOf(n: String): Seq[String] =
      DeltaLog.readCheckpoint(spark, logP, path, Seq(n)).sidecars
    val expired = names.collect { case n @ CkAny(v, _) if v.toLong <= cut => n }
    // Sidecar reachability across RETAINED v2 mains, computed only
    // when the expired set actually holds a v2 main (the common
    // cleanup has none — no Spark job then). FAILURE DIRECTION
    // matters: a read error on a RETAINED main must abort the sidecar
    // sweep (None → keep files; an orphan leak, reclaimable later),
    // never read as "no refs" — that would delete sidecars the live
    // checkpoint still references and corrupt the table.
    val retainedRefs: Option[Set[String]] =
      if (!expired.exists(_.matches(v2MainRe))) Some(Set.empty)
      else try {
        Some(names.collect {
          case n @ CkAny(v, _) if v.toLong > cut && n.matches(v2MainRe) => n
        }.flatMap(sidecarRefsOf).toSet)
      } catch { case scala.util.control.NonFatal(e) =>
        // loud, not silent (ADVICE r16): a PERSISTENTLY unreadable
        // retained main skips this sweep every run and leaks expired
        // sidecars forever with no signal otherwise
        System.err.println(
          s"WARN graft delta cleanup at $path: a RETAINED v2 checkpoint main is " +
            s"unreadable ($e) — skipping the expired-sidecar sweep this run " +
            "(safe direction: files leak until the main is readable again)")
        None
      }
    for (n <- expired.sorted) {
      if (n.matches(v2MainRe)) retainedRefs.foreach { retained =>
        // expired-main read failures are safe the OTHER way: skipping
        // deletion only orphans files
        val refs = try sidecarRefsOf(n)
          catch { case scala.util.control.NonFatal(_) => Nil }
        refs.filterNot(retained.contains).foreach { rel =>
          if (DeltaLog.sidecarFile(logP, rel).exists(fs.delete(_, false)))
            deleted += s"_sidecars/$rel"
        }
      }
      if (fs.delete(new Path(logP, n), false)) deleted += n
    }
    deleted.result()
  }

  /** How long removed-file TOMBSTONES survive in checkpoints (matches
    * delta-spark's `deletedFileRetentionDuration` default of 7 days).
    * Tombstones exist for FOREIGN vacuum tooling — our reader
    * reconstructs state from adds alone — but the protocol requires a
    * checkpoint to carry the unexpired ones, so a delta-spark VACUUM
    * run against a graft-written table sees the same removal history
    * it would on its own tables.
    */
  val TombstoneRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Fold the log at `path` into a `V.checkpoint.parquet` +
    * `_last_checkpoint` pointer at the newest committed version V —
    * the protocol's log-compaction step, making later snapshot reads
    * O(tail since V) instead of O(all commits) and enabling the
    * reader's no-LIST `_last_checkpoint` fast path. Returns V (-1 when
    * the table has no commits). Runs automatically every
    * [[CheckpointInterval]] commits; callable directly as maintenance.
    *
    * Construction INCREMENTS the previous checkpoint instead of
    * replaying from v0, through the same [[DeltaLog]] replay as
    * [[DeltaRead.snapshot]]: the prior checkpoint's `add` rows stay a
    * DataFrame (the unbounded part — millions of rows on a large
    * table), the post-checkpoint tail (bounded by the interval) folds
    * on the driver, and the carried set is [[DeltaLog.untouchedAdds]]:
    * `prev adds ANTI-JOIN (tail-touched (path, dv.uniqueId) identities,
    * tail-live paths)` on DECODED keys — the snapshot's own rule.
    * `metaData`, `protocol` and every `txn` high-water mark are carried
    * (the protocol requires SetTransaction marks to survive
    * checkpointing — a cleaned log must not forget a streaming sink's
    * exactly-once state).
    *
    * MULTI-PART writes (`parts`): at 100 TB a checkpoint holds
    * millions of add rows, and a `repartition(1)` write funnels them
    * through one task — the classic driver-adjacent bottleneck. With
    * `parts = 0` (auto) the fold estimates the action count (previous
    * checkpoint's parquet row count — a footer-only count — plus the
    * parsed tail) and splits into ceil(total / [[CkPartActions]])
    * part files named `V.checkpoint.<i>.<k>.parquet`, each written by
    * its own task; `_last_checkpoint` records `parts`. Publish order
    * makes the non-atomic k-rename safe: part 1 is renamed FIRST as
    * the claim — rename-if-absent is atomic, so exactly one racer
    * wins and the losers abort before touching any name; readers
    * ignore an in-progress set because [[DeltaRead.checkpointFilesOf]]
    * requires the complete 1..k run before using it.
    * Two checkpointers racing at the same version produce equivalent
    * content — the loser's rename finds the name taken and yields.
    * REMOVED-file tombstones within [[TombstoneRetentionMs]] ARE
    * carried (the protocol requires it — foreign vacuum tooling reads
    * removal history from the checkpoint), and every file action in
    * the checkpoint is written `dataChange=false` (checkpoint rows
    * describe existing state, never new data; a `true` here would make
    * a naive CDC reader re-stream the whole table).
    *
    * Tables pinning `delta.checkpointPolicy = v2` get the protocol's V2
    * (UUID-named, sidecar) checkpoint form instead — same fold, different
    * layout; see the v2 branch below for its publish-order reasoning.
    */
  def checkpoint(spark: SparkSession, path: String, parts: Int = 0): Long = {
    import org.apache.spark.sql.functions.{lit, struct}
    val rootP = qualifiedRoot(spark, path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logP = new Path(rootP, "_delta_log")
    require(fs.exists(logP), s"$path is not a Delta table (no _delta_log)")

    val names = fs.listStatus(logP).toSeq.map(_.getPath.getName)
    val commits = DeltaRead.commitVersionsOf(names)
    val cpFiles = DeltaRead.checkpointFilesOf(names)
    if (commits.isEmpty && cpFiles.isEmpty) return -1L
    val latest = (commits ++ cpFiles.keys).max
    if (cpFiles.contains(latest)) return latest // nothing newer to fold
    val prev = cpFiles.keys.filter(_ < latest).toSeq.sorted.lastOption
    val ck = prev.map(cv => DeltaLog.readCheckpoint(spark, logP, path, cpFiles(cv)))
    // the previous checkpoint's state, then the tail (bounded by the
    // interval) folded on the driver — the same replay as a snapshot's.
    // Carried adds keep their deletionVector descriptors: a live DV is
    // snapshot state, and a fold that dropped it would resurrect the
    // soft-deleted rows for every checkpoint reader.
    val st = DeltaLog.replay(fs, logP, DeltaLog.seed(path, ck), prev.map(_ + 1).getOrElse(0L),
        latest).fold(v => throw new IllegalStateException(
      s"Delta log at $path is missing commit $v — cannot checkpoint $latest"), identity)
    val nowMs = System.currentTimeMillis
    val tombsSince = nowMs - TombstoneRetentionMs
    val meta = st.metadata
    require(meta != null,
      s"Delta log at $path carries no metaData action — cannot checkpoint")
    // `delta.checkpointPolicy = v2` PINS the v2 (UUID + sidecar)
    // checkpoint form (see the v2 branch below); a v2-policy table
    // without the v2Checkpoint reader feature is spec-invalid, so
    // refuse rather than emit a layout other readers would reject.
    val v2Policy = meta.configuration.get("delta.checkpointPolicy").contains("v2")
    if (v2Policy)
      require(Option(st.protocol).exists(_.readerFeatures.exists(_.contains("v2Checkpoint"))),
        s"Delta table at $path pins delta.checkpointPolicy = v2 but its protocol " +
          "does not carry the v2Checkpoint reader feature — a spec-valid v2-policy " +
          "table always does; refusing to checkpoint an inconsistent table")
    // a protocol never defaults: inventing (1, 2) would silently
    // DOWNGRADE a v3/v7 table for every reader of the fold
    require(st.protocol != null,
      s"Delta log at $path carries no protocol action (neither in the commit " +
        "tail nor the previous checkpoint) — a spec-valid log always has one; " +
        "refusing to checkpoint rather than invent a default protocol")

    // driver rows: the non-file state, LIVE domains only (replay needs
    // no removal once the removing commit is folded), the tail's live
    // adds and its unexpired tombstones
    val driverRows: Seq[DeltaLog.Action] =
      Seq(st.protocol, meta) ++ st.txns.values ++
        st.snap.domains.map { case (d, c) => DeltaLog.DomainMetadata(d, c, removed = false) } ++
        st.adds.values ++
        st.tombstones.values.filter(_.deletionTimestamp.forall(_ >= tombsSince))
    val ckSchema = DeltaLog.CheckpointSchema
    // explicit Rows, not a product encoder: Janino chokes generating a
    // serializer for the 3-deep add→deletionVector nesting; the driver
    // emits a handful of rows, so hand conversion is free
    def rowsDf(actions: Seq[DeltaLog.Action]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(actions.map(DeltaLog.checkpointRow(_, nowMs)).asJava, ckSchema)
    }
    val (fileRows, nonFileRows) = driverRows.partition {
      case _: DeltaLog.AddFile | _: DeltaLog.RemoveFile => true
      case _ => false
    }
    // carried from the previous checkpoint, distributed: its adds the
    // tail left live, and its unexpired tombstones whose path the tail
    // did not touch
    val carried = ck.toSeq.flatMap { c =>
      Seq(DeltaLog.untouchedAdds(spark, c.files, st).select("add"),
        DeltaLog.untouchedTombstones(spark, c.files, st, tombsSince))
    }
    val fileDf = (rowsDf(fileRows) +: carried)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val all0 = rowsDf(nonFileRows).unionByName(fileDf)
    // the domainMetadata COLUMN appears only when live domains exist:
    // readers gate their domain collect on the column's presence, so a
    // domain-less table (the common case) must not pay an extra Spark
    // job per snapshot/fold for an all-null column
    val hasDomains = st.snap.domains.nonEmpty
    val all = if (hasDomains) all0 else all0.drop("domainMetadata")

    // --- part count: explicit, or auto from a footer-only estimate ---
    // (a v2 previous checkpoint's file actions live in its SIDECARS —
    // counted too, or the estimate collapses to one write task)
    val nParts =
      if (parts > 0) parts
      else {
        val est = ck.fold(0L)(_.rowCount) + driverRows.size
        math.max(1L, (est + CkPartActions - 1) / CkPartActions).toInt
      }

    // --- v2 (UUID + sidecar) form: `delta.checkpointPolicy = v2` ---
    // Layout per the protocol's V2 Checkpoints section: the file
    // actions land in `_delta_log/_sidecars/<uuid>.parquet` part files
    // (schema: add, remove — one action per row), and the main
    // `V.checkpoint.<uuid>.parquet` carries ONLY the non-file actions
    // (protocol, metaData, txn), the REQUIRED checkpointMetadata action
    // stamping the checkpoint's version, and one sidecar action per
    // part (path relative to _sidecars, sizeInBytes, modificationTime).
    // Publish order makes the non-atomic multi-file layout safe:
    // sidecars land FIRST (unreferenced files are invisible — readers
    // only follow sidecar actions), the main file's single rename
    // publishes the whole set, and the pointer is best-effort. UUID
    // names cannot collide, so two checkpointers racing at one version
    // both publish; readers pick one deterministically
    // ([[DeltaRead.checkpointFilesOf]] takes the lexicographically
    // first) and the protocol declares same-version checkpoints
    // equivalent. Scale shape matches the classic multi-part path: the
    // unbounded add set is written by nParts distributed tasks; the
    // driver handles only the handful of non-file rows.
    if (v2Policy) {
      import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}
      val tagsType = MapType(StringType, StringType)
      val cmType = StructType(Seq(
        StructField("version", LongType), StructField("tags", tagsType)))
      val scType = StructType(Seq(
        StructField("path", StringType), StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType), StructField("tags", tagsType)))
      val sideDir = new Path(logP, "_sidecars")
      fs.mkdirs(sideDir)
      val tmpSide = new Path(logP, ".ckpt-tmp-" + java.util.UUID.randomUUID.toString.take(12))
      val tmpMain = new Path(logP, ".ckpt-tmp-" + java.util.UUID.randomUUID.toString.take(12))
      try {
        fileDf.select(col("add"), col("remove")).repartition(nParts)
          .write.parquet(tmpSide.toString)
        val fileActionCount = spark.read.parquet(tmpSide.toString).count()
        val sideParts = fs.listStatus(tmpSide).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
          .sortBy(_.getName)
        val sidecars: Seq[(String, Long, Long)] = sideParts.toSeq.map { src =>
          val name = java.util.UUID.randomUUID.toString + ".parquet"
          val dst = new Path(sideDir, name)
          require(fs.rename(src, dst),
            s"v2 checkpoint publish at $path failed renaming sidecar $name — " +
              "the partial sidecar set is unreferenced and invisible to readers")
          val f = fs.getFileStatus(dst)
          (name, f.getLen, f.getModificationTime)
        }
        def nulls(names: String*) = names.map {
          case "checkpointMetadata" => lit(null).cast(cmType).as("checkpointMetadata")
          case "sidecar" => lit(null).cast(scType).as("sidecar")
          case n => lit(null).cast(ckSchema(n).dataType).as(n)
        }
        val nonFileDf = rowsDf(nonFileRows)
          .select(Seq(col("protocol"), col("metaData"), col("txn"),
            col("domainMetadata")) ++
            nulls("checkpointMetadata", "sidecar"): _*)
        val cmDf = {
          import spark.implicits._
          Seq(latest).toDF("v").select(
            nulls("protocol", "metaData", "txn", "domainMetadata") ++ Seq(
              struct(col("v").as("version"),
                lit(null).cast(tagsType).as("tags")).as("checkpointMetadata"),
              lit(null).cast(scType).as("sidecar")): _*)
        }
        val scDf = if (sidecars.isEmpty) None else Some {
          import spark.implicits._
          sidecars.toDF("path", "sizeInBytes", "modificationTime")
            .select(nulls("protocol", "metaData", "txn", "domainMetadata",
              "checkpointMetadata") ++ Seq(
              struct(col("path"), col("sizeInBytes"), col("modificationTime"),
                lit(null).cast(tagsType).as("tags")).as("sidecar")): _*)
        }
        val mainDf0 = (Seq(nonFileDf, cmDf) ++ scDf).reduce(_ unionByName _)
        // same column-presence contract as the classic form above
        val mainDf = if (hasDomains) mainDf0 else mainDf0.drop("domainMetadata")
        mainDf.coalesce(1).write.parquet(tmpMain.toString)
        val mainPart = fs.listStatus(tmpMain).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        require(mainPart.length == 1,
          s"v2 checkpoint write at $path produced ${mainPart.length} main files")
        val mainCount = spark.read.parquet(tmpMain.toString).count()
        val mainName =
          f"$latest%020d.checkpoint.${java.util.UUID.randomUUID.toString}.parquet"
        require(fs.rename(mainPart.head, new Path(logP, mainName)),
          s"v2 checkpoint publish at $path failed renaming $mainName — the " +
            "sidecars are unreferenced; this version stays un-checkpointed")
        val ptr = mapper.createObjectNode
        ptr.put("version", latest)
        ptr.put("size", mainCount + fileActionCount)
        val out = fs.create(new Path(logP, "_last_checkpoint"), true)
        try out.write((mapper.writeValueAsString(ptr) + "\n").getBytes("UTF-8"))
        finally out.close()
      } finally { fs.delete(tmpSide, true); fs.delete(tmpMain, true) }
      try cleanupExpiredLogsWith(spark, rootP.toString, meta.configuration,
        System.currentTimeMillis)
      catch { case scala.util.control.NonFatal(_) => () }
      return latest
    }

    // --- write + rename publish (part 1 first = the atomic claim) ---
    val tmp = new Path(logP, ".ckpt-tmp-" + java.util.UUID.randomUUID.toString.take(12))
    try {
      all.repartition(nParts).write.parquet(tmp.toString)
      val partFiles = fs.listStatus(tmp).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        .sortBy(_.getName)
      require(partFiles.nonEmpty,
        s"checkpoint write at $path produced no file")
      val actionCount = spark.read.parquet(tmp.toString).count()
      // k = files actually produced (Spark may skip empty partitions);
      // the part names embed k, so the run 1..k is always complete
      val k = partFiles.length
      val dests =
        if (k == 1) Seq(new Path(logP, f"$latest%020d.checkpoint.parquet"))
        else (1 to k).map(i =>
          new Path(logP, f"$latest%020d.checkpoint.$i%010d.$k%010d.parquet"))
      val won = !fs.exists(dests.head) && fs.rename(partFiles.head, dests.head)
      if (won) {
        // claimed: no competitor will rename into this version's names
        // (they all attempt their part 1 / single name first and yield)
        partFiles.tail.zip(dests.tail).foreach { case (src, dst) =>
          require(fs.rename(src, dst),
            s"checkpoint publish at $path failed renaming ${dst.getName} — " +
              "the partial part set is invisible to readers (incomplete runs " +
              "are ignored) but this version stays un-checkpointed")
        }
        val ptr = mapper.createObjectNode
        ptr.put("version", latest)
        ptr.put("size", actionCount)
        if (k > 1) ptr.put("parts", k)
        // pointer overwrite is not atomic — the reader treats a stale
        // or torn pointer as "fall back to listing", never as an error
        val out = fs.create(new Path(logP, "_last_checkpoint"), true)
        try out.write((mapper.writeValueAsString(ptr) + "\n").getBytes("UTF-8"))
        finally out.close()
      } // else: a concurrent checkpointer claimed this version
    } finally fs.delete(tmp, true)
    // delta-spark's cadence: metadata cleanup piggybacks on checkpoints
    // (best-effort — an expired-log sweep failure never fails the fold)
    try cleanupExpiredLogsWith(spark, rootP.toString, meta.configuration,
      System.currentTimeMillis)
    catch { case scala.util.control.NonFatal(_) => () }
    latest
  }

  /** Auto part sizing: actions per checkpoint part file. ~50k add rows
    * keeps each part a few MB of parquet and each write task bounded;
    * delta-spark's multi-part default is the same order of magnitude.
    */
  val CkPartActions: Long = 50000L

  private def qualifiedRoot(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }
}

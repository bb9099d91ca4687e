package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.quality.{Validator, ColumnConstraints}

/** Pipeline runner — graft's equivalent of drune's Pipeline +
  * StepManager (reference: src/drune/core/pipeline.py,
  * core/steps/step_manager.py). The target DataFrame threads through the
  * step list; everything stays a lazy logical plan until the sink (or
  * the caller) triggers an action, so Catalyst optimizes ACROSS steps —
  * e.g. a Filter step's predicate pushes down through a prior Transform
  * into the parquet scan, which drune's eager per-step execution can
  * never do.
  */
final class Pipeline(spark: SparkSession, spec: PipelineSpec) {

  /** Read all sources; first source becomes the initial target
    * (pipeline.py read()). Each is registered as a temp view for Join /
    * Sql steps.
    */
  def readSources(): Map[String, DataFrame] = {
    val loaded = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    spec.sources.foreach { src =>
      val df = src match {
        case FileSource(name, path, format, options, expected) =>
          // `format: delta` = interop read of an EXISTING Delta Lake
          // table through the log-protocol reader (the reference's
          // sources accept it, reader.py:25-30); honors delta-spark's
          // versionAsOf / timestampAsOf option spellings for time
          // travel (timestamp = epoch millis, `yyyy-MM-dd` or an ISO
          // instant, resolved against commit mtimes). Any OTHER option
          // would be silently ignored — refuse loudly instead of
          // reading the wrong snapshot.
          val d =
            if (format.equalsIgnoreCase("delta")) {
              val known = Set("versionasof", "timestampasof")
              val unknown = options.keySet.filterNot(k => known(k.toLowerCase))
              require(unknown.isEmpty,
                s"source '$name': delta interop supports only the versionAsOf and " +
                  s"timestampAsOf options; got ${unknown.mkString(", ")}")
              val v = options.collectFirst { case (k, v) if k.equalsIgnoreCase("versionAsOf") => v }
                .map(s => try s.trim.toLong catch {
                  case _: NumberFormatException => throw new IllegalArgumentException(
                    s"source '$name': versionAsOf must be a version number, got '$s'")
                })
              val ts = options.collectFirst { case (k, v) if k.equalsIgnoreCase("timestampAsOf") => v }
                .map(s => parseTsMillis(name, s.trim))
              require(v.isEmpty || ts.isEmpty,
                s"source '$name': versionAsOf and timestampAsOf are mutually exclusive")
              val resolved = ts.map(t =>
                graft.sources.DeltaRead.versionAt(spark, path, t)).orElse(v)
              graft.sources.DeltaRead.read(spark, path, resolved)
            } else spark.read.format(format).options(options).load(path)
          expected.foreach { n =>
            require(d.columns.length == n,
              s"source '$name': read ${d.columns.length} columns, expected $n — check the delimiter/options")
          }
          d
        case TableSource(_, table) => spark.table(table)
        case SqlSource(_, sql)     => spark.sql(sql)
        case VersionedSource(_, path, format, version, since) =>
          (version, since) match {
            case (Some(v), _) => VersionedTable.readVersion(spark, path, v, format)
            case (_, Some(s)) => VersionedTable.changesSince(spark, path, s, format)
            case _            => VersionedTable.read(spark, path, format)
          }
      }
      df.createOrReplaceTempView(src.name)
      loaded += src.name -> df
    }
    // VectorMap preserves insertion order at ANY size — a plain .toMap
    // switches to hash order above 4 entries, and `run()` takes
    // `.values.head` as the initial target: a 5-source pipeline would
    // silently fold its steps over an arbitrary source.
    scala.collection.immutable.VectorMap(loaded.toSeq: _*)
  }

  /** Run all steps; returns the final target DataFrame (lazy). */
  def run(): DataFrame = {
    // Dialect shims (codegen'd Catalyst builders for duckdb spellings)
    // let reference example YAMLs run their expression strings verbatim.
    org.apache.spark.sql.graftbridge.DialectShims.register(spark)
    spec.sink.flatMap(s => s.materialized.map((s, _))) match {
      case Some((sink, mv)) => return runMaterialized(sink, mv)
      case None => ()
    }
    val sources = readSources()
    require(sources.nonEmpty, s"pipeline ${spec.name}: no sources")
    val result = spec.steps.foldLeft(sources.values.head)(applyStep)
    spec.sink.foreach(sink => Writer.write(spark, result, sink))
    result
  }

  /** A materialized sink: running the pipeline IS one incremental
    * refresh — fold only the source commits since the last run into
    * the rollup at the sink path, and return the refreshed rollup.
    * The source must be a single versioned table (the manifest is what
    * proves which rows are new), and steps are refused: delta
    * maintenance cannot see through arbitrary transforms — row-local
    * computation belongs in the aggregates' `expr`s.
    */
  private def runMaterialized(sink: SinkSpec, mv: MaterializedSpec): DataFrame = {
    val src = spec.sources match {
      case Seq(v: VersionedSource) => v
      case _ => throw new IllegalArgumentException(
        s"pipeline ${spec.name}: a materialized target needs exactly one " +
          "versioned source (the manifest drives the incremental fold)")
    }
    require(spec.steps.isEmpty,
      s"pipeline ${spec.name}: steps are not supported with a materialized " +
        "target — put row-local computation in the aggregate exprs")
    require(src.version.isEmpty && src.sinceVersion.isEmpty,
      s"pipeline ${spec.name}: a materialized target reads the source's live " +
        "history itself — version/since_version pins are not applicable")
    require(sink.path.nonEmpty, s"pipeline ${spec.name}: materialized target needs a path")
    MaterializedAgg.refresh(spark, src.path, sink.path, mv.groupBy, mv.aggs,
      srcFormat = src.format, aggFormat = sink.format)
    MaterializedAgg.read(spark, sink.path, sink.format)
  }

  def applyStep(df: DataFrame, step: Step): DataFrame = step match {
    case t: Transform => Pipeline.transform(df, t)
    case Filter(where) => df.where(where)
    case Join(other, on, how, bc, cond) =>
      val rhs0 = spark.table(other)
      val rhs = if (bc) broadcast(rhs0) else rhs0
      cond match {
        // Expression joins reference the sides as l.* / r.*.
        case Some(c) => df.as("l").join(rhs.as("r"), expr(c), how)
        case None    => df.join(rhs, on, how)
      }
    case Pivot(index, pivotCol, valueCol, agg, values) =>
      val g = df.groupBy(index.map(col): _*)
      // Explicit pivot values skip the extra distinct-values job AND
      // make the output schema static — mandatory at scale.
      val p = if (values.nonEmpty) g.pivot(pivotCol, values) else g.pivot(pivotCol)
      p.agg(expr(s"$agg(`$valueCol`)"))
    case Sql(sql, viewName) =>
      val out = spark.sql(sql)
      if (viewName.nonEmpty) out.createOrReplaceTempView(viewName)
      out
    case TargetProject(excl, add) =>
      val dropped = df.drop(excl.filter(df.columns.contains): _*)
      add.foldLeft(dropped) { (d, c) =>
        val base = c.expression.map(_.replace("{col}", s"`${c.sourceName}`"))
          .getOrElse("NULL")
        val casted = c.dataType.map(dt => s"cast(($base) AS $dt)").getOrElse(base)
        d.withColumn(c.name, expr(casted))
      }
    case DedupStep(method, idCol, textCol, threshold, localMaxPairs, maxIters) => method match {
      case "exact" =>
        // keep the min-id row per fingerprint, ALL columns surviving:
        // one hash agg for the keeper set, one semi join back (both
        // shuffle on the same 8-byte-key class — no pairwise step)
        val keep = graft.operators.Dedup.exact(df, idCol, textCol).select(col(idCol))
        df.join(keep, Seq(idCol), "left_semi")
      case "minhash" =>
        // the input is read twice (signatures, then the anti-join):
        // persist it so the upstream pipeline evaluates once, and
        // release it after the checkpoint — the Validate step's pattern
        val input = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val pairs = graft.operators.Dedup.minhashLsh(input, idCol, textCol,
            threshold = threshold)
          val groups = graft.operators.Dedup.nearDupGroups(pairs, // eager
            maxIters = maxIters, localMaxPairs = localMaxPairs)
          graft.operators.Dedup.releaseCheckpoint(pairs)
          val losers = groups.where(col("doc_id") =!= col("group_id"))
            .select(col("doc_id").as(idCol))
          // materialize before releasing the groups checkpoint the
          // anti-join reads (same contract as the operators' own
          // materialize-then-release)
          val out = input.join(losers, Seq(idCol), "left_anti").localCheckpoint(true)
          graft.operators.Dedup.releaseCheckpoint(groups)
          out
        } finally input.unpersist(false)
      case m => throw new IllegalArgumentException(s"dedup step: unknown method '$m'")
    }
    case CurateStep(idCol, textCol, minTokens, maxTokens, langs, nearDup, threshold, keep) =>
      val effLangs = if (langs.nonEmpty) langs else graft.operators.Curation.defaultLangs
      val survivors =
        if (nearDup)
          graft.operators.Curation.curateNearDup(df, idCol, textCol, minTokens, maxTokens,
            effLangs, threshold)
        else
          graft.operators.Curation.curate(df, idCol, textCol, minTokens, maxTokens, effLangs)
      // keep_columns: curation as a FILTER — semi-join the survivor ids
      // back so every flowing column continues downstream. The curate
      // report names its id column literally "doc_id" whatever the
      // input id was — rename it back (curateNearDup's own pattern)
      if (!keep) survivors
      else df.join(survivors.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    case PackStep(seqLen, idCol, textCol, lengthCol) =>
      graft.operators.Packing.sequencePack(df, seqLen, idCol = idCol, textCol = textCol,
        lengthCol = lengthCol.map(col).orNull)
    case MixtureStep(targets, idCol, domainCol) =>
      graft.operators.Curation.mixtureSample(df, targets, idCol, domainCol)
    case ShardStep(nShards, idCol) =>
      graft.operators.Curation.shardAssign(df, nShards, idCol)
    case ChunkStep(windowTokens, strideTokens, idCol, textCol) =>
      graft.operators.Curation.chunkOverlap(df, windowTokens, strideTokens, idCol, textCol)
    case SpanScoreStep(store, admit, idCol, textCol) =>
      // coverage joins ON as columns — a later filter step thresholds
      // dup_frac, the curation-pipeline shape
      val scored = graft.operators.IncrementalDedup.spanDelta(
        spark, df, store, idCol, textCol, append = admit).scores
      df.join(scored.select(col("doc_id").as(idCol),
        col("dup_chars"), col("dup_frac")), Seq(idCol))
    case SpanDedupStep(window, minDocs, hashed, idCol, textCol) =>
      // join-back by id so every non-text column flows through; the
      // cleaned text REPLACES textCol in place
      val cleaned = graft.operators.Dedup.removeDuplicatedSpans(
        df, idCol, textCol, window, minDocs, hashed)
      df.drop(textCol).join(
        cleaned.select(col("doc_id").as(idCol), col("clean_text").as(textCol)),
        Seq(idCol))
    case VocabStep(topK, minDocFreq, idCol, textCol) =>
      graft.operators.TextAnalysis.vocab(df, topK, minDocFreq, idCol, textCol)
    case LmScoreStep(refTable, minCount, idCol, textCol) =>
      val lm = graft.operators.NgramLm.trainBigrams(spark.table(refTable),
        textCol, minCount)
      val scored = graft.operators.NgramLm.scoreDocs(df, lm, textCol, idCol)
      df.join(scored, Seq(idCol)) // scored keys by idCol already
    case BpeCountStep(refTable, steps, idCol, textCol) =>
      val merges = graft.operators.BpeTrainer.train(spark, spark.table(refTable),
        steps, textCol)
      df.withColumn("n_words", graft.operators.BpeTrainer.wordCount(col(textCol)))
        .withColumn("n_bpe_tokens",
          graft.operators.BpeTrainer.tokenCount(col(textCol), merges))
    case DecontaminateStep(evalTable, mode, n, idCol, textCol) =>
      val eval = spark.table(evalTable)
      mode match {
        case "flag"  => graft.operators.Curation.decontaminate(df, eval, idCol, textCol, n)
        case "score" => graft.operators.Curation.contaminationScore(df, eval, idCol, textCol, n)
        case _ => // drop: anti-join the flagged set — all columns survive
          val flagged = graft.operators.Curation
            .decontaminate(df, eval, idCol, textCol, n).select(col(idCol))
          df.join(flagged, Seq(idCol), "left_anti")
      }
    case SplitStep(trainPct, method, threshold, idCol, textCol) =>
      val groups = method match {
        case "minhash" =>
          val pairs = graft.operators.Dedup.minhashLsh(df, idCol, textCol,
            threshold = threshold)
          val verified = graft.operators.Dedup.jaccardVerify(df, pairs, idCol, textCol,
            threshold = threshold)
          graft.operators.Dedup.releaseCheckpoint(pairs)
          val g = graft.operators.Dedup.nearDupGroups(verified)
          graft.operators.Dedup.releaseCheckpoint(verified)
          g.withColumnRenamed("doc_id", idCol)
        case _ => // exact: fingerprint groups of size > 1, min id labels
          val fp = df.select(col(idCol),
            graft.operators.TextAnalysis.fingerprint(col(textCol)).as("_fp"))
          val heads = fp.groupBy(col("_fp"))
            .agg(min(col(idCol)).as("group_id"), count(lit(1)).as("_n"))
            .where(col("_n") > 1)
          fp.join(heads, Seq("_fp")).select(col(idCol), col("group_id"))
      }
      // APPEND split columns to the flowing frame (leakageSplit itself
      // projects to the id — the step keeps the corpus columns)
      val split = graft.operators.Curation.leakageSplit(df, groups, trainPct, idCol)
        .select(col(idCol), col("group_id"), col("split"))
      val out = df.join(split, Seq(idCol)).localCheckpoint(true)
      graft.operators.Dedup.releaseCheckpoint(groups)
      out
    case Validate(columns, tableRules, logPath) =>
      val specs = columns.filter(_.constraints.nonEmpty)
        .map(c => ColumnConstraints(c.name, c.constraints))
      // The step runs up to four EAGER actions (two log writes, the
      // enforce count, the table-rule probe) before `valid` flows on to
      // the sink — each would re-execute the whole upstream pipeline.
      // Persist the step input for the duration of the eager actions
      // (first action fills the cache, the rest reuse it), release
      // before returning: the sink's later scan recomputes once from
      // source, for 2 upstream passes total instead of ~5.
      val actions = 1 /* enforce */ + tableRules.size +
        logPath.size + spec.validationLogTable.size
      val input =
        if (actions > 1) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else df
      val res = Validator.validate(input, spec.name, specs)
      try {
        logPath.foreach(p =>
          res.failureLog.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(p))
        // Warn failures also append to the catalog validation-log table
        // when the pipeline declares one (writer.py:21-22; table created
        // by Ddl.create with the failureLog's exact schema).
        spec.validationLogTable.filter(_ => res.failureLog.schema.nonEmpty).foreach(t =>
          res.failureLog.write.insertInto(t))
        Validator.enforce(res)
        tableRules.foreach { tr =>
          val bad = Validator.checkTable(res.valid, tr)
          if (bad.limit(1).count() > 0)
            throw new graft.quality.ValidationException(s"table rule ${tr.name} failed")
        }
      } finally if (actions > 1) input.unpersist(false)
      res.valid // lazy — recomputes from source at the sink's action
  }

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd`, or an ISO
    * date-time (space or 'T' separated; no zone = UTC, delta-spark's
    * session default posture for a declarative spec).
    */
  private def parseTsMillis(name: String, s: String): Long = {
    if (s.nonEmpty && s.forall(_.isDigit)) return s.toLong
    val t = s.replace(' ', 'T')
    try java.time.Instant.parse(if (t.endsWith("Z") || t.contains("+")) t else t + "Z")
      .toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      try java.time.LocalDate.parse(s)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"source '$name': timestampAsOf must be epoch millis, yyyy-MM-dd, or an " +
            s"ISO date-time; got '$s'")
      }
    }
  }
}

object Pipeline {
  def apply(spark: SparkSession, spec: PipelineSpec): Pipeline = new Pipeline(spark, spec)

  /** Silver transform (spark/steps/transformer.py:362-431): rename,
    * SQL expression with `{col}` placeholder, cast/try_cast,
    * optional-column NULL fill. Columns build SEQUENTIALLY (a
    * withColumn fold) so a later expression may reference an earlier
    * output column — the reference's semantics (transformer.py builds
    * column-by-column; examples/pipelines/customer ds_login reads
    * ds_email). Catalyst's ProjectCollapsing folds the chain back into
    * ONE projection, so this still executes as a single codegen stage.
    */
  def transform(df: DataFrame, t: Transform): DataFrame = {
    val (built, _) = t.columns.foldLeft((df, df.columns.toSet)) {
      case ((d, scope), c) =>
        (d.withColumn(c.name, columnExpression(c, scope)), scope + c.name)
    }
    val out = built.select(t.columns.map(c => col(c.name)): _*)
    if (t.addControlColumns) addControlColumns(out, t) else out
  }

  /** Build one output column from its spec (transformer.py
    * _build_column_expression:378-398).
    */
  private[pipeline] def columnExpression(c: ColumnSpec, sourceCols: Set[String]): Column = {
    val origin = c.sourceName
    val base: String = c.expression match {
      case Some(e) => e.replace("{col}", s"`$origin`")
      case None if !sourceCols.contains(origin) =>
        if (c.optional) "NULL"
        else throw new IllegalArgumentException(s"required column '$origin' not in source")
      case None => s"`$origin`"
    }
    val casted = (c.dataType, c.format) match {
      // Explicit parse pattern for temporal types (drune
      // TypeDefault.format): to_date/to_timestamp instead of a blind
      // cast, so "03/01/2024"-style sources parse deterministically.
      case (Some("date"), Some(f))      => s"to_date($base, '$f')"
      case (Some("timestamp"), Some(f)) => s"to_timestamp($base, '$f')"
      case (Some(dt), _) if c.tryCast   => s"try_cast($base AS $dt)"
      case (Some(dt), _)                => s"cast($base AS $dt)"
      case (None, _)                    => base
    }
    expr(casted).as(c.name)
  }

  /** Control columns (transformer.py _add_control_columns:400-416 +
    * _transform_gold:92): hash_key = sha2 of "||"-joined sorted PK
    * columns; updated_at timestamp; created_at stamped equal to
    * updated_at for fresh rows — Writer.upsert preserves the BASE row's
    * created_at on merge, so the pair gives insert-time vs last-touch
    * time. Pure projections — no shuffle, stays in codegen.
    */
  def addControlColumns(df: DataFrame, t: Transform): DataFrame = {
    val withHash =
      if (t.primaryKey.nonEmpty)
        df.withColumn("hash_key",
          sha2(concat_ws("||", t.primaryKey.sorted.map(c => col(c).cast("string")): _*), 256))
      else df
    withHash.withColumn("updated_at", current_timestamp())
      .withColumn("created_at", col("updated_at"))
  }

  def dataHash(df: DataFrame, trackColumns: Seq[String]): DataFrame =
    df.withColumn("data_hash",
      sha2(concat_ws("||", trackColumns.sorted.map(c => col(c).cast("string")): _*), 256))
}

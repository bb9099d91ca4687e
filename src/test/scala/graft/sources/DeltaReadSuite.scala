package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta Lake interop reader against HAND-CRAFTED transaction logs —
  * built line-by-line to the public PROTOCOL.md action shapes (this
  * container has no delta-spark to write real ones, which is exactly
  * why the reader exists). Covers: snapshot add/remove replay, time
  * travel, partition-value reconstruction from log metadata,
  * checkpoint + post-checkpoint replay with cleaned commits, the
  * reader-version feature gate, and the YAML `format: delta` route.
  */
class DeltaReadSuite extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_delta").toString

  /** Write `df` as ONE parquet file named `name` under `root`. */
  private def writeDataFile(df: DataFrame, root: String, name: String): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_delta_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(root, name)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(part, dst)
  }

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def commit(root: String, version: Long, lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(root, "_delta_log", f"$version%020d.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def metaDataLine(s: StructType, partCols: Seq[String] = Nil): String =
    s"""{"metaData":{"id":"test-table","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(s.json)},""" +
      s""""partitionColumns":[${partCols.map(jstr).mkString(",")}],"configuration":{}}}"""

  private val protocolLine = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  /** Protocol-faithful add action: `size` is the REAL byte length of
    * the referenced data file (delta-spark and the log-planned read
    * both trust add.size for split planning — a log that lies about
    * sizes mis-reads in every Delta implementation). Falls back to 1
    * for deliberately-dangling paths (the absolute-path refusal test).
    */
  private def addLine(root: String, path: String, pv: Map[String, String] = null): String = {
    val pvJson = Option(pv).map(_.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")).getOrElse("{}")
    val decoded = try new java.net.URI(path).getPath catch { case _: Exception => path }
    val size = Seq(path, decoded).filter(_ != null)
      .map(n => java.nio.file.Paths.get(root, n))
      .find(java.nio.file.Files.exists(_))
      .map(java.nio.file.Files.size(_)).getOrElse(1L)
    s"""{"add":{"path":${jstr(path)},"partitionValues":$pvJson,"size":$size,""" +
      s""""modificationTime":1,"dataChange":true}}"""
  }

  private def removeLine(path: String): String =
    s"""{"remove":{"path":${jstr(path)},"deletionTimestamp":1,"dataChange":true}}"""

  test("snapshot replay: adds accumulate, removes drop files, time travel works") {
    val root = tmp()
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f2.parquet")
    writeDataFile(Seq((4L, "d")).toDF("id", "v"), root, "f3.parquet")
    commit(root, 0, Seq(protocolLine, metaDataLine(schema),
      addLine(root, "f1.parquet"), addLine(root, "f2.parquet")))
    commit(root, 1, Seq(removeLine("f1.parquet"), addLine(root, "f3.parquet")))
    assert(DeltaRead.isDeltaTable(spark, root))
    assert(DeltaRead.versions(spark, root) == Seq(0L, 1L))
    val latest = DeltaRead.read(spark, root).collect().map(_.getLong(0)).sorted
    assert(latest.toSeq == Seq(3L, 4L), "remove must drop f1, add must bring f3")
    val v0 = DeltaRead.read(spark, root, Some(0L)).collect().map(_.getLong(0)).sorted
    assert(v0.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaRead.read(spark, root).schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("partitioned table: partition values come from the log, typed by the schema") {
    val root = tmp()
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("day", IntegerType)))
    // data files carry ONLY the data column — day exists just in the log
    writeDataFile(Seq(Tuple1(1L)).toDF("id"), root, "day=7/p1.parquet")
    writeDataFile(Seq(Tuple1(2L)).toDF("id"), root, "day=8/p2.parquet")
    commit(root, 0, Seq(protocolLine, metaDataLine(pSchema, Seq("day")),
      addLine(root, "day=7/p1.parquet", Map("day" -> "7")),
      addLine(root, "day=8/p2.parquet", Map("day" -> "8"))))
    val rows = DeltaRead.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(rows.toSeq == Seq((1L, 7), (2L, 8)))
    assert(DeltaRead.read(spark, root).schema("day").dataType == IntegerType)
    // LOG-PLANNED: one ManifestFileIndex scan (sizes + partition
    // values from the log), not a union branch per partition tuple
    val df = DeltaRead.read(spark, root)
    val idx = df.queryExecution.logical.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
        rel.location
    }
    assert(idx.exists(_.isInstanceOf[org.apache.spark.sql.graftbridge.ManifestFileIndex]),
      s"partitioned delta read must be one log-planned scan:\n${df.queryExecution.logical}")
  }

  test("metadata-only partitioning (one dir, two tuples) falls back to the union path, still correct") {
    val root = tmp()
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("day", IntegerType)))
    // both files live in the ROOT dir; partition values exist ONLY in
    // the log — legal per the protocol, not dir-mappable for pruning
    writeDataFile(Seq(Tuple1(1L)).toDF("id"), root, "m1.parquet")
    writeDataFile(Seq(Tuple1(2L)).toDF("id"), root, "m2.parquet")
    commit(root, 0, Seq(protocolLine, metaDataLine(pSchema, Seq("day")),
      addLine(root, "m1.parquet", Map("day" -> "7")),
      addLine(root, "m2.parquet", Map("day" -> "8"))))
    val df = DeltaRead.read(spark, root)
    val manifestPlanned = df.queryExecution.logical.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _)
        if rel.location.isInstanceOf[org.apache.spark.sql.graftbridge.ManifestFileIndex] => ()
    }
    assert(manifestPlanned.isEmpty, "one dir with two tuples must take the union path")
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((1L, 7), (2L, 8)))
  }

  test("checkpoint + replay: reconstruction starts at the checkpoint, cleaned commits ok") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "f2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f3.parquet")
    // checkpoint at v1 holds the compacted state: metaData + live adds
    // (f1 was added in v0 and removed in v1 — absent from the checkpoint)
    val ckptRows = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("f2.parquet", Map.empty[String, String]), null, null),
      org.apache.spark.sql.Row(null, org.apache.spark.sql.Row(schema.json, Seq.empty[String]), null),
      org.apache.spark.sql.Row(null, null, org.apache.spark.sql.Row(1))),
      StructType(Seq(
        StructField("add", StructType(Seq(
          StructField("path", StringType),
          StructField("partitionValues", MapType(StringType, StringType))))),
        StructField("metaData", StructType(Seq(
          StructField("schemaString", StringType),
          StructField("partitionColumns", ArrayType(StringType))))),
        StructField("protocol", StructType(Seq(
          StructField("minReaderVersion", IntegerType)))))))
    val stage = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    ckptRows.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.move(part, logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
    // commits 0 and 1 were CLEANED (delta log cleanup); only v2 remains
    commit(root, 2, Seq(addLine(root, "f3.parquet")))
    val rows = DeltaRead.read(spark, root).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(2L, 3L),
      "checkpoint state (f2) + replayed commit (f3), cleaned commits untouched")
  }

  test("multi-part checkpoint: all parts read; an incomplete one is not a checkpoint") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "f2.parquet")
    val ckptSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)))))))
    def writeCkptPart(rows: Seq[org.apache.spark.sql.Row], name: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft_mckpt").toString
      spark.createDataFrame(rows.asJava, ckptSchema)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.move(part, logDir.resolve(name))
    }
    import org.apache.spark.sql.Row
    // complete 2-part checkpoint at v1: metaData in part 1, adds split
    writeCkptPart(Seq(
      Row(null, Row(schema.json, Seq.empty[String])),
      Row(Row("f1.parquet", Map.empty[String, String]), null)),
      f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writeCkptPart(Seq(Row(Row("f2.parquet", Map.empty[String, String]), null)),
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    // INCOMPLETE multi-part at v5 (part 1 of 2 only): must be ignored —
    // treating it as a checkpoint would silently drop f2
    writeCkptPart(Seq(Row(Row("f1.parquet", Map.empty[String, String]), null)),
      f"${5L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    val rows = DeltaRead.read(spark, root).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L), "both checkpoint parts must contribute")
  }

  test("log paths decode as URIs: %20 = space, literal '+' stays plus, checkpoint adds match later removes") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "x y.parquet")
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "a+b.parquet")
    // JSON route: encoded space + literal plus (URLDecoder would turn
    // the '+' into a space and miss the file on disk)
    commit(root, 0, Seq(protocolLine, metaDataLine(schema),
      addLine(root, "x%20y.parquet"), addLine(root, "a+b.parquet")))
    assert(DeltaRead.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // checkpoint route: the SAME encoded form in a checkpoint add must
    // land in the same key space, so the post-checkpoint remove matches
    val root2 = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root2, "x y.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root2, "f3.parquet")
    val ckptSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)))))))
    val stage = java.nio.file.Files.createTempDirectory("graft_enc").toString
    spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(null, org.apache.spark.sql.Row(schema.json, Seq.empty[String])),
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("x%20y.parquet", Map.empty[String, String]), null)).asJava,
      ckptSchema).coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val logDir = java.nio.file.Paths.get(root2, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.move(part, logDir.resolve(f"${0L}%020d.checkpoint.parquet"))
    commit(root2, 1, Seq(removeLine("x%20y.parquet"), addLine(root2, "f3.parquet")))
    assert(DeltaRead.read(spark, root2).collect().map(_.getLong(0)).toSeq == Seq(3L),
      "a remove after the checkpoint must drop the checkpointed encoded add")
  }

  test("absolute-path add entries are refused loudly (shallow clones / absolute writers)") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    // PROTOCOL.md allows add.path to be an absolute URI; resolving it
    // against THIS root would read the wrong location — must refuse
    for (abs <- Seq("file:///other/table/f9.parquet", "s3://bucket/t/f9.parquet",
                    "/other/table/f9.parquet")) {
      val r = tmp()
      writeDataFile(Seq((1L, "a")).toDF("id", "v"), r, "f1.parquet")
      commit(r, 0, Seq(protocolLine, metaDataLine(schema), addLine(r, abs)))
      val e = intercept[IllegalStateException] { DeltaRead.read(spark, r) }
      assert(e.getMessage.contains("ABSOLUTE"), s"for $abs: ${e.getMessage}")
    }
    // relative encoded paths keep working
    commit(root, 0, Seq(protocolLine, metaDataLine(schema), addLine(root, "f1.parquet")))
    assert(DeltaRead.read(spark, root).count() == 1L)
  }

  test("versions() lists checkpoint-only versions a cleaned log can still serve") {
    val root = tmp()
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "f2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f3.parquet")
    val ckptRows = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("f2.parquet", Map.empty[String, String]), null),
      org.apache.spark.sql.Row(null, org.apache.spark.sql.Row(schema.json, Seq.empty[String]))),
      StructType(Seq(
        StructField("add", StructType(Seq(
          StructField("path", StringType),
          StructField("partitionValues", MapType(StringType, StringType))))),
        StructField("metaData", StructType(Seq(
          StructField("schemaString", StringType),
          StructField("partitionColumns", ArrayType(StringType))))))))
    val stage = java.nio.file.Files.createTempDirectory("graft_vck").toString
    ckptRows.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.move(part, logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
    // commits 0/1 cleaned: v1 survives ONLY as the checkpoint, v2 as json
    commit(root, 2, Seq(addLine(root, "f3.parquet")))
    assert(DeltaRead.versions(spark, root) == Seq(1L, 2L),
      "a checkpoint-only version is readable (snapshot starts there) so it must be listed")
    assert(DeltaRead.read(spark, root, Some(1L)).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("newer reader features are refused loudly, not silently misread") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    // typeWidening became SUPPORTED in round 17 — the unknown-feature
    // refusal pins against a name no protocol version defines
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["futureCompression"],"writerFeatures":["futureCompression"]}}""",
      metaDataLine(schema), addLine(root, "f1.parquet")))
    val e = intercept[IllegalArgumentException] { DeltaRead.read(spark, root) }
    assert(e.getMessage.contains("futureCompression"))
    // reader versions past the supported protocol refuse by number
    val root2 = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root2, "f1.parquet")
    commit(root2, 0, Seq(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}""",
      metaDataLine(schema), addLine(root2, "f1.parquet")))
    val e2 = intercept[IllegalArgumentException] { DeltaRead.read(spark, root2) }
    assert(e2.getMessage.contains("minReaderVersion=4"))
  }

  test("newest protocol action wins before and after a checkpoint") {
    // a foreign log whose v1 protocol DROPS a writer feature v0 declared:
    // the replay takes the last protocol action (the spec's rule), so the
    // checkpoint — which writes that one action — reads back the same
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["appendOnly","invariants"]}}""",
      metaDataLine(schema), addLine(root, "f1.parquet")))
    commit(root, 1, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly"]}}"""))
    DeltaRead.invalidateSnapshotCache()
    val before = DeltaRead.snapshot(spark, root)
    assert(before.writerFeatures == Set("appendOnly"))
    assert(DeltaWrite.checkpoint(spark, root) == 1L)
    DeltaRead.invalidateSnapshotCache()
    val after = DeltaRead.snapshot(spark, root)
    assert(after.writerFeatures == before.writerFeatures)
    assert(after.files == before.files)
  }

  test("checkpoint actions read back whether or not JSON output keeps null fields") {
    // a session writing JSON nulls serialises each checkpoint row with
    // every empty action column present; none of them is an action
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["appendOnly","invariants"]}}""",
      metaDataLine(schema), addLine(root, "f1.parquet"),
      """{"txn":{"appId":"sink-1","version":3,"lastUpdated":1}}"""))
    DeltaRead.invalidateSnapshotCache()
    val before = DeltaRead.snapshot(s2, root)
    assert(DeltaWrite.checkpoint(s2, root) == 0L)
    // a tail with a metaData action but no protocol action: the next
    // checkpoint carries the seed's protocol, not a default one
    commit(root, 1, Seq(metaDataLine(schema)))
    assert(DeltaWrite.checkpoint(s2, root) == 1L)
    for (v <- Seq(0L, 1L)) {
      DeltaRead.invalidateSnapshotCache()
      val after = DeltaRead.snapshot(s2, root, Some(v))
      assert((after.minReader, after.minWriter) == ((1, 7)), s"v$v")
      assert(after.writerFeatures == Set("appendOnly", "invariants"), s"v$v")
      assert(after.txns == Map("sink-1" -> 3L), s"v$v")
      assert(after.schema == before.schema, s"v$v")
      assert(after.files == before.files, s"v$v")
    }
  }

  // --- column mapping (reader protocol v2 / v3-columnMapping) ---

  private def mappedField(logical: String, dt: DataType, id: Long, physical: String) =
    StructField(logical, dt, nullable = true, new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", physical).build())

  private def mappedMetaData(s: StructType, partCols: Seq[String] = Nil,
                             mode: String = "name"): String =
    s"""{"metaData":{"id":"cm-table","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(s.json)},""" +
      s""""partitionColumns":[${partCols.map(jstr).mkString(",")}],""" +
      s""""configuration":{"delta.columnMapping.mode":${jstr(mode)},""" +
      s""""delta.columnMapping.maxColumnId":"9"}}}"""

  private val cmProtocol =
    """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""

  test("column mapping (name mode): physical parquet names read back as the logical schema") {
    val root = tmp()
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("col-aaa111", "col-bbb222"),
      root, "f1.parquet")
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222")))
    commit(root, 0, Seq(cmProtocol, mappedMetaData(mapped), addLine(root, "f1.parquet")))
    val out = DeltaRead.read(spark, root)
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // v3 with the columnMapping feature declared is equally readable
    val root3 = tmp()
    writeDataFile(Seq((9L, "z")).toDF("col-aaa111", "col-bbb222"), root3, "f1.parquet")
    commit(root3, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      mappedMetaData(mapped), addLine(root3, "f1.parquet")))
    assert(DeltaRead.read(spark, root3).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("column mapping: partition-value keys are physical in the log, logical in the frame") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("col-aaa111", "col-bbb222"),
      root, "col-ppp333=1/f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("col-aaa111", "col-bbb222"),
      root, "col-ppp333=2/f2.parquet")
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222"),
      mappedField("p", LongType, 3, "col-ppp333")))
    commit(root, 0, Seq(cmProtocol, mappedMetaData(mapped, partCols = Seq("p")),
      addLine(root, "col-ppp333=1/f1.parquet", Map("col-ppp333" -> "1")),
      addLine(root, "col-ppp333=2/f2.parquet", Map("col-ppp333" -> "2"))))
    val out = DeltaRead.read(spark, root)
    assert(out.columns.toSeq == Seq("id", "v", "p"))
    assert(out.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a", 1L), (2L, "b", 2L)))
    // partition pruning still works through the logical name
    assert(out.where(col("p") === 2L).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("id-mode column mapping: files resolve by parquet FIELD ID, whatever the columns are named") {
    import org.apache.spark.sql.Row
    val root = tmp()
    // the Iceberg-converted shape: the parquet keeps its ORIGINAL
    // column names (ice_k/ice_v) and carries field ids 1/2 in the
    // footer; the Delta schema maps logical k/v → ids 1/2 under
    // physicalNames that do NOT match the parquet names — only the
    // ids can resolve this file
    val iceSchema = StructType(Seq(
      StructField("ice_k", LongType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()),
      StructField("ice_v", StringType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 2L).build())))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a"), Row(2L, "b")), iceSchema)
    writeDataFile(df, root, "f1.parquet")
    val mapped = StructType(Seq(
      mappedField("k", LongType, 1, "col-k"),
      mappedField("v", StringType, 2, "col-v")))
    commit(root, 0, Seq(cmProtocol, mappedMetaData(mapped, mode = "id"),
      addLine(root, "f1.parquet")))
    val out = DeltaRead.read(spark, root)
    assert(out.columns.toSeq == Seq("k", "v"))
    assert(out.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a filter on the logical name still plans and answers correctly
    assert(out.where(col("k") === 2L).collect().map(_.getString(1)).toSeq == Seq("b"))
    // round 15: id-mode WRITES land too — the appended file carries
    // footer field ids (the id-resolving read below REQUIRES them:
    // fieldId.read with an id-less file errors, so a successful
    // round trip proves the ids landed), alongside the original
    // ice-named file in one snapshot
    DeltaWrite.append(spark, Seq((3L, "c")).toDF("k", "v"), root)
    assert(DeltaRead.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // DML on the id table: DV delete + compaction, still id-resolved
    DeltaWrite.delete(spark, root, "k = 1")
    assert(DeltaRead.read(spark, root).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    DeltaWrite.compact(spark, root, targetFiles = 1)
    assert(DeltaRead.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b"), (3L, "c")))
    // the spec-invalid shape still refuses: a field with no id
    val root2 = tmp()
    writeDataFile(df, root2, "f1.parquet")
    val noId = StructType(Seq(
      mappedField("k", LongType, 1, "col-k"),
      StructField("v", StringType, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", "col-v").build())))
    commit(root2, 0, Seq(cmProtocol, mappedMetaData(noId, mode = "id"),
      addLine(root2, "f1.parquet")))
    val e = intercept[UnsupportedOperationException] {
      DeltaWrite.append(spark, Seq((9L, "z")).toDF("k", "v"), root2)
    }
    assert(e.getMessage.contains("delta.columnMapping.id"), e.getMessage)
  }

  test("NESTED mapped schemas: reads, appends, DML and full overwrite land") {
    import org.apache.spark.sql.Row
    val root2 = tmp()
    // physical file: every level physical-named
    val physSchema = StructType(Seq(
      StructField("col-aaa111", LongType),
      StructField("col-bbb222", StructType(Seq(
        StructField("col-xxx", LongType), StructField("col-yyy", StringType)))),
      StructField("col-ccc333", org.apache.spark.sql.types.ArrayType(
        StructType(Seq(StructField("col-zzz", LongType)))))))
    writeDataFile(spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Row(10L, "ten"), Seq(Row(100L), Row(101L))),
      Row(2L, Row(20L, "twenty"), Seq(Row(200L)))), physSchema), root2, "f1.parquet")
    // logical schema: physicalName metadata at EVERY level
    val nested = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("s", StructType(Seq(
        mappedField("x", LongType, 3, "col-xxx"),
        mappedField("y", StringType, 4, "col-yyy"))), 2, "col-bbb222"),
      mappedField("arr", org.apache.spark.sql.types.ArrayType(StructType(Seq(
        mappedField("z", LongType, 6, "col-zzz")))), 5, "col-ccc333")))
    commit(root2, 0, Seq(cmProtocol, mappedMetaData(nested), addLine(root2, "f1.parquet")))
    val out = DeltaRead.read(spark, root2)
    assert(out.columns.toSeq == Seq("id", "s", "arr"))
    // inner fields answer to their LOGICAL names
    val got = out.select(col("id"), col("s.x"), col("s.y"),
        expr("arr[0].z"), expr("size(arr)"))
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4))).toSeq
    assert(got == Seq((1L, 10L, "ten", 100L, 2), (2L, 20L, "twenty", 200L, 1)))
    // snapshot schema is the logical one, nested included
    assert(DeltaRead.snapshot(spark, root2).schema("s").dataType
      .asInstanceOf[StructType].fieldNames.toSeq == Seq("x", "y"))
    // APPEND with logical nested rows: the writer recursively casts to
    // the physicalized type, so the new file's inner names are physical
    val logicalSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType)))),
      StructField("arr", org.apache.spark.sql.types.ArrayType(
        StructType(Seq(StructField("z", LongType)))))))
    DeltaWrite.append(spark, spark.createDataFrame(java.util.Arrays.asList(
      Row(3L, Row(30L, "thirty"), Seq(Row(300L)))), logicalSchema), root2) // v1
    val after = DeltaRead.read(spark, root2).orderBy("id")
    assert(after.select(col("id"), col("s.x"), expr("arr[0].z")).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L)))
    // the appended file itself carries PHYSICAL names at every level
    val newFile = DeltaRead.snapshot(spark, root2).files.keySet
      .find(_ != "f1.parquet").get
    val raw = spark.read.parquet(new java.io.File(
      root2.stripPrefix("file:"), newFile).toString).schema
    assert(raw.fieldNames.toSet == Set("col-aaa111", "col-bbb222", "col-ccc333"), raw)
    assert(raw("col-bbb222").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("col-xxx", "col-yyy"), raw)
    // in-place DML works too: DV delete keeps logical reads coherent
    DeltaWrite.delete(spark, root2, "id = 1")                              // v2
    assert(DeltaRead.read(spark, root2).select("id").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // schema-CHANGE surfaces work too (round 16): a full overwrite
    // reconciles surviving inner bindings instead of refusing
    DeltaWrite.overwrite(spark,
      spark.createDataFrame(java.util.Arrays.asList(
        Row(9L, Row(90L, "ninety"), Seq(Row(900L)))), logicalSchema), root2) // v3
    val snapO = DeltaRead.snapshot(spark, root2)
    val sAfter = snapO.schema("s")
    assert(sAfter.metadata.getString("delta.columnMapping.physicalName") == "col-bbb222")
    assert(sAfter.dataType.asInstanceOf[StructType]("x")
      .metadata.getString("delta.columnMapping.physicalName") == "col-xxx")
    assert(DeltaRead.read(spark, root2)
      .select(col("id"), col("s.y"), expr("arr[0].z")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((9L, "ninety", 900L)))

    val root3 = tmp()
    writeDataFile(Seq((1L, "a")).toDF("col-aaa111", "col-bbb222"), root3, "f1.parquet")
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222")))
    commit(root3, 0, Seq(cmProtocol, mappedMetaData(mapped), addLine(root3, "f1.parquet")))
    // the full overwrite (schema-change surface) WORKS on flat
    // name-mode tables — survivors keep their physical binding
    DeltaWrite.overwrite(spark, Seq((3L, "c")).toDF("id", "v"), root3)
    assert(DeltaRead.read(spark, root3).collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(DeltaRead.snapshot(spark, root3).colMap("id") == "col-aaa111")
    // round 15: mapped tables STREAM too — logical columns out, and a
    // tail append arrives as its own micro-batch
    val q = spark.readStream.format("graft-delta").load(root3)
      .writeStream.format("memory").queryName("cm_stream")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cm_stream").columns.toSeq == Seq("id", "v"))
      assert(spark.table("cm_stream").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(3L -> "c"))
      DeltaWrite.append(spark, Seq((4L, "d")).toDF("id", "v"), root3)
      q.processAllAvailable()
      assert(spark.table("cm_stream").orderBy("id").collect()
        .map(_.getLong(0)).toSeq == Seq(3L, 4L))
    } finally q.stop()
  }

  test("column-mapped PARTITIONED table streams with logical partition values") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("col-aaa111", "col-bbb222"),
      root, "col-ppp333=1/f1.parquet")
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222"),
      mappedField("p", LongType, 3, "col-ppp333")))
    commit(root, 0, Seq(cmProtocol, mappedMetaData(mapped, partCols = Seq("p")),
      addLine(root, "col-ppp333=1/f1.parquet", Map("col-ppp333" -> "1"))))
    val q = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName("cm_part_stream")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      // a TAIL append (physical pv keys in its commit JSON) must
      // arrive with the logical partition column populated
      writeDataFile(Seq((2L, "b")).toDF("col-aaa111", "col-bbb222"),
        root, "col-ppp333=2/f2.parquet")
      commit(root, 1, Seq(
        addLine(root, "col-ppp333=2/f2.parquet", Map("col-ppp333" -> "2"))))
      q.processAllAvailable()
      assert(spark.table("cm_part_stream").columns.toSeq == Seq("id", "v", "p"))
      assert(spark.table("cm_part_stream").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq((1L, "a", 1L), (2L, "b", 2L)))
    } finally q.stop()
  }

  test("YAML `format: delta` source routes through the interop reader") {
    val root = tmp()
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((9L, "z")).toDF("id", "v"), root, "f2.parquet")
    commit(root, 0, Seq(protocolLine, metaDataLine(schema), addLine(root, "f1.parquet")))
    commit(root, 1, Seq(addLine(root, "f2.parquet")))
    val spec = graft.pipeline.YamlLoader.load(
      s"""pipeline_name: delta_in
         |sources:
         |  - name: d
         |    type: file
         |    format: delta
         |    path: $root
         |steps:
         |  - type: filter
         |    params:
         |      where: id < 5
         |""".stripMargin)
    val out = graft.pipeline.Pipeline(spark, spec).run().collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L))
    // versionAsOf option = delta-spark's time-travel spelling
    val spec0 = graft.pipeline.YamlLoader.load(
      s"""pipeline_name: delta_tt
         |sources:
         |  - name: d
         |    type: file
         |    format: delta
         |    path: $root
         |    options:
         |      versionAsOf: "0"
         |""".stripMargin)
    assert(graft.pipeline.Pipeline(spark, spec0).run().count() == 2L)
    // GRAFT_READ auto-detects a foreign Delta root: same SQL surface
    assert(spark.sql(s"GRAFT_READ('$root')").count() == 3L)
    assert(spark.sql(s"GRAFT_READ('$root', 0)").count() == 2L)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT_READ('$root', SINCE 0)")
    }
    assert(e.getMessage.contains("Delta table"))
    assert(spark.sql(s"GRAFT_VERSIONS('$root')").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }

  test("timestampAsOf: mtime-resolved version, monotonic adjustment, YAML route, refusals") {
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "f2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f3.parquet")
    commit(root, 0, Seq(protocolLine, metaDataLine(schema), addLine(root, "f1.parquet")))
    commit(root, 1, Seq(addLine(root, "f2.parquet")))
    commit(root, 2, Seq(addLine(root, "f3.parquet")))
    def stamp(v: Long, ts: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json"),
        java.nio.file.attribute.FileTime.fromMillis(ts))
    val t0 = 1700000000000L
    stamp(0, t0); stamp(1, t0 + 10000); stamp(2, t0 + 5000) // v2 SKEWED before v1
    assert(DeltaRead.versionAt(spark, root, t0) == 0L)
    assert(DeltaRead.versionAt(spark, root, t0 + 9999) == 0L)
    assert(DeltaRead.versionAt(spark, root, t0 + 10000) == 1L)
    // monotonic adjustment: the skewed v2 reads as v1's ts + 1
    assert(DeltaRead.versionAt(spark, root, t0 + 10001) == 2L)
    assert(DeltaRead.versionAt(spark, root, System.currentTimeMillis) == 2L)
    assert(DeltaRead.readAt(spark, root, t0 + 10000).count() == 2L)
    val e = intercept[IllegalArgumentException] {
      DeltaRead.versionAt(spark, root, t0 - 1)
    }
    assert(e.getMessage.contains("predates"))
    // YAML spelling (epoch millis form); mutually exclusive with versionAsOf
    val spec = graft.pipeline.YamlLoader.load(
      s"""pipeline_name: delta_ts
         |sources:
         |  - name: d
         |    type: file
         |    format: delta
         |    path: $root
         |    options:
         |      timestampAsOf: "${t0 + 10000}"
         |""".stripMargin)
    assert(graft.pipeline.Pipeline(spark, spec).run().count() == 2L)
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.Pipeline(spark, graft.pipeline.YamlLoader.load(
        s"""pipeline_name: delta_both
           |sources:
           |  - name: d
           |    type: file
           |    format: delta
           |    path: $root
           |    options: {versionAsOf: "0", timestampAsOf: "${t0}"}
           |""".stripMargin)).run()
    }
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("importDelta migrates a snapshot into a fresh graft versioned table") {
    import graft.pipeline.VersionedTable
    val root = tmp()
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f2.parquet")
    commit(root, 0, Seq(protocolLine, metaDataLine(schema), addLine(root, "f1.parquet")))
    commit(root, 1, Seq(addLine(root, "f2.parquet")))
    val dst = tmp() + "/t"
    assert(DeltaRead.importDelta(spark, root, dst) == 1L)
    assert(VersionedTable.read(spark, dst).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
    // migrated table gets the full graft surface: O(delta) appends
    VersionedTable.commitDelta(spark, dst, "parquet", Seq((9L, "z")).toDF("id", "v"))
    assert(VersionedTable.read(spark, dst).count() == 4L)
    // a non-fresh target refuses (migration is not a merge)
    val e = intercept[IllegalArgumentException] {
      DeltaRead.importDelta(spark, root, dst)
    }
    assert(e.getMessage.contains("FRESH graft root"))
  }

  test("v2 (UUID, sidecar) checkpoints: adds from sidecars, tail replay, classic fold on top") {
    import org.apache.spark.sql.Row
    val root = tmp()
    writeDataFile(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f2.parquet")
    writeDataFile(Seq((9L, "z")).toDF("id", "v"), root, "f3.parquet")
    def sz(n: String) = java.nio.file.Files.size(java.nio.file.Paths.get(root, n))
    // sidecar parquet holds the checkpoint's file state: f1 + f2
    val sideName = java.util.UUID.randomUUID().toString + ".parquet"
    val addSchema = StructType(Seq(StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType))))))
    val sideDf = spark.createDataFrame(java.util.Arrays.asList(
      Row(Row("f1.parquet", Map.empty[String, String], sz("f1.parquet"))),
      Row(Row("f2.parquet", Map.empty[String, String], sz("f2.parquet")))), addSchema)
    writeDataFile(sideDf, root, s"_delta_log/_sidecars/$sideName")
    // UUID-named main checkpoint at v1: non-file actions + the sidecar ref
    val mainSchema = StructType(Seq(
      StructField("checkpointMetadata", StructType(Seq(StructField("version", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType), StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType), StructField("sizeInBytes", LongType))))))
    val mainDf = spark.createDataFrame(java.util.Arrays.asList(
      Row(Row(1L), null, null, null),
      Row(null, Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null),
      Row(null, null,
        Row("v2-table", schema.json, Seq.empty[String], Map.empty[String, String]), null),
      Row(null, null, null, Row(sideName, 1L))), mainSchema)
    val uuid = java.util.UUID.randomUUID()
    writeDataFile(mainDf, root, f"_delta_log/${1L}%020d.checkpoint.$uuid.parquet")
    // pointer at v1: the classic name doesn't exist, so the fast path
    // falls back to the listing — which must discover the UUID form
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_delta_log", "_last_checkpoint"),
      """{"version":1}""".getBytes("UTF-8"))
    commit(root, 2, Seq(addLine(root, "f3.parquet"))) // tail on top
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 9L))
    assert(DeltaRead.read(spark, root, Some(1L)).count() == 3L,
      "checkpoint-only version is time-travelable")
    assert(DeltaRead.versions(spark, root).toSet == Set(1L, 2L))
    // round 14: the fold resolves the sidecars and writes a CLASSIC
    // checkpoint on top — legal under the v2Checkpoint FEATURE alone
    assert(DeltaWrite.checkpoint(spark, root) == 2L)
    val logDir = new java.io.File(root, "_delta_log")
    assert(logDir.list().contains(f"${2L}%020d.checkpoint.parquet"))
    // the fold alone serves the state: clean the JSON tail and read
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 9L))
    // round 15: `delta.checkpointPolicy = v2` PINS the v2 form — the
    // fold now EMITS it (UUID-named main + sidecars) instead of refusing
    DeltaWrite.setProperties(spark, root, Map("delta.checkpointPolicy" -> "v2")) // v3
    assert(DeltaWrite.checkpoint(spark, root) == 3L)
    assert(logDir.list().exists(_.matches(
      f"${3L}%020d\\.checkpoint\\.[0-9a-f]{8}-[0-9a-f-]{27}\\.parquet")))
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 9L))
  }

  test("importDelta is the escape hatch for DV'd + column-mapped tables: live rows only, logical names") {
    import graft.pipeline.VersionedTable
    val root = tmp()
    writeDataFile((0L until 6L).map(i => (i, s"v$i")).toDF("col-aaa111", "col-bbb222"),
      root, "f1.parquet")
    val mapped = StructType(Seq(
      mappedField("id", LongType, 1, "col-aaa111"),
      mappedField("v", StringType, 2, "col-bbb222")))
    commit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["columnMapping","deletionVectors"],""" +
        """"writerFeatures":["columnMapping","deletionVectors"]}}""",
      mappedMetaData(mapped),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},""" +
        s""""size":${java.nio.file.Files.size(java.nio.file.Paths.get(root, "f1.parquet"))},""" +
        s""""modificationTime":1,"dataChange":true,${DvTestUtil.inlineDvJson(Seq(1L, 4L))}}}"""))
    // graft refuses to WRITE into this table — but migration reads the
    // corrected rows (DV applied, logical names) into a table with the
    // full graft write surface
    val dst = tmp() + "/t"
    DeltaRead.importDelta(spark, root, dst)
    val out = VersionedTable.read(spark, dst)
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 3L, 5L))
    VersionedTable.commitDelta(spark, dst, "parquet", Seq((9L, "z")).toDF("id", "v"))
    assert(VersionedTable.read(spark, dst).count() == 5L)
  }

  /** Write `rows` (add/metaData checkpoint shape) as checkpoint `name`. */
  private def writeCkpt(root: String, rows: Seq[org.apache.spark.sql.Row],
                        name: String): Unit = {
    val ckptSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)))))))
    val stage = java.nio.file.Files.createTempDirectory("graft_fck").toString
    spark.createDataFrame(rows.asJava, ckptSchema)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val logDir = java.nio.file.Paths.get(root, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.move(part, logDir.resolve(name))
  }

  private def writePointer(root: String, json: String): Unit = {
    val p = java.nio.file.Paths.get(root, "_delta_log", "_last_checkpoint")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
  }

  test("_last_checkpoint fast path: the pointer drives discovery, no log listing") {
    import org.apache.spark.sql.Row
    val root = tmp()
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "f2.parquet")
    writeDataFile(Seq((3L, "c")).toDF("id", "v"), root, "f3.parquet")
    writeDataFile(Seq((4L, "d")).toDF("id", "v"), root, "f4.parquet")
    writeCkpt(root, Seq(
      Row(Row("f2.parquet", Map.empty[String, String]), null),
      Row(null, Row(schema.json, Seq.empty[String]))),
      f"${1L}%020d.checkpoint.parquet")
    commit(root, 2, Seq(addLine(root, "f3.parquet")))
    commit(root, 3, Seq(addLine(root, "f4.parquet")))
    // DECOY: a non-contiguous far-future commit. The LISTING path would
    // take latest=9 and fail on the hole at v4 — so a passing read
    // proves the pointer (cp=1, probe tail 2,3) drove discovery.
    commit(root, 9, Seq(addLine(root, "f9.parquet")))
    writePointer(root, """{"version":1,"size":2}""")
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.version == 3L, "fast path ends the log at the first missing commit")
    assert(DeltaRead.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(2L, 3L, 4L))
    // time travel bypasses the pointer (full listing) on purpose
    assert(DeltaRead.read(spark, root, Some(2L)).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(2L, 3L))
  }

  test("_last_checkpoint fast path: multi-part pointer, stale pointer falls back") {
    import org.apache.spark.sql.Row
    // multi-part: pointer carries `parts`, file names derive from it
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "f1.parquet")
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "f2.parquet")
    writeCkpt(root, Seq(
      Row(null, Row(schema.json, Seq.empty[String])),
      Row(Row("f1.parquet", Map.empty[String, String]), null)),
      f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    writeCkpt(root, Seq(Row(Row("f2.parquet", Map.empty[String, String]), null)),
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    writePointer(root, """{"version":1,"size":3,"parts":2}""")
    assert(DeltaRead.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // stale: pointer names a checkpoint whose files are GONE (vacuumed
    // pointer race) — must fall back to the listing, not fail
    val root2 = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root2, "f1.parquet")
    commit(root2, 0, Seq(protocolLine, metaDataLine(schema), addLine(root2, "f1.parquet")))
    writePointer(root2, """{"version":7,"size":1}""")
    assert(DeltaRead.read(spark, root2).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // unparseable pointer: same fallback
    val root3 = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root3, "f1.parquet")
    commit(root3, 0, Seq(protocolLine, metaDataLine(schema), addLine(root3, "f1.parquet")))
    writePointer(root3, """not json at all""")
    assert(DeltaRead.read(spark, root3).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("cross-encoding remove: a tail remove matches a differently-encoded checkpoint add") {
    import org.apache.spark.sql.Row
    // checkpoint encodes parens ("a%28b%29"), the later remove uses the
    // unencoded form — both decode to the same path, so the file is
    // dead; matching on the ENCODED key would resurrect it
    val root = tmp()
    writeDataFile(Seq((1L, "a")).toDF("id", "v"), root, "a(b).parquet")
    writeDataFile(Seq((2L, "b")).toDF("id", "v"), root, "live.parquet")
    writeCkpt(root, Seq(
      Row(null, Row(schema.json, Seq.empty[String])),
      Row(Row("a%28b%29.parquet", Map.empty[String, String]), null),
      Row(Row("live.parquet", Map.empty[String, String]), null)),
      f"${0L}%020d.checkpoint.parquet")
    commit(root, 1, Seq(removeLine("a(b).parquet")))
    assert(DeltaRead.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("churned 10k-file log: checkpoint replay is distributed, only live files surface") {
    import org.apache.spark.sql.Row
    // A 10k-add checkpoint + a tail that removes 3 and re-adds 1 of
    // them plus 2 new files. The checkpointed add set is resolved as a
    // Spark job (anti-join on tail-touched paths); the driver sees only
    // the live list. No data files needed — snapshot() is metadata-only.
    val root = tmp()
    val adds = (0 until 10000).map(i =>
      Row(Row(f"part-$i%05d.parquet", Map("day" -> (i % 7).toString)), null))
    writeCkpt(root, Row(null, Row(schema.json, Seq.empty[String])) +: adds,
      f"${1L}%020d.checkpoint.parquet")
    commit(root, 2, Seq(
      removeLine("part-00000.parquet"),
      removeLine("part-04999.parquet"),
      removeLine("part-09999.parquet"),
      addLine(root, "extra-1.parquet"), addLine(root, "extra-2.parquet")))
    // same-commit remove→add: the LAST action for a path wins
    commit(root, 3, Seq(
      removeLine("part-00001.parquet"), addLine(root, "part-00001.parquet", Map("day" -> "9"))))
    writePointer(root, """{"version":1,"size":10001}""")
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.version == 3L)
    assert(snap.files.size == 10000 - 3 + 2)
    assert(!snap.files.contains("part-00000.parquet"))
    assert(!snap.files.contains("part-04999.parquet"))
    assert(!snap.files.contains("part-09999.parquet"))
    assert(snap.files("extra-1.parquet") == Map.empty)
    assert(snap.files("part-00001.parquet") == Map("day" -> "9"),
      "a tail re-add must override the checkpointed partition values")
    assert(snap.files("part-00002.parquet") == Map("day" -> "2"),
      "untouched checkpoint adds carry their partition values through the distributed path")
  }

  // --- deletion vectors (reader protocol v3, feature deletionVectors) ---

  import DvTestUtil.{z85Encode, roaringArrayBytes}

  private def inlineDvAdd(root: String, file: String, rows: Seq[Long],
                          pv: Map[String, String] = null): String = {
    val bm = roaringArrayBytes(rows)
    val padded = bm ++ Array.fill[Byte]((4 - bm.length % 4) % 4)(0)
    val pvJson = Option(pv).map(_.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")).getOrElse("{}")
    val size = java.nio.file.Files.size(java.nio.file.Paths.get(root, file))
    s"""{"add":{"path":${jstr(file)},"partitionValues":$pvJson,"size":$size,""" +
      s""""modificationTime":1,"dataChange":true,"deletionVector":{""" +
      s""""storageType":"i","pathOrInlineDv":${jstr(z85Encode(padded))},""" +
      s""""sizeInBytes":${bm.length},"cardinality":${rows.size}}}}"""
  }

  private val dvProtocol =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""

  test("z85 decode matches the ZeroMQ spec vector; roaring array/run/bitmap containers decode") {
    assert(DeletionVectors.z85Decode("HelloWorld").map(b => f"${b & 0xFF}%02X").mkString ==
      "864FD26FB559F75B")
    // array containers across two 64-bit bitmaps and two 16-bit keys
    val rows = Seq(0L, 2L, 70000L, (1L << 32) | 5L)
    assert(DeletionVectors.decodeRoaringBitmapArray(roaringArrayBytes(rows)).toSeq ==
      rows.sorted)
    // run container: hand-built cookie-12347 bitmap with rows 10..13
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    def le32(v: Int) = { o.write(v & 0xFF); o.write((v >> 8) & 0xFF)
      o.write((v >> 16) & 0xFF); o.write((v >> 24) & 0xFF) }
    def le16(v: Int) = { o.write(v & 0xFF); o.write((v >> 8) & 0xFF) }
    le32(1681511377); le32(1); le32(0)
    le32(12347)      // run cookie, size-1 = 0 in the high bits
    o.write(1)       // run flag bitset: container 0 is a run
    le16(0); le16(3) // key 0, cardinality-1 = 3
    le16(1)          // one run
    le16(10); le16(3) // start 10, length 3 -> 10..13
    o.flush()
    assert(DeletionVectors.decodeRoaringBitmapArray(bos.toByteArray).toSeq ==
      Seq(10L, 11L, 12L, 13L))
  }

  test("deletion vectors: inline DV drops the flagged row indexes, time travel sees them") {
    val root = tmp()
    writeDataFile((0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"), root, "f1.parquet")
    commit(root, 0, Seq(dvProtocol, metaDataLine(schema), addLine(root, "f1.parquet")))
    // v1: a DELETE attaches a DV for rows 0 and 2 — remove(no dv) + add(dv)
    commit(root, 1, Seq(removeLine("f1.parquet"), inlineDvAdd(root, "f1.parquet", Seq(0L, 2L))))
    val out = DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "row indexes 0 and 2 must drop")
    assert(DeltaRead.read(spark, root, Some(0L)).count() == 10L,
      "time travel before the DELETE sees all rows")
    // v2: the DV grows (delete row 5 too) — the (path, dv.uniqueId)
    // replay must keep exactly the newest DV
    commit(root, 2, Seq(
      s"""{"remove":{"path":"f1.parquet","deletionTimestamp":2,"dataChange":true,""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":${jstr(z85Encode(
          roaringArrayBytes(Seq(0L, 2L)) ++ Array.fill[Byte]((4 - roaringArrayBytes(Seq(0L, 2L)).length % 4) % 4)(0)))},""" +
        s""""sizeInBytes":${roaringArrayBytes(Seq(0L, 2L)).length},"cardinality":2}}}""",
      inlineDvAdd(root, "f1.parquet", Seq(0L, 2L, 5L))))
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 4L, 6L, 7L, 8L, 9L))
  }

  test("deletion vectors: on-disk 'u' DV with framing + CRC, partitioned table, vacuum keeps it") {
    val root = tmp()
    writeDataFile((0L until 5L).map(i => (i, s"a$i")).toDF("id", "v"), root, "day=1/f1.parquet")
    writeDataFile((5L until 10L).map(i => (i, s"b$i")).toDF("id", "v"), root, "day=2/f2.parquet")
    // DV file: version byte, then [size BE][bitmap][crc32 BE]
    val bm = roaringArrayBytes(Seq(1L, 3L))
    val uuid = java.util.UUID.randomUUID()
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits); bb.putLong(uuid.getLeastSignificantBits)
    val enc = "ab" + z85Encode(bb.array()) // random prefix "ab"
    val dvPath = java.nio.file.Paths.get(root, "ab", s"deletion_vector_$uuid.bin")
    java.nio.file.Files.createDirectories(dvPath.getParent)
    val crc = new java.util.zip.CRC32(); crc.update(bm)
    val fileBuf = java.nio.ByteBuffer.allocate(1 + 4 + bm.length + 4)
    fileBuf.put(1.toByte).putInt(bm.length).put(bm).putInt(crc.getValue.toInt)
    java.nio.file.Files.write(dvPath, fileBuf.array())
    val pSchema = StructType(schema.fields :+ StructField("day", LongType))
    commit(root, 0, Seq(dvProtocol, metaDataLine(pSchema, Seq("day")),
      s"""{"add":{"path":"day=1/f1.parquet","partitionValues":{"day":"1"},""" +
        s""""size":${java.nio.file.Files.size(java.nio.file.Paths.get(root, "day=1/f1.parquet"))},""" +
        s""""modificationTime":1,"dataChange":true,"deletionVector":{""" +
        s""""storageType":"u","pathOrInlineDv":${jstr(enc)},"offset":1,""" +
        s""""sizeInBytes":${bm.length},"cardinality":2}}}""",
      addLine(root, "day=2/f2.parquet", Map("day" -> "2"))))
    val out = DeltaRead.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // f1 drops row indexes 1 and 3 (ids 1 and 3); f2 (no DV) is complete
    assert(out.toSeq == Seq((0L, 1L), (2L, 1L), (4L, 1L),
      (5L, 2L), (6L, 2L), (7L, 2L), (8L, 2L), (9L, 2L)))
    // vacuum must treat the live DV file as referenced
    val swept = DeltaWrite.vacuum(spark, root, retentionMs = 0L)
    assert(!swept.exists(_.contains("deletion_vector")),
      s"vacuum swept a live deletion vector: $swept")
    assert(java.nio.file.Files.exists(dvPath))
    assert(DeltaRead.read(spark, root).count() == 8L, "table still reads after vacuum")
  }

  test("deletion vectors on the legacy (size-less) scan paths still drop rows") {
    // no add.size -> logPlannedRead's precondition fails -> the legacy
    // union path must carry the row-index metadata too
    val root = tmp()
    writeDataFile((0L until 6L).map(i => (i, s"v$i")).toDF("id", "v"), root, "f1.parquet")
    commit(root, 0, Seq(dvProtocol, metaDataLine(schema),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"modificationTime":1,""" +
        s""""dataChange":true,${DvTestUtil.inlineDvJson(Seq(1L, 4L))}}}"""))
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 2L, 3L, 5L))
    // partitioned legacy branch: partition literals via withColumn, then
    // the metadata projection — resolution must survive the Project
    val root2 = tmp()
    writeDataFile((0L until 3L).map(i => (i, s"a$i")).toDF("id", "v"), root2, "p=1/f1.parquet")
    val pSchema = StructType(schema.fields :+ StructField("p", LongType))
    commit(root2, 0, Seq(dvProtocol, metaDataLine(pSchema, Seq("p")),
      s"""{"add":{"path":"p=1/f1.parquet","partitionValues":{"p":"1"},""" +
        s""""modificationTime":1,"dataChange":true,${DvTestUtil.inlineDvJson(Seq(0L))}}}"""))
    val out2 = DeltaRead.read(spark, root2).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out2.toSeq == Seq((1L, 1L), (2L, 1L)))
  }

  test("deletion vectors: append keeps the DV; compact folds it with a dv-carrying remove") {
    val root = tmp()
    writeDataFile((0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"), root, "f1.parquet")
    commit(root, 0, Seq(dvProtocol, metaDataLine(schema),
      inlineDvAdd(root, "f1.parquet", Seq(0L))))
    assert(DeltaRead.read(spark, root).count() == 3L)
    DeltaWrite.append(spark, Seq((100L, "x")).toDF("id", "v"), root) // v1
    assert(DeltaRead.read(spark, root).count() == 4L,
      "append lands; the DV on f1 still applies")
    // checkpointing with a live DV folds the descriptor into the add
    // row (round-14 capability; full pins in DeltaWriteSuite)
    assert(DeltaWrite.checkpoint(spark, root) == 1L)
    assert(DeltaRead.snapshot(spark, root).dvs.nonEmpty &&
      DeltaRead.read(spark, root).count() == 4L)
    // compact folds the DV'd file: the remove CARRIES the descriptor
    // (other readers reconcile by (path, dv.uniqueId)) and the new
    // files hold only the live rows
    val cv = DeltaWrite.compact(spark, root, targetFiles = 1)
    val commitJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"$cv%020d.json")), "UTF-8")
    val rmLine = commitJson.split("\n").find(l =>
      l.contains("\"remove\"") && l.contains("f1.parquet")).get
    assert(rmLine.contains("\"deletionVector\""), s"dv-less remove would resurrect rows: $rmLine")
    assert(rmLine.contains("\"storageType\":\"i\""))
    val snap = DeltaRead.snapshot(spark, root)
    assert(snap.dvs.isEmpty, "compaction materialized the deletes")
    assert(DeltaRead.read(spark, root).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 100L))
    // with the DV folded, checkpointing unblocks
    assert(DeltaWrite.checkpoint(spark, root) == cv)
    assert(DeltaRead.read(spark, root).count() == 4L)
  }

  test("crc size totals ride the fold: a cached advance equals a recount; a tampered crc still fails") {
    val root = tmp()
    def recount(s: DeltaRead.Snapshot): (Long, Int) = {
      val sizes = s.files.keysIterator.map(s.sizes).toSeq
      (sizes.filter(_ >= 0L).sum, sizes.count(_ < 0L))
    }
    def check(s: DeltaRead.Snapshot, unknown: Int): Unit = {
      assert((s.sizeBytes, s.unknownSizes) == recount(s), s"v${s.version}")
      assert(s.unknownSizes == unknown, s"v${s.version}")
    }
    (0 until 3).foreach(f => DeltaWrite.append(spark,                                    // v0-v2
      spark.range(f * 10L, f * 10L + 10L).select(col("id"), col("id").cast("string").as("v"))
        .coalesce(1), root))
    DeltaWrite.setProperties(spark, root, Map("delta.enableDeletionVectors" -> "true"))  // v3
    check(DeltaRead.snapshot(spark, root), 0)
    // a legacy add without `size` (v4), removed again (v5): the cache
    // advances from v3 across both commits at once
    writeDataFile(Seq((100L, "x")).toDF("id", "v"), root, "legacy.parquet")
    commit(root, 4, Seq(
      """{"add":{"path":"legacy.parquet","partitionValues":{},"modificationTime":1,"dataChange":true}}"""))
    commit(root, 5, Seq(removeLine("legacy.parquet")))
    check(DeltaRead.snapshot(spark, root, Some(4L)), 1)
    check(DeltaRead.snapshot(spark, root), 0)
    DeltaWrite.delete(spark, root, "id = 3")                                             // v6 (DV)
    val s6 = DeltaRead.snapshot(spark, root)
    assert(s6.dvs.size == 1, s6.dvs)
    check(s6, 0)
    // v7 re-adds one live file without a remove (its old size must be
    // swapped out of the total, not added twice) and removes another
    val Seq(again, gone) = s6.files.keys.filterNot(s6.dvs.contains).toSeq.sorted.take(2)
    commit(root, 7, Seq(addLine(root, again), removeLine(gone)))                        // v7
    check(DeltaRead.snapshot(spark, root), 0)
    assert(DeltaWrite.checkpoint(spark, root) == 7L)
    // v8 by hand, with a crc whose byte total is off by one: the cached
    // advance from v7 validates against the carried totals and refuses
    writeDataFile(Seq((200L, "y")).toDF("id", "v"), root, "extra.parquet")
    commit(root, 8, Seq(addLine(root, "extra.parquet")))
    val s7 = DeltaRead.snapshot(spark, root, Some(7L))
    val extra = java.nio.file.Files.size(java.nio.file.Paths.get(root, "extra.parquet"))
    val crc8 = java.nio.file.Paths.get(root, "_delta_log", f"${8L}%020d.crc")
    def writeCrc(bytes: Long): Unit = java.nio.file.Files.write(crc8,
      s"""{"tableSizeBytes":$bytes,"numFiles":${s7.files.size + 1}}""".getBytes("UTF-8"))
    writeCrc(s7.sizeBytes + extra + 1L)
    val e = intercept[IllegalStateException] { DeltaRead.snapshot(spark, root) }
    assert(e.getMessage.contains("checksum validation"), e.getMessage)
    writeCrc(s7.sizeBytes + extra)
    val s8 = DeltaRead.snapshot(spark, root)
    assert(s8.version == 8L)
    check(s8, 0)
    // the cold replay (checkpoint + tail) carries the same totals
    DeltaRead.invalidateSnapshotCache()
    val cold = DeltaRead.snapshot(spark, root)
    assert((cold.sizeBytes, cold.unknownSizes, cold.files.keySet) ==
      ((s8.sizeBytes, s8.unknownSizes, s8.files.keySet)))
  }

  test("deletion vectors: overwrite of a DV'd table emits dv-carrying removes") {
    val root = tmp()
    writeDataFile((0L until 4L).map(i => (i, s"v$i")).toDF("id", "v"), root, "f1.parquet")
    commit(root, 0, Seq(dvProtocol, metaDataLine(schema),
      inlineDvAdd(root, "f1.parquet", Seq(0L, 2L))))
    val v = DeltaWrite.overwrite(spark, Seq((7L, "y")).toDF("id", "v"), root)
    val commitJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")), "UTF-8")
    val rmLine = commitJson.split("\n").find(_.contains("\"remove\"")).get
    assert(rmLine.contains("\"deletionVector\"") && rmLine.contains("\"cardinality\":2"))
    assert(DeltaRead.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(7L))
    // time travel to v0 still applies the original DV
    assert(DeltaRead.read(spark, root, Some(0L)).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }
}

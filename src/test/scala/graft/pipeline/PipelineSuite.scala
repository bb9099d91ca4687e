package graft.pipeline

import graft.SparkSpec
import graft.quality._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class PipelineSuite extends SparkSpec {
  import spark.implicits._

  private def customers = Seq(
    (1L, "  Ann ", "BUILDING", 10.5),
    (2L, "bob", "AUTO", -3.0),
    (3L, null, "BUILDING", 7.0)
  ).toDF("id", "name", "segment", "balance")

  test("transform: rename, expression, cast, optional, hash_key in one projection") {
    val t = Transform(Seq(
      ColumnSpec("customer_id", from = Some("id"), dataType = Some("bigint")),
      ColumnSpec("customer_name", from = Some("name"), expression = Some("upper(trim({col}))")),
      ColumnSpec("tier", optional = true, dataType = Some("string")),
      ColumnSpec("balance", dataType = Some("int"), tryCast = true)),
      primaryKey = Seq("customer_id"), addControlColumns = true)
    val out = Pipeline.transform(customers, t)
    assert(out.columns.toSeq == Seq("customer_id", "customer_name", "tier", "balance", "hash_key", "updated_at", "created_at"))
    val r = out.orderBy("customer_id").collect()
    assert(r(0).getAs[String]("customer_name") == "ANN")
    assert(r(0).isNullAt(r(0).fieldIndex("tier")))
    assert(r(2).isNullAt(r(2).fieldIndex("customer_name"))) // null propagates
    assert(r(0).getAs[String]("hash_key").length == 64)
  }

  test("transform: missing required column throws; missing optional is null") {
    val bad = Transform(Seq(ColumnSpec("nope", from = Some("missing"))))
    intercept[IllegalArgumentException](Pipeline.transform(customers, bad))
    val ok = Pipeline.transform(customers,
      Transform(Seq(ColumnSpec("maybe", from = Some("missing"), optional = true))))
    assert(ok.where(col("maybe").isNull).count() == 3)
  }

  test("filter/join/pivot/sql steps run as one lazy plan") {
    customers.createOrReplaceTempView("cust_src")
    val ref = Seq(("BUILDING", "b"), ("AUTO", "a")).toDF("segment", "code")
    ref.createOrReplaceTempView("seg_ref")
    val p = Pipeline(spark, PipelineSpec("steps", Seq(SqlSource("c", "SELECT * FROM cust_src")), Nil))
    val joined = p.applyStep(p.applyStep(spark.table("cust_src"), Filter("balance > 0")),
      Join("seg_ref", on = Seq("segment"), broadcastOther = true))
    assert(joined.count() == 2)
    val piv = p.applyStep(customers, Pivot(Seq("segment"), "name", "balance", "sum", Seq("bob")))
    assert(piv.columns.contains("bob"))
  }

  test("YAML minhash dedup step: same rows as the operator chain, input not left persisted") {
    val docs = s"$sfDir/documents.parquet"
    val spec = YamlLoader.load(
      s"""pipeline_name: dd
         |sources: [{name: documents, type: file, format: parquet, path: "$docs"}]
         |steps: [{type: dedup, params: {method: minhash, threshold: 0.8}}]
         |""".stripMargin)
    val input = spark.read.parquet(docs).where(col("doc_id") % 3 =!= 1)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Pipeline(spark, spec).applyStep(input, spec.steps.head)
    assert(input.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "dedup step left its input persisted")
    val returned = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    assert(sc.getPersistentRDDs.keySet -- before == returned,
      "dedup step left persisted RDDs behind beyond its checkpoint")
    // the unpersisted operator chain the step composes
    val pairs = graft.operators.Dedup.minhashLsh(input, threshold = 0.8)
    val groups = graft.operators.Dedup.nearDupGroups(pairs)
    val expected = input.join(
      groups.where(col("doc_id") =!= col("group_id")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    assert(out.columns.toSeq == expected.columns.toSeq)
    val got = out.orderBy("doc_id").collect().toSeq
    assert(got == expected.orderBy("doc_id").collect().toSeq)
    assert(got.size < input.count(), "no near-duplicate removed: the check is vacuous")
    graft.operators.Dedup.releaseCheckpoint(out, groups, pairs)
  }

  test("partitioned sink: read with a partition predicate prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/orders_by_year"
    val orders = graft.Tables.load(spark, sfDir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
    Writer.write(spark, orders, SinkSpec(dir, mode = Overwrite, partitionBy = Seq("yr")))
    val read = spark.read.parquet(dir).where(col("yr") === 1995)
    val plan = read.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("yr"),
      s"partition predicate must reach the scan as a PartitionFilter:\n$plan")
    assert(read.count() == orders.where(col("yr") === 1995).count())
  }

  test("expected-columns source check fails fast on width mismatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ec")
    val csv = dir.resolve("d.csv")
    java.nio.file.Files.writeString(csv, "a,b,c\n1,2,3\n")
    val ok = PipelineSpec("ec", Seq(FileSource("d", csv.toString, "csv",
      Map("header" -> "true"), expectedColumns = Some(3))), Nil)
    assert(Pipeline(spark, ok).run().columns.length == 3)
    val bad = PipelineSpec("ec", Seq(FileSource("d", csv.toString, "csv",
      Map("header" -> "true"), expectedColumns = Some(5))), Nil)
    intercept[IllegalArgumentException](Pipeline(spark, bad).run())
  }

  test("validate step writes the warn failure log to the configured path") {
    customers.createOrReplaceTempView("cust_log_src")
    val logDir = java.nio.file.Files.createTempDirectory("graft_vlog").toString + "/log"
    val spec = PipelineSpec("logged",
      Seq(SqlSource("c", "SELECT * FROM cust_log_src")),
      Seq(Validate(
        Seq(ColumnSpec("balance", constraints = Seq(Constraint(Gte(0.0), WarnAction)))),
        logPath = Some(logDir))))
    Pipeline(spark, spec).run()
    val log = spark.read.parquet(logDir)
    assert(log.count() == 1)
    assert(log.select("failed_column").head().getString(0) == "balance")
  }

  test("validate step: fail action aborts the pipeline") {
    val cc = Seq(ColumnConstraints("balance", Seq(Constraint(Gte(0.0), FailAction))))
    val res = Validator.validate(customers, "p", cc)
    intercept[ValidationException](Validator.enforce(res))
  }

  test("writer: overwrite + append + upsert merge round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_w").toString + "/t"
    Writer.write(spark, customers, SinkSpec(dir, mode = Overwrite))
    Writer.write(spark, customers.where("id = 1"), SinkSpec(dir, mode = Append))
    assert(spark.read.parquet(dir).count() == 4)

    // upsert: id 1 corrected, id 9 new (keyed on hash_key)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("hash_key", sha2(col("id").cast("string"), 256))
        .withColumn("updated_at", current_timestamp())
    Writer.write(spark, keyed(customers), SinkSpec(dir, mode = Overwrite))
    val src = keyed(Seq((1L, "ann2", "BUILDING", 99.0), (9L, "new", "AUTO", 1.0))
      .toDF("id", "name", "segment", "balance"))
    Writer.write(spark, src, SinkSpec(dir, mode = MergeUpsert))
    val out = spark.read.parquet(dir)
    assert(out.count() == 4)
    assert(out.where("id = 1").select("name").as[String].head() == "ann2")
  }

  test("writer: crash recovery restores __old into the merge when the target is missing") {
    // Simulate a rewrite() that died between its two swap renames: the
    // only copy of the base sits at <path>__old, the target is gone.
    val dir = java.nio.file.Files.createTempDirectory("graft_wr").toString + "/t"
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("hash_key", sha2(col("id").cast("string"), 256))
        .withColumn("updated_at", current_timestamp())
    Writer.write(spark, keyed(customers), SinkSpec(dir, mode = Overwrite))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(dir + "__old"))) // the crash state
    // Next run's upsert must first restore __old -> target (NOT delete
    // it), then merge against the restored base.
    val src = keyed(Seq((1L, "ann2", "BUILDING", 99.0), (9L, "new", "AUTO", 1.0))
      .toDF("id", "name", "segment", "balance"))
    Writer.write(spark, src, SinkSpec(dir, mode = MergeUpsert))
    val out = spark.read.parquet(dir)
    assert(out.count() == 4) // 3 surviving base rows + corrected id1 + new id9
    assert(out.where("id = 1").select("name").as[String].head() == "ann2")
    assert(out.where("id = 2").count() == 1) // base history survived the crash
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__old")))
  }

  test("writer: scd2 expires changed rows and versions them") {
    val t0 = lit("2024-01-01").cast("timestamp")
    val t1 = lit("2024-02-01").cast("timestamp")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      Pipeline.dataHash(df.withColumn("hash_key", sha2(col("id").cast("string"), 256)),
        Seq("balance"))
    val base = keyed(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "balance"))
      .withColumn("is_current", lit(true)).withColumn("start_date", t0)
      .withColumn("end_date", lit(null).cast("timestamp"))
    val src = keyed(Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)).toDF("id", "balance"))
    val out = Scd2Merge(spark, src, Some(base), Seq("balance"), now = t1)
    // id1: expired + new current; id2 unchanged; id3 brand new
    assert(out.count() == 4)
    assert(out.where("id = 1 AND is_current").select("balance").as[Double].head() == 11.0)
    assert(out.where("id = 1 AND NOT is_current").count() == 1)
    assert(out.where("id = 3 AND is_current").count() == 1)
    // idempotent: re-merging same source changes nothing
    val again = Scd2Merge(spark, src, Some(out), Seq("balance"), now = t1)
    assert(again.count() == 4)
  }

  test("a delta-format sink writes through the native log protocol (round 12)") {
    // the pre-round-12 refusal is gone: a delta path sink commits
    // through sources/DeltaWrite and reads back through DeltaRead
    val root = java.nio.file.Files.createTempDirectory("graft_delta_sink").toString + "/t"
    Writer.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      SinkSpec(root, format = "delta"))
    Writer.write(spark, Seq((3L, "c")).toDF("id", "v"),
      SinkSpec(root, format = "delta"))
    assert(graft.sources.DeltaRead.read(spark, root).count() == 3)
    assert(graft.sources.DeltaRead.versions(spark, root) == Seq(0L, 1L))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-6 scale probes (dev scratchpad, like Scratch/Scratch2):
  *
  *  1. money-sum precision at sf1/sf10-equivalent volume: the old
  *     `round(sum(double), 2)` vs the shipped integer-cents formula,
  *     both against an exact DECIMAL reference — quantifies the
  *     half-cent erosion the cents conversion pre-empts. Also writes
  *     the replicated lineitem + the Spark q01 result to /tmp for a
  *     DuckDB full-precision cross-check (driver-side python).
  *  2. z-order skip ratio at 10M rows: fraction of parquet files a
  *     min/max-stats reader skips for point/range predicates on BOTH
  *     clustered dimensions, z-ordered vs random layout, measured
  *     from the real file footers.
  *  3. streaming windowed top-k state: 10M events through
  *     EventStreams.windowedTopK with out-of-order data — state rows
  *     must stay O(open windows), not O(events) or O(distinct).
  *  4. versioned-table cost model at 10M rows: append commits must be
  *     O(delta) in both time and bytes (vs the O(table) full-copy
  *     merge), the caught-up changesSince poll must cost O(1)
  *     directories, and compact folds the delta dirs back into one.
  */
object Scratch3 {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scratch3] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s -> $r"); r
    }
    val which = args.headOption.getOrElse("all")

    // ---------- probe 1: money-sum precision at scale ----------
    if (which == "all" || which == "cents") {
      val li = Tables.load(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice"), col("l_discount"))
      for (r <- Seq(10, 100)) { // ~sf1, ~sf10 row volume
        val rep = li.crossJoin(spark.range(r).select(col("id").as("__rep")))
        val out = rep.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          // OLD: double sum rounded at the end
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("old_disc"),
          // NEW: exact 1e-4-unit integer sum, floor((x+50)/100) to cents
          // (pmod makes `div` floor — the shipped q01/q02 formula)
          expr("((sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)) + 50" +
            " - pmod(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)) + 50, 100)) div 100) / 100.0D")
            .as("new_disc"),
          // EXACT reference: decimal arithmetic end to end
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).as("exact_4dp"))
          .withColumn("exact_cents",
            expr("cast(((cast(exact_4dp * 10000 as decimal(38,0)) + 50) div 100) as double) / 100.0D"))
          .withColumn("old_err_cents", abs(col("old_disc") - col("exact_cents")) * 100)
          .withColumn("new_err_cents", abs(col("new_disc") - col("exact_cents")) * 100)
        val agg = out.agg(max("old_err_cents").as("old_max_err"),
          max("new_err_cents").as("new_max_err")).head()
        println(f"[scratch3] cents x$r%d (${600000L * r}%,d rows): " +
          f"old max err ${agg.getDouble(0)}%.6f cents, new max err ${agg.getDouble(1)}%.6f cents")
      }
      // sf1-equivalent artifacts for the DuckDB cross-check
      val rep10 = li.crossJoin(spark.range(10).select(col("id").as("__rep")))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_extendedprice"), col("l_discount"), lit(1.0).as("l_quantity"))
      time("write sf1-equiv lineitem + spark q01 result") {
        rep10.write.mode("overwrite").parquet("/tmp/sf1rep/lineitem.parquet")
        spark.read.parquet("/tmp/sf1rep/lineitem.parquet")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(expr("cast(round(l_extendedprice * 100) as bigint)")) / 100.0, 2).as("sum_base_price"),
            expr("((sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)) + 50" +
              " - pmod(sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)) + 50, 100)) div 100) / 100.0D").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
          .coalesce(1).write.mode("overwrite").parquet("/tmp/sf1rep/q01_spark.parquet")
        "ok"
      }
    }

    // ---------- probe 2: z-order file-skip ratio ----------
    if (which == "all" || which == "zorder") {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val ev = Tables.load(spark, dir, "events")
        .select(col("user_id"), col("value"), col("event_type"))
      val rep = ev.crossJoin(spark.range(100).select(col("id").as("__r"))).drop("__r")
      val nFiles = 64
      val zDir = "/tmp/zprobe/z"
      val rDir = "/tmp/zprobe/r"
      time("write z-ordered (user_id, value) & random, 64 files each") {
        graft.operators.ZOrder.cluster(rep, Seq("user_id", "value"), nFiles)
          .write.mode("overwrite").parquet(zDir)
        rep.repartition(nFiles).write.mode("overwrite").parquet(rDir)
        "ok"
      }
      // per-file [min,max] for both dims, straight from the footers
      def fileRanges(d: String): Seq[(Long, Long, Double, Double)] = {
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).toSeq.map { st =>
          val rd = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
          try {
            val blocks = rd.getFooter.getBlocks
            import scala.jdk.CollectionConverters._
            def stats(colName: String) = blocks.asScala.map(
              _.getColumns.asScala.find(_.getPath.toDotString == colName).get.getStatistics)
            val u = stats("user_id"); val v = stats("value")
            (u.map(_.genericGetMin.asInstanceOf[Long]).min,
              u.map(_.genericGetMax.asInstanceOf[Long]).max,
              v.map(_.genericGetMin.asInstanceOf[Double]).min,
              v.map(_.genericGetMax.asInstanceOf[Double]).max)
          } finally rd.close()
        }
      }
      val (zr, rr) = (fileRanges(zDir), fileRanges(rDir))
      def skipRatio(ranges: Seq[(Long, Long, Double, Double)],
                    hit: ((Long, Long, Double, Double)) => Boolean): Double =
        1.0 - ranges.count(hit).toDouble / ranges.size
      val preds = Seq[(String, ((Long, Long, Double, Double)) => Boolean)](
        "user_id = 700 (point)" -> { case (lo, hi, _, _) => 700L >= lo && 700L <= hi },
        "user_id in [700,750] (range)" -> { case (lo, hi, _, _) => !(750L < lo || 700L > hi) },
        "value in [100,120] (range)" -> { case (_, _, lo, hi) => !(120.0 < lo || 100.0 > hi) },
        "user_id in [700,750] AND value in [100,120]" ->
          { case (ulo, uhi, vlo, vhi) => !(750L < ulo || 700L > uhi) && !(120.0 < vlo || 100.0 > vhi) })
      preds.foreach { case (name, hit) =>
        println(f"[scratch3] zorder skip: $name%-45s z=${skipRatio(zr, hit) * 100}%.0f%% " +
          f"random=${skipRatio(rr, hit) * 100}%.0f%% of $nFiles%d files")
      }
    }

    // ---------- probe 3: streaming windowed top-k state ----------
    if (which == "all" || which == "stream") {
      val perBatch = 1000000L
      val batches = 10
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", perBatch.toString)
        .option("advanceMillisPerBatch", "60000") // one minute per batch
        .load()
        // skewed value domain + out-of-order timestamps (up to 90 s
        // late, inside the 5 min watermark)
        .select(
          (col("timestamp") - expr("make_interval(0, 0, 0, 0, 0, 0, cast(value % 90 as int))")).as("ts"),
          concat(lit("t"), (pmod(col("value"), lit(1000)) * pmod(col("value"), lit(7)))
            .cast("string")).as("event_type"))
      val topk = graft.streaming.EventStreams.windowedTopK(
        src, valueCol = "event_type", windowLen = "1 minute", watermark = "5 minutes",
        capacity = 64)
      val q = topk.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", "/tmp/zprobe/ck_" + System.nanoTime())
        .start()
      val t0 = System.nanoTime()
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < batches - 1 &&
             (System.nanoTime() - t0) < 600e9) Thread.sleep(500)
      val p = q.lastProgress
      val so = p.stateOperators(0)
      println(f"[scratch3] stream: ${(p.batchId + 1) * perBatch}%,d events, " +
        f"state rows=${so.numRowsTotal}%d (open windows), " +
        f"state mem=${so.memoryUsedBytes / 1024.0}%.1f KiB, " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
      q.stop()
      assert(so.numRowsTotal <= batches + 10,
        s"state must be O(open windows), got ${so.numRowsTotal} rows")
    }

    // ---------- probe 4: versioned-table cost model ----------
    if (which == "all" || which == "versioned") {
      import graft.pipeline.{Append, Overwrite, SinkSpec, VersionedTable, Writer}
      val root = "/tmp/zprobe/vt_" + System.nanoTime() + "/t"
      val ev = Tables.load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val big = ev.crossJoin(spark.range(100).select(col("id").as("__r")))
        .select((col("event_id") * 100 + col("__r")).as("event_id"),
          col("user_id"), col("value"))
      val delta = ev.where(col("event_id") % 100 === 0) // ~0.01% of the table
      def bytesUnder(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(hp).getLength
      }
      time(s"seed overwrite, 10M rows") {
        Writer.write(spark, big, SinkSpec(root, mode = Overwrite, versioned = true)); "ok"
      }
      val tableBytes = bytesUnder(root)
      val nAppends = 5
      val t0 = System.nanoTime()
      (1 to nAppends).foreach { _ =>
        Writer.write(spark, delta, SinkSpec(root, mode = Append, versioned = true))
      }
      val perAppend = (System.nanoTime() - t0) / 1e9 / nAppends
      val afterAppends = bytesUnder(root)
      println(f"[scratch3] versioned: table ${tableBytes / 1e6}%.0f MB; $nAppends%d appends " +
        f"of ~1k rows: ${perAppend}%.2f s each, +${(afterAppends - tableBytes) / 1e3}%.0f KB total " +
        f"(delta bytes only — a full-copy append would add ${tableBytes / 1e6}%.0f MB EACH)")
      // compact while the snapshot is still multi-directory (the merge
      // below would fold it implicitly and turn this into a no-op)
      println(s"[scratch3] versioned: dirs before compact = " +
        VersionedTable.currentSnapshot(spark, root).get.dataDirs.length)
      time("compact (folds all dirs into one)") {
        VersionedTable.compact(spark, root)
      }
      println(s"[scratch3] versioned: dirs after compact = " +
        VersionedTable.currentSnapshot(spark, root).get.dataDirs.length)
      // contrast: the same delta as a full-copy merge commit (O(table))
      time("same delta as full-copy merge commit (O(table) contrast)") {
        VersionedTable.commit(spark, root, "parquet",
          base => base.get.unionByName(delta)); "ok"
      }
      // caught-up incremental poll: O(1) directories, no table scan
      val curV = VersionedTable.currentSnapshot(spark, root).get.version
      time("changesSince caught-up poll (count)") {
        VersionedTable.changesSince(spark, root, curV).count()
      }
      // contention: 8 concurrent APPEND committers race on the pointer;
      // every delta must land, versions must serialize, and wall time
      // should track the slowest writer + retry pointer costs — not
      // 8 × a full table copy
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val v0 = VersionedTable.currentSnapshot(spark, root).get.version
        val writers = 8
        val t1 = System.nanoTime()
        Await.result(Future.sequence((1 to writers).map(i => Future {
          // the unluckiest of 8 racers can lose 7 straight pointer
          // CASes legitimately — well under the shared commit cap
          VersionedTable.commitDelta(spark, root, "parquet",
            delta.withColumn("__w", lit(i)), compactAfter = 64)
        })), Duration(600, "s"))
        val wall = (System.nanoTime() - t1) / 1e9
        val vN = VersionedTable.currentSnapshot(spark, root).get
        println(f"[scratch3] versioned: $writers%d concurrent appends in ${wall}%.1f s " +
          f"(serialized v${v0}%d -> v${vN.version}%d, ${vN.dataDirs.length}%d dirs, all landed: " +
          (vN.version == v0 + writers) + ")")
      }
    }

    spark.stop()
  }
}

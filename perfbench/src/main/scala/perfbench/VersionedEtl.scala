package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline._

/** The versioned half of `cdc_etl`: graft's own manifest protocol, driven the way a
  * drune user drives it. Each step of an iteration runs the silver
  * YAML (`perfbench/pipelines/orders_silver`: rename/cast, `hash_key`,
  * `validate` with `on_fail: drop`) on one raw batch into a
  * `versioned: true` merge sink, and appends two event batches to an
  * append-only table with `VersionedTable.commitDelta`; every fourth
  * append, and the last, refreshes a `MaterializedAgg` rollup of the
  * events. The
  * iteration ends with a snapshot read of the silver table, a
  * `changesSince` read of the events, and an availableNow
  * `VersionedTable.readStream` catch-up over the events.
  */
final class VersionedEtl extends Workload {
  import VersionedEtl._

  val Batches = 2
  val BatchRows = 200
  val EventBatchRows = 300
  val AppendsPerBatch = 2
  val RefreshEvery = 4

  private var spec: PipelineSpec = _
  private var main: Inputs = _

  def generate(ctx: Ctx): Unit =
    main = Inputs.make(ctx, ctx.seed, Batches, BatchRows, Batches * AppendsPerBatch,
      EventBatchRows)

  def setup(ctx: Ctx): Unit =
    spec = YamlLoader.loadDirectory(ctx.root.resolve("perfbench/pipelines/orders_silver").toString)

  def iteration(ctx: Ctx): IterFacts = {
    val dir = ctx.iterDir("etl")
    play(ctx, main, dir)
    IterFacts(Harness.diskBytes(s"$dir/silver") + Harness.diskBytes(s"$dir/events"),
      main.silverDigest._2 + main.eventRows.sum)
  }

  /** One silver batch through the YAML, committed by the merge sink. */
  private def batch(ctx: Ctx, input: String, silver: String): Unit = {
    val sink = spec.sink.get.copy(path = silver)
    Harness.runPipeline(ctx, spec.copy(sources = spec.sources.map {
      case f: FileSource => f.copy(path = input)
      case other => other
    }, sink = Some(sink)), sink)
  }

  private def play(ctx: Ctx, in: Inputs, dir: String): Unit = {
    val spark = ctx.spark
    val silver = s"$dir/silver"
    val events = s"$dir/events"
    val mv = s"$dir/events_by_kind"
    var appended = 0
    var midVersion = 0L
    in.batches.indices.foreach { b =>
      ctx.timed("pipeline.batch", Kind.Write, in.batchRows(b))(batch(ctx, in.batch(b), silver))
      (0 until in.appendsPerBatch).foreach { _ =>
        val k = appended
        val v = ctx.call("pipeline.VersionedTable.commitDelta", Kind.Write, in.eventRows(k)) {
          VersionedTable.commitDelta(spark, events, "parquet", spark.read.parquet(in.events(k)))
        }
        appended += 1
        if (appended * 2 == in.events.size) midVersion = v
        if (appended % RefreshEvery == 0 || appended == in.events.size)
          ctx.call("pipeline.MaterializedAgg.refresh", Kind.Write) {
            MaterializedAgg.refresh(spark, events, mv, Seq("kind"), RollupAggs)
          }
      }
    }

    val snap = ctx.call("pipeline.VersionedTable.read", Kind.Other) {
      Harness.digest(VersionedTable.read(spark, silver).select(SilverCols.map(col): _*))
    }
    val since = ctx.call("pipeline.VersionedTable.changesSince", Kind.Other) {
      Harness.digest(VersionedTable.changesSince(spark, events, midVersion))
    }
    val streamed = ctx.call("streaming.VersionedTable.readStream", Kind.Other) {
      val q = VersionedTable.readStream(spark, events).writeStream
        .format("noop")
        .option("checkpointLocation", s"$dir/stream-checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.foreach { pr =>
        pr.durationMs.forEach { (phase, ms) =>
          val key = if (phase == "latestOffset" || phase == "getOffset") "offsets" else phase
          if (ctx.traced) ctx.streamPhases((ctx.iter, key)) =
            ctx.streamPhases.getOrElse((ctx.iter, key), 0L) + ms.longValue
        }
      }
      q.recentProgress.map(_.numInputRows).sum
    }

    val eventsTotal = in.eventRows.sum
    ctx.check(s"silver snapshot $snap equals the plain-Spark reference ${in.silverDigest}")(
      snap == in.silverDigest)
    ctx.check("changesSince holds the second half of the appends")(
      since._2 == in.eventRows.drop(in.events.size / 2).sum)
    ctx.check(s"stream caught up $streamed of $eventsTotal appended rows")(streamed == eventsTotal)
    val rollup = Harness.digest(MaterializedAgg.read(spark, mv)
      .select(col("kind"), col("n").cast("long"), col("qty").cast("long")))
    val direct = Harness.digest(VersionedTable.read(spark, events).groupBy("kind")
      .agg(count(lit(1)).as("n"), sum("qty").cast("long").as("qty")))
    ctx.check("materialized rollup equals a groupBy over the events")(
      rollup == direct && rollup._2 > 0)
  }
}

object VersionedEtl {
  val SilverCols = Seq("order_id", "customer_id", "amount", "status")
  val RollupAggs = Seq(MaterializedAgg.MAgg("n", "", "count"), MaterializedAgg.MAgg("qty", "qty", "sum"))
  private val RawSchema = StructType(Seq(StructField("id", LongType), StructField("cust", IntegerType),
    StructField("amt", DoubleType), StructField("st", StringType)))
  private val EventSchema = StructType(Seq(StructField("event_id", LongType),
    StructField("kind", StringType), StructField("qty", IntegerType)))

  /** Seeded raw order batches (half updates of earlier orders, half new,
    * about 5% invalid rows) and event batches, written as parquet, plus
    * the silver table a plain-Spark replay predicts.
    */
  final case class Inputs(batch: IndexedSeq[String], batchRows: IndexedSeq[Long],
                          events: IndexedSeq[String], eventRows: IndexedSeq[Long],
                          appendsPerBatch: Int, silverDigest: (Long, Long)) {
    def batches: Range = batch.indices
  }

  object Inputs {
    def make(ctx: Ctx, seed: Long, nBatches: Int, batchRows: Int,
             nEvents: Int, eventRows: Int): Inputs = {
      val spark = ctx.spark
      val rnd = new scala.util.Random(seed)
      val dir = ctx.work.resolve("input/etl").toString
      val statuses = Seq("open", "paid", "shipped")
      var nextId = 0L
      val seen = ArrayBuffer.empty[Long]
      val batches = (0 until nBatches).map { b =>
        val updates = rnd.shuffle(seen.toIndexedSeq).take(batchRows / 2)
        val fresh = (0 until batchRows - updates.size).map { _ => nextId += 1; nextId - 1 }
        seen ++= fresh
        val rows = (updates ++ fresh).map { id =>
          val bad = rnd.nextDouble()
          Row(if (bad < 0.01) null else id, rnd.nextInt(300),
            if (bad >= 0.01 && bad < 0.03) -1.0 else rnd.nextInt(100000) / 100.0,
            if (bad >= 0.03 && bad < 0.05) "lost" else statuses(rnd.nextInt(3)))
        }
        val path = s"$dir/orders-$b.parquet"
        InputFiles.write(path, RawSchema, rows)
        path
      }
      val kinds = Seq("view", "cart", "buy", "return", "review")
      var eventId = 0L
      val events = (0 until nEvents).map { k =>
        val rows = (0 until eventRows).map { _ =>
          eventId += 1
          Row(eventId, kinds(rnd.nextInt(kinds.size)), 1 + rnd.nextInt(9))
        }
        val path = s"$dir/events-$k.parquet"
        InputFiles.write(path, EventSchema, rows)
        path
      }
      // reference silver: latest valid row per order id, in batch order
      val raw = batches.zipWithIndex.map { case (p, b) =>
        spark.read.parquet(p).withColumn("__batch", lit(b))
      }.reduce(_ unionByName _)
      val latest = raw
        .where(col("id").isNotNull && col("amt") >= 0 && col("st").isin(statuses: _*))
        .withColumn("__rank", row_number().over(Window.partitionBy("id").orderBy(col("__batch").desc)))
        .where(col("__rank") === 1)
        .select(col("id").as("order_id"), col("cust").cast("long").as("customer_id"),
          col("amt").as("amount"), col("st").as("status"))
      Inputs(batches, batches.map(_ => batchRows.toLong), events,
        events.map(_ => eventRows.toLong), nEvents / nBatches, Harness.digest(latest))
    }
  }
}

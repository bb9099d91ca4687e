package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DeltaRead, DeltaWrite}

/** The Delta half of `cdc_etl`: seeded orders-like batches through graft's native Delta
  * writer and reader. Each iteration creates a fresh table (base append,
  * then one property commit turning on the change data feed, row
  * tracking, deletion vectors and `delta.checkpointInterval=10`), runs a
  * fixed mix of appends, selective deletes (the deletion-vector path),
  * broad updates and half-update/half-insert merges, and ends with
  * `read`, `readChanges` and `readChangesWithRowIds`. The expected
  * final table and change counts come from a plain Scala replay of the
  * same batches.
  */
final class DeltaCdc extends Workload {
  import DeltaCdc._

  val BaseRows = 2000
  val AppendRows = 150
  val MergeRows = 200
  /** A = append, D = delete, U = update, M = merge. */
  val Mix = "AADAUAMAAA"

  private var main: Plan = _

  def generate(ctx: Ctx): Unit =
    main = Plan.make(ctx, ctx.seed, BaseRows, AppendRows, MergeRows, Mix)

  def setup(ctx: Ctx): Unit = ()

  def iteration(ctx: Ctx): IterFacts = {
    val path = ctx.iterDir("orders")
    val live = play(ctx, main, path)
    IterFacts(Harness.diskBytes(path), live)
  }

  /** Run one plan against a fresh table at `path`; returns live rows. */
  private def play(ctx: Ctx, p: Plan, path: String): Long = {
    val spark = ctx.spark
    def in(name: String): DataFrame = spark.read.parquet(p.input(name))
    ctx.call("sources.DeltaWrite.append", Kind.Write, p.baseRows) {
      DeltaWrite.append(spark, in("base"), path)
    }
    ctx.call("sources.DeltaWrite.setProperties", Kind.Other) {
      DeltaWrite.setProperties(spark, path, TableProps)
    }
    p.ops.zipWithIndex.foreach { case (op, k) =>
      val version = FirstOpVersion + k
      // a commit landing on the checkpoint interval also folds the log
      def name(call: String) =
        if (version % CheckpointInterval == 0) "sources.DeltaWrite.checkpoint"
        else s"sources.DeltaWrite.$call"
      val got = op match {
        case Append(input, rows) =>
          ctx.call(name("append"), Kind.Write, rows)(DeltaWrite.append(spark, in(input), path))
        case Delete(cond) =>
          ctx.call(name("delete"), Kind.Write)(DeltaWrite.delete(spark, path, cond))
        case Update(cond, set) =>
          ctx.call(name("update"), Kind.Write)(DeltaWrite.update(spark, path, cond, set))
        case Merge(input, rows) =>
          ctx.call(name("merge"), Kind.Write, rows)(DeltaWrite.merge(spark, in(input), path, Seq("id")))
      }
      ctx.check(s"op $k ($op) committed version $version, got $got")(got == version)
    }

    val snap = ctx.call("sources.DeltaRead.read", Kind.Other) {
      Harness.digest(DeltaRead.read(spark, path).select(Cols.map(col): _*))
    }
    val changes = ctx.call("sources.DeltaRead.readChanges", Kind.Other) {
      DeltaRead.readChanges(spark, path, FirstOpVersion).groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val unpaired = ctx.call("sources.DeltaRead.readChangesWithRowIds", Kind.Other) {
      DeltaRead.readChangesWithRowIds(spark, path, FirstOpVersion)
        .where(col("_change_type").startsWith("update_"))
        .groupBy(col("_commit_version"), col("_row_id"))
        .agg(sum(when(col("_change_type") === "update_preimage", 1).otherwise(0)).as("pre"),
          sum(when(col("_change_type") === "update_postimage", 1).otherwise(0)).as("post"))
        .where(col("pre") =!= 1 || col("post") =!= 1).count()
    }

    ctx.check(s"final Delta snapshot $snap equals the replayed reference ${p.expectedDigest}")(
      snap == p.expectedDigest)
    ctx.check(s"CDF counts $changes equal ${p.expectedChanges}")(
      changes.filter(_._2 > 0) == p.expectedChanges.filter(_._2 > 0))
    ctx.check(s"every update pre/postimage pair shares a row id ($unpaired unpaired)")(
      unpaired == 0)
    p.expectedDigest._2
  }
}

object DeltaCdc {
  val Cols = Seq("id", "cust", "amount", "status")
  val Schema = StructType(Seq(StructField("id", LongType), StructField("cust", IntegerType),
    StructField("amount", DoubleType), StructField("status", StringType)))
  val CheckpointInterval = 10
  val TableProps = Map(
    "delta.enableChangeDataFeed" -> "true",
    "delta.enableRowTracking" -> "true",
    "delta.rowTracking.materializedRowIdColumnName" -> "_graft_mat_rid",
    "delta.enableDeletionVectors" -> "true",
    "delta.checkpointInterval" -> CheckpointInterval.toString)
  /** v0 is the base append, v1 the property commit. */
  val FirstOpVersion = 2L

  sealed trait Op
  final case class Append(input: String, rows: Long) extends Op
  final case class Delete(cond: String) extends Op
  final case class Update(cond: String, set: Map[String, String]) extends Op
  final case class Merge(input: String, rows: Long) extends Op

  type Rec = (Int, Double, String)

  /** A seeded operation sequence, its input files, and the state a plain
    * replay of it predicts.
    */
  final case class Plan(dir: String, baseRows: Long, ops: Seq[Op],
                        expectedDigest: (Long, Long), expectedChanges: Map[String, Long]) {
    def input(name: String): String = s"$dir/$name.parquet"
  }

  object Plan {
    def make(ctx: Ctx, seed: Long, baseRows: Int, appendRows: Int,
             mergeRows: Int, mix: String): Plan = {
      val rnd = new scala.util.Random(seed)
      val spark = ctx.spark
      val dir = ctx.work.resolve("input/delta").toString
      val statuses = Seq("open", "paid", "shipped")
      def rec(): Rec = (rnd.nextInt(500), (rnd.nextInt(100000) / 100.0), statuses(rnd.nextInt(3)))
      def write(name: String, rows: Seq[(Long, Rec)]): Unit =
        InputFiles.write(s"$dir/$name.parquet", Schema, rows.map { case (id, (c, a, s)) => Row(id, c, a, s) })

      val state = mutable.LinkedHashMap.empty[Long, Rec]
      val changes = mutable.Map.empty[String, Long].withDefaultValue(0L)
      var nextId = 0L
      def fresh(n: Int): Seq[(Long, Rec)] = (0 until n).map { _ => nextId += 1; (nextId - 1, rec()) }
      val base = fresh(baseRows)
      write("base", base)
      state ++= base
      val ops = mix.zipWithIndex.map {
        case ('A', k) =>
          val rows = fresh(appendRows)
          write(s"append-$k", rows)
          state ++= rows
          changes("insert") += rows.size
          Append(s"append-$k", rows.size)
        case ('D', k) =>
          val r = rnd.nextInt(97)
          val hit = state.keys.filter(_ % 97 == r).toSeq
          state --= hit
          changes("delete") += hit.size
          Delete(s"id % 97 = $r")
        case ('U', k) =>
          val r = rnd.nextInt(5)
          val hit = state.filter(_._1 % 5 == r)
          hit.foreach { case (id, (c, a, _)) => state(id) = (c, a + 1.5, "updated") }
          changes("update_preimage") += hit.size
          changes("update_postimage") += hit.size
          Update(s"id % 5 = $r", Map("amount" -> "amount + 1.5", "status" -> "'updated'"))
        case ('M', k) =>
          val ids = state.keys.toIndexedSeq
          val matched = rnd.shuffle(ids).take(mergeRows / 2).map(id => (id, rec()))
          val rows = matched ++ fresh(mergeRows - matched.size)
          write(s"merge-$k", rows)
          changes("update_preimage") += matched.size
          changes("update_postimage") += matched.size
          changes("insert") += rows.size - matched.size
          state ++= rows
          Merge(s"merge-$k", rows.size)
        case (c, _) => sys.error(s"unknown op '$c'")
      }
      val expected = Harness.digest(spark.createDataFrame(spark.sparkContext.parallelize(
        state.toSeq.map { case (id, (c, a, s)) => Row(id, c, a, s) }, 1), Schema))
      Plan(dir, baseRows, ops, expected, changes.toMap)
    }
  }
}

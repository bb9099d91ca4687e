package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._

/** What a timed call does: calls that commit data (a Delta DML, a
  * versioned commit, a pipeline batch) feed `rows_per_s`.
  */
sealed trait Kind
object Kind {
  case object Write extends Kind
  case object Other extends Kind
}

/** One timed call. */
final case class Op(name: String, kind: Kind, ms: Double, rows: Long)

/** Per-iteration facts a workload reports back to the loop. */
final case class IterFacts(storageBytes: Long, liveRows: Long)

/** State shared by the loop and a workload: the session, the tracer,
  * the seeded work directory, and the tallies behind `attempted`,
  * `failed` and the latency metrics.
  */
final class Ctx(val seed: Long, val work: Path, val root: Path) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  var iter: Int = -1
  val ops = ArrayBuffer.empty[Op]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Streaming progress phase totals per iteration: (iter, phase) -> ms. */
  val streamPhases = scala.collection.mutable.Map.empty[(Int, String), Long]

  def traced: Boolean = tracer != null && tracer.isEnabled

  /** Time one user-visible operation (which may make several layer
    * calls, each in its own [[span]]).
    */
  def timed[A](name: String, kind: Kind, rows: Long = 0L)(f: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = f
    ops += Op(name, kind, ms = (System.nanoTime() - t0) / 1e6, rows)
    r
  }

  /** A call into one graft layer, named `<module>.<Object>.<call>`. */
  def span[A](name: String)(f: => A): A =
    if (tracer == null) f else tracer.span(name, iter)(f)

  /** [[timed]] around a single layer call. */
  def call[A](name: String, kind: Kind, rows: Long = 0L)(f: => A): A =
    timed(name, kind, rows)(span(name)(f))

  /** An output check: a failure counts in `failed` and is reported. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception => System.err.println(s"[perfbench] check '$what' threw $e"); false
    }
    if (!passed) {
      failed += 1
      failures += s"iter $iter: $what"
      System.err.println(s"[perfbench] CHECK FAILED (iter $iter): $what")
    }
  }

  def iterDir(name: String): String = work.resolve(s"it$iter").resolve(name).toString
}

/** A benchmark workload: seeded inputs made once, graft-side set-up
  * (parsing the YAML, registering session functions), and a closed-loop
  * iteration that the loop repeats while the measuring window lasts.
  */
trait Workload {
  def generate(ctx: Ctx): Unit
  def setup(ctx: Ctx): Unit
  def iteration(ctx: Ctx): IterFacts
  /** Checks across iterations (e.g. identical outputs for one seed). */
  def finish(ctx: Ctx): Unit = ()
}

object Harness {
  /** One batch through graft's YAML runner, as `Pipeline.run` does it,
    * with each stage in its own span; the lazy plan runs in the sink
    * write.
    */
  def runPipeline(ctx: Ctx, spec: PipelineSpec, sink: SinkSpec): Unit = {
    val p = Pipeline(ctx.spark, spec)
    val sources = ctx.span("pipeline.Pipeline.readSources") {
      org.apache.spark.sql.graftbridge.DialectShims.register(ctx.spark)
      p.readSources()
    }
    val out = spec.steps.foldLeft(sources.values.head) { (df, st) =>
      ctx.span(stepSpan(st))(p.applyStep(df, st))
    }
    ctx.span("pipeline.Writer.write")(Writer.write(ctx.spark, out, sink))
  }

  private def stepSpan(s: Step): String = s match {
    case _: CurateStep => "operators.step.curate"
    case _: DedupStep => "operators.step.dedup"
    case _: SpanDedupStep => "operators.step.span_dedup"
    case _: DecontaminateStep => "operators.step.decontaminate"
    case _: LmScoreStep => "operators.step.lm_score"
    case _: BpeCountStep => "operators.step.bpe_count"
    case _: PackStep => "operators.step.pack"
    case _: ShardStep => "operators.step.shard"
    case _: Transform => "pipeline.Pipeline.transform"
    case _: Validate => "quality.Validator.validate"
    case other => "pipeline.Pipeline." + other.getClass.getSimpleName.toLowerCase
  }

  /** Order-independent content hash and row count of a frame. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
      lit(0)).cast("string"), count(lit(1))).head()
    (BigInt(r.getString(0)).toLong, r.getLong(1))
  }

  /** Bytes of every file under `dir` (data, logs, checksums). */
  def diskBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

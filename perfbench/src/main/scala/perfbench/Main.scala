package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark harness: one client, `local[cores]`, calling
  * graft's public functions only.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --root <repo>
  * }}}
  *
  * Set-up starts a fresh session and runs the workload's graft-side
  * set-up [[SetupRounds]] times (the seeded inputs are generated,
  * untimed, after the first round); `setup_s` is the median round.
  * Traced runs set up once. The
  * loop then repeats whole workload iterations while the next one is
  * expected to end inside `seconds`, at least once. There is no warm-up
  * pass: the first iteration pays plan compilation and JIT warm-up, as
  * a one-JVM-per-pipeline run does.
  *
  * With `--trace 0` every iteration is untraced and the end-to-end
  * metrics are printed. With `--trace 1` at least four iterations run:
  * the first is the cold untraced iteration the untraced benchmark
  * measures, then untraced and traced iterations alternate, ending on
  * an untraced one. The per-layer metrics come from the traced
  * iterations. The tracing overhead of a traced iteration is its wall
  * time minus the mean of the untraced iterations on either side of
  * it, so warm-up drift cancels; the median over traced iterations is
  * reported. The last stdout line is the result JSON.
  */
object Main {
  val SetupRounds = 15

  private val workloads: Map[String, () => Workload] = Map(
    "pretrain_curate" -> (() => new PretrainCurate),
    "cdc_etl" -> (() => new CdcEtl))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val wl = workloads.getOrElse(name, sys.error(
      s"unknown workload '$name' (${workloads.keys.toSeq.sorted.mkString(", ")})"))()
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val root = Paths.get(opts.getOrElse("root", ".")).toAbsolutePath.normalize
    if (trace) CountingFileSystem.install()
    val ctx = new Ctx(seed, work, root)
    val line = run(wl, ctx, seconds, trace, name)
    ctx.spark.stop()
    println(line)
  }

  private def session(ctx: Ctx, trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = graft.GraftSession.tune(b, cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap in use after a full collection. The pause between two
    * collections lets Spark's cleaner thread release the broadcasts and
    * shuffles the first one found unreachable.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private final case class Iter(index: Int, ms: Double, traced: Boolean, facts: IterFacts,
                                heapMb: Double, gcMs: Long, persisted: Int)

  def run(wl: Workload, ctx: Ctx, seconds: Double, trace: Boolean, name: String): String = {
    // ---- set-up: session start plus graft-side set-up, repeated ----
    var generateS = 0.0
    // traced runs print no setup_s, so they set up once
    val rounds = (0 until (if (trace) 1 else SetupRounds)).map { r =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      ctx.spark = session(ctx, trace)
      wl.setup(ctx)
      val s = (System.nanoTime() - t0) / 1e9
      if (r == 0) { // seeded inputs: made once, not timed
        val g0 = System.nanoTime()
        wl.generate(ctx)
        generateS = (System.nanoTime() - g0) / 1e9
      }
      s
    }
    val setupS = Harness.median(rounds)
    System.err.println(f"[perfbench] set-up rounds ${rounds.map(s => f"$s%.3f").mkString(" ")} s, " +
      f"inputs generated in $generateS%.2f s, setup_s $setupS%.3f")
    if (trace) ctx.check("the counting filesystem serves file:// paths")(CountingFileSystem.inUse(ctx.spark))
    ctx.tracer = new Tracer(ctx.spark.sparkContext)

    // ---- measuring window: whole iterations, closed loop ----
    val iters = ArrayBuffer.empty[Iter]
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    def expectedS: Double = if (iters.isEmpty) 0.0 else Harness.median(iters.map(_.ms).toSeq) / 1000
    // a new iteration starts only if it should end inside the window; a
    // traced run adds (traced, untraced) pairs and never ends on a traced one
    def more(i: Int): Boolean =
      if (trace) i < 4 || i % 2 == 1 || elapsed + 2 * expectedS <= seconds
      else i < 1 || elapsed + expectedS <= seconds
    var i = 0
    while (more(i)) {
      ctx.iter = i
      val tracedNow = trace && i >= 2 && i % 2 == 0
      ctx.tracer.setEnabled(tracedNow)
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val facts = try wl.iteration(ctx) catch {
        case e: Exception =>
          ctx.attempted += 1
          ctx.failed += 1
          ctx.failures += s"iter $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[perfbench] iteration $i failed:")
          e.printStackTrace()
          null
      }
      val ms = (System.nanoTime() - t0) / 1e6
      ctx.tracer.setEnabled(false)
      val gc = gcMs() - gc0
      if (facts != null)
        iters += Iter(i, ms, tracedNow, facts, retainedHeapMb(), gc,
          ctx.spark.sparkContext.getPersistentRDDs.size)
      Harness.deleteTree(ctx.work.resolve(s"it$i"))
      i += 1
    }
    wl.finish(ctx)
    // per-layer metrics come first: they add the traced run's wiring checks
    val metrics =
      if (!trace) endToEnd(ctx, setupS, iters.toSeq)
      else perLayer(ctx, iters.toSeq, name)

    val correct = ctx.failed == 0 && iters.nonEmpty
    System.err.println(f"[perfbench] $name seed=${ctx.seed} iterations=${iters.size} " +
      f"ops=${ctx.ops.size} window=$elapsed%.1fs failed=${ctx.failed}")
    ctx.failures.foreach(f => System.err.println(s"[perfbench]   $f"))
    ctx.ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      System.err.println(f"[perfbench]   $n%-45s n=${os.size}%3d median=${Harness.median(os.map(_.ms).toSeq)}%9.1f ms " +
        f"total=${os.map(_.ms).sum / 1000}%6.2f s")
    }
    Metrics.resultJson(correct, ctx.attempted, ctx.failed, metrics)
  }

  private def endToEnd(ctx: Ctx, setupS: Double, iters: Seq[Iter]): Seq[(String, Double, String)] = {
    import Harness.median
    val writes = ctx.ops.filter(_.kind == Kind.Write).toSeq
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)
    val values = Map(
      "setup_s" -> setupS,
      "iteration_ms" -> med(iters.map(_.ms)),
      "rows_per_s" -> writes.map(_.rows).sum / (writes.map(_.ms).sum / 1000.0),
      "storage_bytes_per_row" -> med(iters.map(i => i.facts.storageBytes.toDouble / i.facts.liveRows)),
      "retained_heap_mb" -> med(iters.map(_.heapMb)))
    Metrics.endToEnd.map { case (n, u) => (n, values(n), u) }
  }

  private def perLayer(ctx: Ctx, iters: Seq[Iter], name: String): Seq[(String, Double, String)] = {
    import Harness.median
    val tracer = ctx.tracer
    val cs = tracer.sparkCounters()
    val spans = tracer.recorded
    val tracedIters = iters.filter(_.traced)
    require(tracedIters.nonEmpty, "no traced iteration completed")
    val countersOf = spans.map(s => s.id -> tracer.counters(s, cs).toMap).toMap
    def counter(s: Span, c: String): Double = countersOf(s.id)(c).toDouble
    // per traced iteration: the sum over that iteration's calls, then the
    // median across traced iterations
    val byIter = tracedIters.map(it => it.index -> spans.filter(_.iter == it.index)).toMap
    def perIter(f: Seq[Span] => Double): Double = median(byIter.values.toSeq.map(f))
    val spanValues = Metrics.spanCounters.map { case (s, c, u) =>
      (s"$s.$c", perIter(ss => ss.filter(_.name == s).map(counter(_, c)).sum), u)
    }
    val phases = Metrics.streamPhases.map { p =>
      (s"streaming.StreamingQueryProgress.durationMs.$p",
        median(byIter.keys.toSeq.map(i => ctx.streamPhases.getOrElse((i, p), 0L).toDouble)), "ms")
    }
    // each traced iteration against the untraced ones on either side of it
    val wallMs = iters.map(it => it.index -> it.ms).toMap
    val overheads = tracedIters.flatMap { t =>
      for (a <- wallMs.get(t.index - 1); b <- wallMs.get(t.index + 1)) yield t.ms - (a + b) / 2
    }
    val totals = Seq(
      ("spark.gc_ms", median(tracedIters.map(_.gcMs.toDouble)), "ms"),
      ("spark.executor_ms", perIter(ss => ss.map(counter(_, "executor_ms")).sum), "ms"),
      ("spark.persisted_rdds", median(tracedIters.map(_.persisted.toDouble)), "count"),
      ("trace.overhead_ms", if (overheads.isEmpty) Double.NaN else median(overheads), "ms"))
    // a commit that reports no filesystem writes means the counters are not wired
    spans.filter(s => Metrics.commitSpans.contains(s.name)).groupBy(_.name).toSeq.sortBy(_._1)
      .foreach { case (n, ss) =>
        ctx.check(s"$n reports filesystem writes in every traced call")(
          ss.forall(counter(_, "fs_write_ops") > 0))
      }
    tracer.write(ctx.root.resolve("perfbench").resolve("target").resolve("spans")
      .resolve(s"$name-seed${ctx.seed}.jsonl"))
    spanValues ++ phases ++ totals
  }
}

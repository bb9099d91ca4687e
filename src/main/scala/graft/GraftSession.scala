package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults.
  *
  * Local runs use `local[n]` with `shuffle.partitions = n`; on a real
  * cluster the same settings come from spark-submit and AQE coalescing
  * picks effective partition counts at runtime. AQE (+ skew-join
  * handling) is on so plans re-partition themselves at 100 TB without
  * code changes.
  *
  * Two defaults cut fixed per-query cost, which dominates short
  * pipelines (one JVM per pipeline, ~1k documents):
  *  - `spark.sql.artifact.isolation.enabled=false`. Spark 4 classic
  *    sessions default to per-session artifact isolation (a Spark
  *    Connect feature): every SQL task then runs under a per-session
  *    `ExecutorClassLoader`, and each class name Janino probes and
  *    misses during executor-side codegen becomes an RPC round trip to
  *    the driver's class server. graft adds no session artifacts, so
  *    tasks run under the executor's shared loader instead. The one
  *    user-visible change: artifacts added with
  *    `SparkSession.addArtifact` are visible to every session of the
  *    application, not only the one that added them.
  *  - `spark.sql.codegen.useIdInClassName=false`: generated classes are
  *    not named after their stage id, so whole-stage code identical
  *    across stages hits the codegen cache instead of compiling again.
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    tune(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  /** Apply graft's conf to any builder (cluster or local). Graft's
    * session extensions ride along — native SQL functions, the
    * GRAFT_ASOF statement form, the as-of planner strategy and the
    * opt-in range-join rule — so every graft-built session has the
    * full SQL surface (`withExtensions` is a no-op if the JVM already
    * has a live session; cluster deployments set
    * `spark.sql.extensions=org.apache.spark.sql.graftbridge.GraftExtensions`
    * and `spark.sql.artifact.isolation.enabled=false` instead).
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .withExtensions(new org.apache.spark.sql.graftbridge.GraftExtensions)
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.codegen.useIdInClassName", "false")
    .config("spark.ui.enabled", "false")
}

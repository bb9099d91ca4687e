package graft

/** Defaults every GraftSession-built session carries. */
class GraftSessionSuite extends SparkSpec {

  test("per-session artifact isolation is off and codegen class names carry no stage id") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("SQL tasks run under the executor's shared class loader, not a per-session ExecutorClassLoader") {
    import spark.implicits._
    // a Dataset action goes through SQL execution, the path where a
    // session's artifact state would install its own task loader
    val chains = spark.range(4).repartition(4).mapPartitions { _ =>
      Iterator(Iterator.iterate(Thread.currentThread.getContextClassLoader)(_.getParent)
        .takeWhile(_ != null).map(_.getClass.getName).mkString(" <- "))
    }.collect()
    assert(chains.nonEmpty)
    chains.foreach { c =>
      assert(!c.contains("org.apache.spark.executor.ExecutorClassLoader"), s"task loader chain: $c")
    }
  }
}

package graft.streaming

import graft.pipeline.VersionedTable
import org.apache.spark.sql.SparkSession

/** The `startingVersion` option of the versioned (`graft`) and Delta
  * (`graft-delta`) streams: where a fresh stream begins, exclusive.
  */
private[graft] object StartingVersion {

  /** Unset → `none` (the "before any commit" sentinel: the first batch
    * is the full snapshot); `"latest"` → `head()`, pinned once per
    * checkpoint by [[resolveLatestOnce]]; a number N → N (the stream
    * delivers commits strictly after N).
    */
  def parse(spark: SparkSession, option: Option[String], metadataPath: String,
            none: Long, head: () => Long): Long = option match {
    case None => none
    case Some("latest") => resolveLatestOnce(spark, metadataPath, head)
    case Some(n) => try n.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"startingVersion must be a version number or 'latest', got '$n'")
    }
  }

  /** 'latest' must resolve ONCE per stream, not once per (re)start: the
    * engine can log an offset for batch 0 and crash before the batch
    * commits, and a restart that re-resolved 'latest' against a table
    * that moved meanwhile would silently skip the span in between. The
    * resolved version is persisted in the source's checkpoint-scoped
    * metadataPath on first creation (the same durability contract
    * delta-spark's DeltaSourceOffset uses) and read back on restart.
    * The file name is fixed, so existing checkpoints keep their pinned
    * start.
    */
  private def resolveLatestOnce(spark: SparkSession, metadataPath: String,
                                resolve: () => Long): Long = {
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-starting-version")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.readSmall(fs, p).map(_.trim.toLong).getOrElse {
      val v = resolve()
      fs.mkdirs(p.getParent)
      try {
        val out = fs.create(p, false)
        try out.write(v.toString.getBytes("UTF-8")) finally out.close()
        v
      } catch {
        case e: java.io.IOException =>
          // lost a creation race -> read the winner; a genuine write
          // failure must NOT fall back to per-start re-resolution
          // (that re-opens the skip window this file exists to close)
          VersionedTable.readSmall(fs, p).map(_.trim.toLong).getOrElse(
            throw new IllegalStateException(
              s"cannot persist resolved startingVersion=latest at $p", e))
      }
    }
  }
}

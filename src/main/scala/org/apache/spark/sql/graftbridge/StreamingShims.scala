package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}

/** Bridges for the DSv1 streaming faces graft still has — the
  * `graft-delta` Source (its batches are DataFrames built by DV
  * filtering, CDF and row-id reads) and the `graft` format's Sink.
  *
  * The Source side needs one internal hook:
  * `MicroBatchExecution` asserts that the DataFrame `getBatch` returns
  * has `isStreaming=true`, but every public way to build a DataFrame
  * from storage yields a batch plan. The stock file source (and OSS
  * Delta Lake's DeltaSource, the design this follows) re-brands the
  * batch plan through `SparkSession.internalCreateDataFrame(rdd,
  * schema, isStreaming = true)` — private[sql], hence this shim lives
  * under the org.apache.spark.sql package tree.
  */
object StreamingShims {

  /** Re-brand a batch DataFrame as a streaming micro-batch result.
    * Planning of the batch side happens here (`toRdd`); execution
    * stays deferred to the micro-batch's own jobs. The cost of this
    * boundary is that downstream streaming predicates do not push into
    * the scan — acceptable for a source whose unit of read is an
    * already-pruned set of committed data files.
    */
  def asMicroBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    spark.internalCreateDataFrame(classic.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse boundary, for a DSv1 streaming SINK: the Dataset
    * `Sink.addBatch` receives carries the incremental streaming plan —
    * handing it to a normal batch writer would re-analyze that plan as
    * a batch query and fail ("streaming source in a batch query"). The
    * stock pattern (Delta's V1 sink does the same) re-brands the
    * already-planned RDD as a plain batch DataFrame; rows are copied
    * because the incremental plan reuses its InternalRow buffers.
    */
  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    spark.internalCreateDataFrame(classic.queryExecution.toRdd.map(_.copy()), df.schema,
      isStreaming = false)
  }
}

package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` surface (this file lives under
  * `org.apache.spark.sql` solely to satisfy the access qualifier — the same
  * technique used by typed-DataFrame libraries in the Spark ecosystem).
  *
  * Two capabilities:
  *  - wrap a custom Catalyst [[Expression]] as a user-facing [[Column]]
  *    (the classic-mode converter `ExpressionUtils.column`);
  *  - register a custom expression in the session's FunctionRegistry so it
  *    is also callable from `spark.sql(...)` text.
  */
object Shim {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Materialize a logical plan as a DataFrame (the classic
    * `Dataset.ofRows` factory) — what a RunnableCommand needs to turn
    * its captured query subtree back into a runnable frame. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Catalyst tree a Column stands for, converted eagerly (the
    * classic converter — `expression` above defers it behind a
    * wrapper node), so a caller can read the operator structure. */
  def catalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A streaming-tagged DataFrame over an already-planned batch
    * computation — what a V1 streaming `Source.getBatch` must return
    * (MicroBatchExecution asserts `isStreaming`; the builtin V1
    * sources use exactly this factory). */
  def streamingFrame(spark: SparkSession,
                     rdd: org.apache.spark.rdd.RDD[
                       org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse re-wrap for a V1 streaming `Sink.addBatch`: the frame
    * the engine hands in carries the incremental plan, which cannot be
    * re-planned by arbitrary batch consumers — materialize its RDD and
    * rebuild a plain batch frame over it (Spark's own ForeachBatchSink
    * does exactly this). */
  def batchFrame(spark: SparkSession,
                 df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = false)

  /** Spark's own schema for one parquet file, read from its footer on
    * the driver: the same footer-to-schema conversion that parquet
    * schema inference runs inside its one-task job, under the
    * session's parquet settings. */
  def parquetFooterSchema(spark: SparkSession,
                          file: org.apache.hadoop.fs.FileStatus,
                          conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    val meta = try rdr.getFooter finally rdr.close()
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(sqlConf))
  }

  /** `StructType.merge` under the session's case sensitivity — the
    * merge `mergeSchema` applies across files. Throws on incompatible
    * field types (e.g. int against long). */
  def mergeSchemas(spark: SparkSession,
                   a: org.apache.spark.sql.types.StructType,
                   b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    a.merge(b, spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.caseSensitiveAnalysis)

  /** Idempotently register `builder` under `name` in `spark`'s function
    * registry (session-local, no extension-loading required). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registry = classic.sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.functionExists(id)) {
      val info = new ExpressionInfo("graft", name)
      registry.registerFunction(id, info, builder)
    }
  }
}

package org.apache.spark.sql

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Expression ↔ Column converters —
  * the minimal hook a library needs to expose custom Catalyst
  * expressions as Columns (Spark 4 removed the public
  * `new Column(expr)` constructor) — and to the session state that
  * reading a parquet footer on the driver needs.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native expression under `name` for `spark.sql` users
    * (temp function in the session's FunctionRegistry — the codegen'd
    * expression itself, not a UDF wrapper). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** The footer of one parquet file, read on the driver without its
    * row groups, through the session's Hadoop conf — what
    * `ParquetFileFormat.readParquetFootersInParallel` reads in a task. */
  def parquetFooter(spark: SparkSession, file: FileStatus): Footer =
    new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      SKIP_ROW_GROUPS))

  /** The Spark schema of one footer, as `spark.read.parquet` infers it
    * for a single file (`ParquetUtils.inferSchema` touches only that
    * file, whatever `mergeSchema` says): a Spark schema kept in the
    * footer's key-value metadata wins, else the parquet schema is
    * converted with the five session flags `mergeSchemasInParallel`
    * passes, every other converter parameter at its default. Reads the
    * session's conf at each call, so it holds no schema across calls. */
  def parquetSchema(spark: SparkSession, footer: Footer): StructType = {
    val conf = spark.sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation))
  }
}

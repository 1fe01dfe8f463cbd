package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** The data schema `spark.read.parquet(path)` infers, read on the driver
  * without a Spark job. Spark's own inference ([[ParquetUtils.inferSchema]])
  * reads the same footers inside a one-task job per table, and at notebook
  * scale that job is almost all of a table load.
  *
  * It follows Spark's inference step by step, through Spark's own parts:
  *  - the path is globbed and checked as a read checks it, and the leaf
  *    files are those the read lists ([[InMemoryFileIndex]]): recursive,
  *    hidden and `_`-prefixed names left out except the summary files and
  *    `key=value` directories (a streaming sink's output is listed as a
  *    plain directory, not through its log);
  *  - with `spark.sql.parquet.mergeSchema` off it reads `_common_metadata`,
  *    else `_metadata`, else the first data file in path order; with it on,
  *    every data file (unless `respectSummaryFiles`) and every summary file,
  *    merged in path order as Spark merges its partial schemas;
  *  - footers are read by [[ParquetFileFormat.readParquetFootersInParallel]]
  *    (`ignoreCorruptFiles` honoured) and converted by
  *    [[ParquetFileFormat.readSchemaFromFooter]] with the converter Spark's
  *    merge builds from the session's SQLConf;
  *  - a missing path raises PATH_NOT_FOUND and nothing to read raises
  *    UNABLE_TO_INFER_SCHEMA, Spark's errors for the same input.
  *
  * Partition columns are not part of the result: the load that is given
  * this schema discovers them from the directory names, as an inferring
  * load does. Lives in Spark's package to reach the footer reader, the
  * schema merge and the error constructors, which are package-private. */
object FooterSchema {

  def apply(session: SparkSession, path: String): StructType = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val files = new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.filter(_.getPath.getName == n)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val meta = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val data = files.filterNot(f => common.contains(f) || meta.contains(f))
    val touched =
      if (conf.isParquetSchemaMergingEnabled)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ meta ++ common
      else common.headOption.orElse(meta.headOption).orElse(data.headOption).toSeq
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readParquetFootersInParallel(hadoopConf, touched, conf.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceLeftOption { (merged, next) =>
        try merged.merge(next, conf.caseSensitiveAnalysis)
        catch { case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(merged, next, e) }
      }
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
  }
}

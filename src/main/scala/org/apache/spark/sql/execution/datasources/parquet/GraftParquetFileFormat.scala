package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Parquet whose schema inference reads its one footer on the driver.
  *
  * Without `mergeSchema`, Spark's `ParquetUtils.inferSchema` touches one
  * file — `_common_metadata`, else `_metadata`, else the first data file by
  * path — but reads its footer inside a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`): one task and a scheduling
  * round trip for a few kilobytes. This format picks the same file from the
  * same listing and reads the same footer on the driver, with the same
  * Hadoop configuration, `ignoreCorruptFiles` handling and converter
  * settings, so the schema is the one Spark's job would return. Scans,
  * pushdown and writes are [[ParquetFileFormat]]'s own. With `mergeSchema`
  * on (option or session conf) every footer is read, and Spark's parallel
  * job stays the tool for that.
  *
  * `hashCode` is [[ParquetFileFormat]]'s (whose `equals` accepts any
  * instance of it), so a relation read through this format and one read
  * as `parquet` remain equal plans for caching and exchange reuse. */
class GraftParquetFileFormat extends ParquetFileFormat {

  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = sparkSession.sessionState.conf
    if (new ParquetOptions(parameters, conf).mergeSchema)
      super.inferSchema(sparkSession, parameters, files)
    else GraftParquetFileFormat.schemaFile(files).flatMap { file =>
      // the flags Spark's inference job passes; the rest keep their defaults
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      val footers =
        try ParquetFileFormat.readParquetFootersInParallel(
          sparkSession.sessionState.newHadoopConfWithOptions(parameters), Seq(file),
          new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles)
        catch {
          // the pool reports a footer error as "Exception thrown in
          // awaitResult"; Spark's job prints it in its task failure, here
          // the footer error itself is the error
          case e: SparkException if e.getCondition == null && e.getCause != null =>
            throw e.getCause
        }
      footers.headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }

  override def hashCode(): Int = classOf[ParquetFileFormat].hashCode()
}

object GraftParquetFileFormat {
  private val summaries =
    Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The file `ParquetUtils.inferSchema` reads when schemas are not merged:
    * the first summary file in that order, else the first data file by path. */
  private def schemaFile(files: Seq[FileStatus]): Option[FileStatus] = {
    def first(p: FileStatus => Boolean) = files.filter(p).minByOption(_.getPath.toString)
    summaries.iterator.map(n => first(_.getPath.getName == n)).collectFirst { case Some(f) => f }
      .orElse(first(f => !summaries.contains(f.getPath.getName)))
  }
}

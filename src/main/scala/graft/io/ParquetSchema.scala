package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema is read on the driver.
  *
  * Without a schema, `spark.read.parquet` infers one with a Spark job
  * that reads a single footer: the first data file by path
  * (`ParquetUtils.inferSchema`), unless schemas are merged. [[dataSchema]]
  * reads that same footer on the driver, and [[load]] hands it to the
  * reader as the data schema, so the read launches no job; partition
  * columns are still discovered by Spark from the directories. Whenever
  * the answer could differ from Spark's, the read defers to Spark's own
  * inference, errors included. */
object ParquetSchema {

  /** Reader options that change which files are read. */
  private val FileSelection =
    Set("pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter")

  /** `spark.read.format(fmt).options(options).load(paths)`, with the
    * driver-read data schema when `fmt` is parquet. */
  def load(spark: SparkSession, paths: Seq[String], options: Map[String, String] = Map.empty,
      fmt: String = "parquet"): DataFrame = {
    val reader = spark.read.format(fmt).options(options)
    val schema = if (fmt == "parquet") dataSchema(spark, paths, options) else None
    schema.fold(reader)(reader.schema).load(paths: _*)
  }

  /** The data schema Spark would infer for a parquet read of `paths`, or
    * None to let Spark infer it: schemas are merged, an option selects
    * files, a path is a glob, summary files exist, no data file exists,
    * its footer cannot be read, or it holds a column that is also a
    * partition directory's key. */
  def dataSchema(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Option[StructType] = {
    if (paths.isEmpty || new ParquetOptions(options, spark.sessionState.conf).mergeSchema ||
        options.keys.exists(k => FileSelection(k.toLowerCase(java.util.Locale.ROOT))) ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    scala.util.Try {
      val leaves = paths.flatMap { p =>
        val path = new Path(p)
        PartitionedRewrite.leafFiles(path.getFileSystem(conf), path, hidden)
      }
      if (leaves.exists(f => isSummary(f.getPath.getName))) None
      else leaves.sortBy(_.getPath.toString).headOption.flatMap { file =>
        val schema = footerSchema(spark, file, conf)
        val partitionKeys = file.getPath.toUri.getPath.split('/')
          .filter(_.contains("=")).map(_.split("=", 2)(0).toLowerCase(java.util.Locale.ROOT)).toSet
        if (schema.fieldNames.exists(n => partitionKeys(n.toLowerCase(java.util.Locale.ROOT)))) None
        else Some(schema)
      }
    }.toOption.flatten
  }

  /** The Spark schema stored in (or converted from) `file`'s footer, by
    * the conversion `ParquetFileFormat.mergeSchemasInParallel` runs per
    * file inside its job, with the same session confs. */
  private def footerSchema(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The entries Spark's file index skips (`HadoopFSUtils`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !isSummary(name)
}

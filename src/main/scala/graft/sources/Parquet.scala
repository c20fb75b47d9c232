package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one way `src/main` reads parquet without a declared schema.
  *
  * `spark.read.parquet` infers the schema of every read with a Spark job
  * (one stage, one task) even when it touches a single footer. A read
  * here goes through [[FooterSchemaParquet]], which reads that footer on
  * the driver instead: the same file, the same converter settings, no
  * job. Everything else is Spark's own parquet source: listing, globs
  * and `pathGlobFilter`, multi-path reads, `k=v` partition discovery,
  * the scan and its pushdowns, the plan strings (`Scan parquet`). Nothing
  * is cached: each read costs one footer read.
  */
object Parquet {

  /** A reader of `spark` whose schema-less parquet loads read their
    * schema from one footer; add options and `load` the paths. */
  def reader(spark: SparkSession): DataFrameReader =
    spark.read.format(classOf[FooterSchemaParquet].getName)

  /** The parquet table at `paths`: `spark.read.parquet(paths: _*)`
    * without its inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    reader(spark).load(paths: _*)
}

/** Spark's parquet source with a driver-side schema read. It picks the
  * file Spark's inference picks from the files the file index listed:
  * `_common_metadata`, then `_metadata`, then the first data file by
  * path. It reads that footer with Spark's `ParquetFooterReader`, and
  * converts it with `readSchemaFromFooter` and a converter built exactly
  * as `ParquetFileFormat.mergeSchemasInParallel` builds its own, so the
  * Spark row-metadata schema, `nanosAsLong`, binary-as-string, INT96 and
  * NTZ inference come out the same. A `mergeSchema` read, an empty file
  * list or a footer that cannot be read goes to Spark's inference, which
  * merges, or raises (or skips a corrupt file) as it always did.
  *
  * Not registered as a `DataSourceRegister`: its inherited short name
  * `parquet` would clash with Spark's. It is named by class. */
class FooterSchemaParquet extends ParquetFileFormat {

  override def inferSchema(spark: SparkSession,
                           options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val sorted = files.sortBy(_.getPath.toString)
    def named(name: String) = sorted.find(_.getPath.getName == name)
    val common = ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
    val summary = ParquetFileWriter.PARQUET_METADATA_FILE
    val file = named(common).orElse(named(summary)).orElse(sorted.find {
      f => val n = f.getPath.getName; n != common && n != summary })
    file.filterNot(_ => new ParquetOptions(options, conf).mergeSchema)
      .flatMap(f => Try {
        val footer = ParquetFooterReader.readFooter(HadoopInputFile
          .fromStatus(f, spark.sessionState.newHadoopConfWithOptions(options)),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation))
      }.toOption)
      .orElse(super.inferSchema(spark, options, files))
  }
}

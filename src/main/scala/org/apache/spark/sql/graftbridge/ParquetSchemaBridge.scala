package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The parquet read schema `spark.read.parquet(path)` would infer,
  * computed on the driver without a Spark job. Spark's non-merging
  * inference touches ONE footer (`_common_metadata`, else `_metadata`,
  * else the first data file in path order) but reads it through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which always schedules a
  * one-task job — ~65 ms of fixed cost per read on a 4-core box. This
  * bridge picks the same footer from the same file index (a streaming
  * sink's `_spark_metadata` log, else an `InMemoryFileIndex` listing)
  * and converts it with Spark's own `ParquetFileFormat.readSchemaFromFooter`
  * and a `ParquetToSparkSchemaConverter` built from the session conf at
  * call time, with the flags inference uses. Lives under
  * `org.apache.spark.sql` to keep all internal-API use in one
  * sanctioned place (see [[ColumnBridge]]); the public entry point is
  * `graft.sources.Lake.read`.
  */
object ParquetSchemaBridge {

  /** What one listing of a parquet path found. */
  sealed trait Listing

  /** The path does not exist (a glob included) or lists no data file:
    * Spark's reader would fail analysis on it (PATH_NOT_FOUND,
    * UNABLE_TO_INFER_SCHEMA).
    */
  case object NoData extends Listing

  /** The path lists data. `schema` is the read schema Spark's inference
    * would give, or None when the path must go through Spark's own
    * reader: the session asks for schema merging, or the footer cannot
    * be read — so the error a caller sees (a corrupt footer) stays
    * Spark's own.
    */
  final case class HasData(schema: Option[StructType]) extends Listing

  def listing(spark: SparkSession, path: String): Listing = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return NoData
    val qualified = p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val files =
      if (FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf))
        new MetadataLogFileIndex(spark, qualified, Map.empty, None).allFiles()
      else new InMemoryFileIndex(spark, Seq(qualified), Map.empty, None).allFiles()
    if (files.isEmpty) return NoData
    if (new ParquetOptions(Map.empty[String, String], conf).mergeSchema) return HasData(None)
    val leaves = files.sortBy(_.getPath.toString)
    // ParquetUtils.inferSchema's non-merging pick, in its order
    val summaries = Seq(
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    HasData(summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap(f => readFooterSchema(conf, f, hadoopConf)))
  }

  private def readFooterSchema(
      conf: SQLConf,
      file: FileStatus,
      hadoopConf: Configuration
  ): Option[StructType] = {
    // the flags ParquetFileFormat.mergeSchemasInParallel reads from the
    // session conf; the rest stay at the converter's defaults, as there
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    try {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta), converter))
    } catch { case NonFatal(_) => None }
  }
}

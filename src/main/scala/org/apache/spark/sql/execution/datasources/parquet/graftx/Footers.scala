package org.apache.spark.sql.execution.datasources.parquet.graftx

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema inference on the driver. `spark.read.parquet(path)`
  * infers its schema through `SchemaMergeUtils.mergeSchemasInParallel`,
  * which runs a Spark job even for one file. This reads the same footer
  * with Spark's own footer-to-schema code and the converter flags that
  * job uses, on the driver. Lives in Spark's parquet package to reach
  * its `private[parquet]` readers; the engine goes through
  * `graft.engine.Tables.parquet`. */
object Footers {

  /** For each path, the data schema `spark.read.parquet(path)` infers, all
    * footers read in one parallel call with one Hadoop conf. None where
    * Spark would read more or other than one listed footer: no such path
    * or no data file (Spark's own read raises its error), schema merging
    * on, or a streaming sink's output (`_spark_metadata` lists its files).
    */
  def schemas(spark: SparkSession, paths: Seq[String]): Seq[Option[StructType]] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val touched = paths.map { p =>
      if (conf.isParquetSchemaMergingEnabled ||
          FileStreamSink.hasMetadata(Seq(p), hadoopConf, conf)) None
      else schemaFile(new Path(p), hadoopConf)
    }
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val read = ParquetFileFormat.readParquetFootersInParallel(
        hadoopConf, touched.flatten, conf.ignoreCorruptFiles)
      .map(f => f.getFile -> ParquetFileFormat.readSchemaFromFooter(f, converter))
      .toMap
    touched.map(_.flatMap(f => read.get(f.getPath)))
  }

  /** The one file `ParquetUtils.inferSchema` reads with merging off: of
    * the leaf files `InMemoryFileIndex` lists (hidden `_`/`.` names
    * skipped), sorted by path, the first `_common_metadata`, else the
    * first `_metadata`, else the first data file. */
  private def schemaFile(path: Path, conf: Configuration): Option[FileStatus] = {
    val fs = path.getFileSystem(conf)
    val roots = Option(fs.globStatus(path)).toSeq.flatten
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files = roots.flatMap(leaves).sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
  }
}

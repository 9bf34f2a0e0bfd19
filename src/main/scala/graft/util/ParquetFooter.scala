package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * A bare `spark.read.parquet(dir)` infers its schema through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which runs a one-task Spark
  * job even when, with schema merging off, it reads a single footer. For a
  * stage that then runs one data job, that schema job is half its jobs.
  * [[read]] reads the same footer Spark's non-merging inference picks
  * (`_common_metadata`, else `_metadata`, else the first data file in path
  * order) and converts it the same way (`ParquetFileFormat
  * .readSchemaFromFooter` under the session's SQL conf), then passes it as
  * the read schema. Partition columns are not in the footer, so Spark
  * still discovers them, with their inferred types, from `col=value/`
  * directory names: the frame's schema equals the inferred one.
  */
object ParquetFooter {

  /** `spark.read.parquet(paths)` without the schema job. Falls back to
    * the plain read when schema merging is on, or when a path does not
    * exist or holds no parquet file, so those cases keep Spark's own
    * behaviour and errors. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  /** The schema Spark's non-merging inference would read for `paths`,
    * or None when it cannot be read from a footer here. */
  def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    listing(spark, paths).flatMap { case (hadoopConf, leaves) =>
      def named(n: String) = leaves.find(_.getPath.getName == n)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !summary(f)))
        .map { st =>
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(st.getPath, footer(st, hadoopConf)),
            new ParquetToSparkSchemaConverter(conf))
        }
    }
  }

  /** The rows of the parquet files under `paths`, summed from their
    * footers on the driver without a Spark job — the metadata file index
    * of the reference's indexed sampler. None when a path does not exist
    * or holds no parquet file, or a data file's footer cannot be read. */
  def rowCount(spark: SparkSession, paths: Seq[String]): Option[Long] =
    listing(spark, paths).flatMap { case (hadoopConf, leaves) =>
      val data = leaves.filterNot(summary)
      if (data.isEmpty) None
      else scala.util.Try(data.map(st =>
        footer(st, hadoopConf).getBlocks.asScala.map(_.getRowCount).sum).sum)
        .toOption
    }

  /** The files Spark's file index lists under `paths`, in path order, or
    * None when there are no paths or one does not exist. */
  private def listing(spark: SparkSession, paths: Seq[String])
      : Option[(Configuration, Seq[FileStatus])] = {
    if (paths.isEmpty) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = paths.map(new Path(_)).map(p => (p.getFileSystem(hadoopConf), p))
    if (!roots.forall { case (fs, p) => fs.exists(p) }) return None
    Some((hadoopConf, roots.flatMap { case (fs, p) => leafFiles(fs, fs.getFileStatus(p)) }
      .sortBy(_.getPath.toString)))
  }

  private def footer(st: FileStatus, hadoopConf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hadoopConf),
      ParquetMetadataConverter.NO_FILTER)

  private def summary(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      n == ParquetFileWriter.PARQUET_METADATA_FILE
  }

  /** Files under `st` that Spark's file index lists: names starting with
    * `_` (unless they hold `=` or are parquet summary files) or `.` are
    * skipped, directories included. */
  private def leafFiles(fs: org.apache.hadoop.fs.FileSystem,
                        st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => hidden(c.getPath.getName))
      .flatMap(leafFiles(fs, _))

  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
}

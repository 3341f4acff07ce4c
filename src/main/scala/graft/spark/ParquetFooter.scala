package graft.spark

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that take their schema from a data file's footer, read on
  * the driver. Spark's own schema inference starts a Spark job to read that
  * same footer, one per read, even of a single file; a read through here
  * starts none. */
object ParquetFooter {

  /** The Spark schema that inference reads from a parquet file's footer. */
  def schema(spark: SparkSession, file: String): StructType =
    schemaOf(spark, new Path(new java.net.URI(file)))

  private def schemaOf(spark: SparkSession, file: Path): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, footer(spark, file, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  private def footer(spark: SparkSession, file: Path,
      filter: ParquetMetadataConverter.MetadataFilter) =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration), filter)

  /** The data files at `path`, sorted: the path itself when it is a file;
    * for a directory, the files a read of it lists (hidden and `_`-prefixed
    * files left out). */
  private def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isDirectory) Seq(p)
    else spark.read.schema(new StructType()).parquet(path).inputFiles.sorted.toSeq
      .map(f => new Path(new java.net.URI(f)))
  }

  /** The parquet data at `path`, one file or a directory of them, read with
    * the footer schema of its first data file, as inference without schema
    * merging reads it. A directory's listing runs on the driver, as every
    * read's does; a path without data files fails here. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val file = dataFiles(spark, path).headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    spark.read.schema(schemaOf(spark, file)).parquet(path)
  }

  /** The row count of the parquet data at `path`, summed from the row
    * groups in its data files' footers: what `count()` returns, without a
    * job. */
  def rows(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).iterator.map(f =>
      footer(spark, f, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.iterator.map(_.getRowCount).sum).sum
}

package graft.spark

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
  def schema(spark: SparkSession, file: String): StructType = {
    val path = new Path(new java.net.URI(file))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The parquet data at `path`, one file or a directory of them, read with
    * the footer schema of its first data file, as inference without schema
    * merging reads it. The file listing runs on the driver, as every read's
    * does; a path without data files fails here. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val file = spark.read.schema(new StructType()).parquet(path).inputFiles.sorted.headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    spark.read.schema(schema(spark, file)).parquet(path)
  }
}

package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that start no Spark job of their own.
  *
  * `spark.read.parquet` infers the schema with a one-task Spark job (it
  * reads a footer inside an executor task) on every call, before the
  * caller's action runs. Every table and artifact Graft writes is one
  * flat directory (or file) of parts from one writer — none uses
  * `partitionBy` — so one data file's footer gives the whole schema.
  * [[read]] reads that footer on the driver, through the same
  * `ParquetFileFormat.readSchemaFromFooter` and session-configured
  * converter the inference job runs, and hands the schema to the
  * reader. The file is the one inference would pick: the first data
  * file by path (`_`- and `.`-prefixed names are not data). */
private[graft] object Parquet {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The schema of `path`, failing as `spark.read.parquet` fails on a
    * missing path (PATH_NOT_FOUND) or one with no data file
    * (UNABLE_TO_INFER_SCHEMA). */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    val st = fs.getFileStatus(p)
    val data = if (st.isFile) Some(st) else fs.listStatus(p)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).headOption
    val file = data.getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}

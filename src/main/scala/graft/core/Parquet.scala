package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader,
  ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** The program's one reader of a parquet path whose schema it does not
  * know. A bare `spark.read.parquet(path)` infers the schema in a one-task
  * Spark job that reads a single footer; this reads the same footer on the
  * driver and hands Spark the schema, so the read starts no job.
  *
  * The file is the one Spark's inference picks with `mergeSchema` off
  * (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`, else
  * the first data file by path, out of Spark's own leaf listing (which
  * hides `_`/`.` names unless they contain `=`). Its schema is read as
  * `ParquetFileFormat.readSchemaFromFooter` does: the Spark schema stored
  * under the row-metadata key, else the session's parquet type mapping
  * (which honours `nanosAsLong`). Partition columns are still discovered
  * by Spark from the directory names. A path with no file to read goes to
  * `spark.read.parquet`, so its error is Spark's own. The path is listed
  * twice, here and by the read: on a local disk that is milliseconds,
  * against about 50 ms for the inference job. */
object Parquet {
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val summaryRank = Map("_common_metadata" -> 0, "_metadata" -> 1)
    val files = new InMemoryFileIndex(session, Seq(new Path(path)), Map.empty, None).allFiles()
    files.minByOption(f => (summaryRank.getOrElse(f.getPath.getName, 2), f.getPath.toString))
      .map { f =>
        val conf = session.sessionState.newHadoopConf()
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          SKIP_ROW_GROUPS).getFileMetaData
        Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
          .flatMap(s => scala.util.Try(DataType.fromJson(s).asInstanceOf[StructType]).toOption)
          .getOrElse(new ParquetToSparkSchemaConverter(session.sessionState.conf)
            .convert(meta.getSchema))
      }
  }
}

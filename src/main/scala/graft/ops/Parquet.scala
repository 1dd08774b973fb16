package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.ParquetFileWriter.{
  PARQUET_COMMON_METADATA_FILE => CommonMetadata,
  PARQUET_METADATA_FILE => Metadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.GraftFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}

/** The one way graft reads parquet. `spark.read.parquet(path)` infers
  * the schema with a Spark job that reads one footer — tens of
  * milliseconds of launch and driver gap at the head of every table or
  * artifact read. [[read]] reads that same footer on the calling thread
  * and hands the schema to the reader, so constructing the frame runs
  * no job. The file is the one Spark's non-merging inference picks
  * (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`,
  * else the first data file by path, over the listing Spark's file
  * index sees. The footer goes through Spark's own converter, so the
  * schema is the one inference would return, and a file inference
  * rejects (a TIMESTAMP(NANOS) column) throws the same error.
  *
  * Spark keeps its own path — errors and merge behaviour unchanged —
  * for a missing path, a directory with no data file, and
  * `spark.sql.parquet.mergeSchema`. As with Spark's inference, the part
  * files of one table or artifact are assumed to share one schema. */
object Parquet {

  def read(s: SparkSession, path: String): DataFrame = {
    val conf = s.sessionState.conf
    val hadoop = s.sessionState.newHadoopConf()
    val footer =
      if (conf.isParquetSchemaMergingEnabled) None else footerFile(hadoop, path)
    footer match {
      case Some(f) =>
        val in = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoop))
        val meta = try in.getFooter finally in.close()
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(conf))
        s.read.schema(schema).parquet(path)
      case None => s.read.parquet(path)
    }
  }

  private val Summaries = Set(CommonMetadata, Metadata)

  /** The file whose footer non-merging inference reads, if any. */
  private def footerFile(hadoop: Configuration,
      path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoop)
    if (!fs.exists(root)) None
    else {
      val (summaries, data) = listLeaves(fs, fs.getFileStatus(root))
        .sortBy(_.getPath.toString)
        .partition(f => Summaries(f.getPath.getName))
      summaries.find(_.getPath.getName == CommonMetadata)
        .orElse(summaries.headOption).orElse(data.headOption)
    }
  }

  /** Every file under `st`, descending into directories (`partitionBy`
    * layouts such as IVF's `cid=N`) and skipping the names Spark's file
    * index skips. */
  private def listLeaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => GraftFiles.hidden(c.getPath.getName))
      .flatMap(listLeaves(fs, _))
}

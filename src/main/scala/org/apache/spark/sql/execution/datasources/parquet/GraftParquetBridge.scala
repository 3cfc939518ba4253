package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer-to-schema conversion,
  * for `graft.engine.ParquetCatalog.read`. A plain `spark.read.parquet`
  * infers its schema by running a one-task Spark job
  * (`ParquetFileFormat.mergeSchemasInParallel`) that reads one footer;
  * this object reads that same footer on the calling thread and
  * converts it with the same code, so building a DataFrame over a
  * parquet source fires no job.
  */
object GraftParquetBridge {

  /** The data schema a plain `spark.read.parquet` infers, or None when
    * there is no file to read it from (missing path, empty directory),
    * reading or converting the footer fails, or the session merges
    * schemas (`spark.sql.parquet.mergeSchema`), which reads every
    * footer. The caller then falls back to Spark's own inference, so
    * every error stays Spark's.
    *
    * The file is the one Spark's inference opens without
    * `mergeSchema` (`ParquetUtils.inferSchema`): `_common_metadata`,
    * else `_metadata`, else the first data file in path order, out of
    * the files Spark's own file index hands inference
    * (`InMemoryFileIndex.allFiles`: hidden names skipped, and only the
    * top directory's files, or only the partition directories' files
    * when `k=v` directories are found). Partition columns are not in
    * the footer; Spark still discovers them from the directory names.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (SessionStateHelper.getSqlConf(spark).isParquetSchemaMergingEnabled) None
    else try {
      val conf = SessionStateHelper.getHadoopConf(spark)
      val root = new Path(path)
      val qualified = root.getFileSystem(conf).makeQualified(root)
      val files = new InMemoryFileIndex(spark, Seq(qualified), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val summaries =
        Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
        .flatMap { f =>
          val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchema(Seq(new Footer(f.getPath, footer)), spark)
        }
    } catch { case NonFatal(_) => None }
}

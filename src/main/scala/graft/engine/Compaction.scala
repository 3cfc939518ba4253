package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet tables — the maintenance pass
  * every long-lived table needs. Incremental upserts, streaming sinks,
  * and wave-parallel DAG writes all fragment tables into files far
  * below the scanner's sweet spot; each file costs a task, a footer
  * read, and an open/close, so a 100 TB table drifting to kilobyte
  * files can spend more time on file overhead than on bytes.
  *
  * `compact` rewrites a table directory into ⌈bytes / targetBytes⌉
  * files and swaps the result in with the same crash-recoverable
  * rename order as [[TableSink.ParquetUpsert]] (base renamed aside,
  * never deleted before the new data lands). Row content is untouched
  * — the operation is pure layout.
  *
  * Scale notes: on a real deployment compaction runs PER PARTITION on
  * cold partitions only (hot partitions are still being appended to;
  * compacting them races the writer), which this API composes with by
  * pointing it at the partition directory. The rewrite itself is one
  * scan + one shuffle-free coalesce when shrinking file counts —
  * `repartition` is used only when the target exceeds the current
  * parallelism, since `coalesce(n)` merges without moving bytes
  * across the cluster.
  */
object Compaction {

  final case class Report(
      filesBefore: Int, filesAfter: Int, bytes: Long, rows: Long)

  /** Default target matches Spark's `files.maxPartitionBytes` default:
    * one compacted file is one clean scan split.
    */
  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
    fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }

  def compact(spark: SparkSession, path: String,
      targetBytes: Long = DefaultTargetBytes): Report = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = parquetFiles(fs, target)
    val bytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = ParquetCatalog.read(spark, path)
    val sized =
      if (nOut <= df.rdd.getNumPartitions) df.coalesce(nOut)
      else df.repartition(nOut)
    sized.write.mode("overwrite").parquet(path + "__staging")
    TableSink.stagedSwap(fs, path)
    // the rename swap mutates the path behind Spark's cache manager —
    // same hazard as ParquetUpsert, same fix
    spark.catalog.refreshByPath(path)
    val after = ParquetCatalog.read(spark, path)
    Report(before.length, parquetFiles(fs, target).length, bytes, after.count())
  }
}

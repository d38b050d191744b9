package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Globally sorted, compression-tuned Parquet writes.
  *
  * Parity with the reference writer (`/root/reference/pyarrow/main.py:67-150`):
  *   - global ascending sort on the configured column when it exists in the
  *     schema; absent → pass through and report (`pyarrow/main.py:70-73`);
  *   - zstd compression (gzip as an option — the reference's runtime codec
  *     probe, `pyarrow/main.py:125-133`, is unnecessary: Spark bundles zstd);
  *   - 1 MB uncompressed data pages (`pyarrow/main.py:145`);
  *   - timestamps in the session's `spark.sql.parquet.outputTimestampType`,
  *     left unset here, so coerced `_dt` columns land as Spark's default
  *     INT96 (readers still see timestamps; switching to INT64 changes
  *     the converted bytes);
  *   - optionally a single output file named by the caller
  *     (`<stem>.zst.parquet` key mapping lives in [[graft.pipeline.ConvertJob]]).
  *
  * Scale posture: `singleFile = true` is a PARITY mode (one Lambda invoke →
  * one file). At 100 TB you keep `singleFile = false`: the global sort is a
  * range-partitioned exchange + per-partition sort that spills via
  * `UnsafeExternalSorter`, and the write stays fully parallel — one file per
  * partition, partition count set by AQE / `spark.sql.shuffle.partitions`.
  * Parquet `sorting_columns` footer metadata has no public Spark writer API
  * (SURVEY §4.3), so after the write each local part file's footer is stamped
  * in place via [[SortingColumnsStamp]] — valid because a range-partitioned
  * `orderBy` leaves every output file internally sorted by the key.
  */
object SortedWrite {

  final case class WriteResult(
      path: String,
      rows: Long,
      sorted: Boolean,
      sortColumn: String,
      codec: String)

  /** Write `df` to `outPath` as Parquet.
    *
    * @param outPath    target: exact file path when `singleFile`, else a directory
    * @param sortCol    global ascending sort key; skipped (and flagged) when absent
    * @param codec      "zstd" (default) or "gzip"
    * @param singleFile coalesce to one file and rename it to exactly `outPath`
    */
  def write(
      df: DataFrame,
      outPath: String,
      sortCol: String = "time",
      codec: String = "zstd",
      singleFile: Boolean = false,
      pageSizeBytes: Int = 1048576): WriteResult = {

    val sortable = df.columns.contains(sortCol)
    val sorted = if (sortable) df.orderBy(col(sortCol).asc) else df

    def writerOf(d: DataFrame) =
      d.write
        .mode("overwrite")
        .option("compression", codec)
        .option("parquet.page.size", pageSizeBytes.toString)

    val rows =
      if (singleFile) {
        val tmpDir = outPath + ".__tmp__"
        // coalesce(1) collapses the range partitioning, so sort INSIDE the
        // single partition to keep global order in the one output file.
        val one =
          if (sortable) df.coalesce(1).sortWithinPartitions(col(sortCol).asc)
          else df.coalesce(1)
        writerOf(one).parquet(tmpDir)
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        val fs = new Path(tmpDir).getFileSystem(conf)
        val part = fs
          .listStatus(new Path(tmpDir))
          .map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file under $tmpDir"))
        val target = new Path(outPath)
        if (fs.exists(target)) fs.delete(target, true)
        val parent = target.getParent
        if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
        fs.rename(part, target)
        fs.delete(new Path(tmpDir), true)
        if (sortable) stampLocal(fs, Seq(target), sortCol)
        df.sparkSession.read.parquet(outPath).count()
      } else {
        writerOf(sorted).parquet(outPath)
        if (sortable) {
          val conf = df.sparkSession.sparkContext.hadoopConfiguration
          val fs = new Path(outPath).getFileSystem(conf)
          val parts = fs.listStatus(new Path(outPath)).map(_.getPath)
            .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          stampLocal(fs, parts.toSeq, sortCol)
        }
        // Metadata-only count of what was just written.
        df.sparkSession.read.parquet(outPath).count()
      }

    WriteResult(outPath, rows, sortable, sortCol, codec)
  }

  /** Partitioned variant of [[write]] — the 100 TB layout: hive-style
    * directories per `partitionCols` value (partition pruning on read, see
    * [[Bucketing.writePartitioned]]), with rows inside every output file
    * sorted by `sortCol`.
    *
    * The exchange is a RANGE partitioning on (partitionCols, sortCol), NOT
    * a hash repartition on the partition columns: hashing would funnel
    * each distinct partition value through exactly ONE task (a 1 TB day →
    * one sorting, spilling task and one giant file), while range splits a
    * large date across many tasks by sort-key range. The dynamic-partition
    * writer still routes every row to its directory, and each task's range
    * is contiguous in (date, time) so files stay internally sorted.
    * `maxRecordsPerFile` additionally caps file size when set.
    */
  def writePartitioned(
      df: DataFrame,
      outPath: String,
      partitionCols: Seq[String],
      sortCol: String = "time",
      codec: String = "zstd",
      pageSizeBytes: Int = 1048576,
      maxRecordsPerFile: Long = 0L): WriteResult = {
    require(partitionCols.nonEmpty, "at least one partition column required")
    val sortable = df.columns.contains(sortCol)
    val arranged =
      if (sortable) df.orderBy((partitionCols :+ sortCol).map(col): _*)
      else df.repartition(partitionCols.map(col): _*)
    withMaxRecords(
      arranged.write
        .mode("overwrite")
        .option("compression", codec)
        .option("parquet.page.size", pageSizeBytes.toString),
      maxRecordsPerFile)
      .partitionBy(partitionCols: _*).parquet(outPath)
    val rows = df.sparkSession.read.parquet(outPath).count()
    WriteResult(outPath, rows, sortable, sortCol, codec)
  }

  /** Apply the optional per-file record cap (0 = writer default). */
  private[ops] def withMaxRecords[T](
      w: org.apache.spark.sql.DataFrameWriter[T],
      maxRecordsPerFile: Long): org.apache.spark.sql.DataFrameWriter[T] =
    if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    else w

  /** Stamp `sorting_columns` into footers of local files (in-place rewrite
    * needs a seekable file; object-store outputs keep sorted ORDER without
    * the footer hint — same stance as the reference, which stamps its local
    * temp file before upload).
    */
  private def stampLocal(fs: org.apache.hadoop.fs.FileSystem, parts: Seq[Path], sortCol: String): Unit =
    if (fs.getScheme == "file")
      parts.foreach { p =>
        if (SortingColumnsStamp.stamp(p.toUri.getPath, sortCol)) {
          // the rewrite invalidates ChecksumFileSystem's .crc sidecar
          val crc = new Path(p.getParent, s".${p.getName}.crc")
          if (fs.exists(crc)) fs.delete(crc, false)
        }
      }
}

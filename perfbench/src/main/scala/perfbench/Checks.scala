package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.ops.SortingColumnsStamp

/** Output checks of a converted object, read from the Parquet footers only,
  * so a check runs no Spark job and cannot disturb the job counters.
  */
object Checks {

  /** The coercible `_dt` leaves of a Findings record (FIXTURES.md §A). */
  val DtLeaves = 5

  final case class Converted(rows: Long, bytes: Long, problems: Seq[String])

  /** Check the part files of one conversion, in file-name order: rows,
    * `time` order within and across files, `_dt` leaf types, the codec and
    * the `sorting_columns` stamp.
    */
  def converted(files: Seq[java.io.File], expectRows: Long): Converted = {
    val problems = Seq.newBuilder[String]
    var rows = 0L
    var lastMax = Long.MinValue
    files.sortBy(_.getName).foreach { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
      try {
        val md = r.getFooter
        val blocks = md.getBlocks.asScala.toSeq
        rows += blocks.map(_.getRowCount).sum
        blocks.filter(_.getRowCount > 0).foreach { b =>
          val time = b.getColumns.asScala.find(_.getPath.toDotString == "time")
          time.map(_.getStatistics) match {
            case Some(s) if s.hasNonNullValue =>
              val (lo, hi) = (s.genericGetMin.asInstanceOf[Long], s.genericGetMax.asInstanceOf[Long])
              if (lo < lastMax) problems += s"${f.getName}: time goes back ($lo < $lastMax)"
              lastMax = hi
            case _ => problems += s"${f.getName}: no time statistics"
          }
          if (!b.getColumns.asScala.forall(_.getCodec == CompressionCodecName.ZSTD))
            problems += s"${f.getName}: a column chunk is not zstd"
        }
        val dt = md.getFileMetaData.getSchema.getColumns.asScala.filter(_.getPath.last.endsWith("_dt"))
        // Spark's session default writes timestamps as INT96; readers
        // (Spark, pyarrow) take both that and annotated INT64 as timestamps
        val stamps = dt.count { c =>
          val p = c.getPrimitiveType
          p.getPrimitiveTypeName == PrimitiveTypeName.INT96 ||
            (p.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
              p.getLogicalTypeAnnotation.isInstanceOf[TimestampLogicalTypeAnnotation])
        }
        if (dt.size != DtLeaves || stamps != DtLeaves)
          problems += s"${f.getName}: $stamps of ${dt.size} _dt leaves are timestamps, want $DtLeaves: " +
            dt.map(c => s"${c.getPath.mkString(".")} ${c.getPrimitiveType}").mkString(", ")
      } finally r.close()
      val sorting = SortingColumnsStamp.readSortingColumns(f.getPath)
      if (!sorting.forall(_ == Seq(("time", false, false))))
        problems += s"${f.getName}: sorting_columns missing or wrong: $sorting"
    }
    if (rows != expectRows) problems += s"rows $rows, want $expectRows"
    Converted(rows, files.map(_.length).sum, problems.result())
  }

  def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}

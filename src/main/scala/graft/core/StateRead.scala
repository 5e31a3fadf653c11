package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Reads of graft-written parquet state (cache entries, table versions,
  * stream state) that run no Spark job.
  *
  * A plain `spark.read.parquet(dirs)` infers its schema in a one-task
  * Spark job that reads one footer. Spark picks that footer by listing
  * every non-hidden file under all the roots, sorting by path string, and
  * taking a `_common_metadata` summary, else a `_metadata` summary, else
  * the first data file (`ParquetUtils.splitFiles`). This reader lists the
  * same files, reads the same footer on the driver
  * ([[org.apache.spark.sql.graft.ParquetFooterSchema]]) and hands the
  * schema to `spark.read.schema(s).parquet(dirs)`. The file source makes a
  * given schema nullable, as it does an inferred one, so the frame's
  * schema equals the inferred one: nullability, field metadata, and, over
  * partitions whose schemas evolved apart, the first file's columns.
  */
object StateRead {

  /** The state under `paths`, read with its footer schema — or None when
    * the roots are not a readable flat layout of data files:
    *   - a root is missing or holds a sub-directory (graft state is flat;
    *     a nested layout needs Spark's partition discovery);
    *   - there is no data file;
    *   - a data file is empty (a parquet writer always writes a footer,
    *     and Spark's scan would silently skip the file: short rows);
    *   - the chosen footer cannot be read;
    *   - the frame's own listing does not name exactly the files checked
    *     here (the state changed between the two listings).
    */
  def read(spark: SparkSession, paths: Seq[String]): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed =
      try Some(paths.flatMap { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        fs.listStatus(fs.makeQualified(root)).toSeq.filterNot(s => hidden(s.getPath.getName))
      })
      catch { case NonFatal(_) => None }
    listed.flatMap { files =>
      val sorted = files.sortBy(_.getPath.toString)
      val data = sorted.filterNot(s => summary(s.getPath.getName))
      if (files.exists(_.isDirectory) || data.isEmpty || data.exists(_.getLen == 0)) None
      else {
        val footer = sorted.find(_.getPath.getName == "_common_metadata")
          .orElse(sorted.find(_.getPath.getName == "_metadata"))
          .getOrElse(data.head)
        try {
          val schema = org.apache.spark.sql.graft.ParquetFooterSchema(spark, footer, conf)
          val df = spark.read.schema(schema).parquet(paths: _*)
          if (df.inputFiles.toSet == data.map(_.getPath.toUri.toString).toSet) Some(df)
          else None
        } catch { case NonFatal(_) => None }
      }
    }
  }

  /** [[read]], falling back to Spark's inferring read — which raises
    * Spark's own error on a missing or unreadable layout.
    */
  def apply(spark: SparkSession, paths: String*): DataFrame =
    read(spark, paths).getOrElse(spark.read.parquet(paths: _*))

  /** The row count of `df` when it is a plain scan of flat parquet files
    * (a [[CachedStage]] entry, a [[read]] frame): the sum of the footers'
    * row counts, read on the driver with no Spark job, one file after
    * another until the sum passes `limit` — a count above `limit` is
    * then a partial sum, so a large entry costs a few footer reads. None
    * for any other plan, or when a footer cannot be read.
    */
  def rowCount(df: DataFrame, limit: Long = Long.MaxValue): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
            fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val conf = df.sparkSession.sparkContext.hadoopConfiguration
          try {
            val files = fs.location.listFiles(Nil, Nil).iterator.flatMap(_.files)
            var n = 0L
            while (n <= limit && files.hasNext) n +=
              org.apache.spark.sql.graft.ParquetFooterSchema.rowCount(files.next().fileStatus, conf)
            Some(n)
          } catch { case NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }
  }

  private def summary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** Spark's listing filter (`InMemoryFileIndex.shouldFilterOutPathName`):
    * `_` and `.` names are hidden, except partition dirs and summaries.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
}

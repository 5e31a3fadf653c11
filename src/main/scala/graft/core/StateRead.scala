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

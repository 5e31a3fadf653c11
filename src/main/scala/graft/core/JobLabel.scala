package graft.core

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs of an eager call site. */
object JobLabel {

  /** Run `body` under the job description `<site> <fingerprint prefix>`
    * (the prefix as [[Manifest]] prints it), restoring the caller's
    * description afterwards. A SQL execution started inside takes the
    * description as its own, so every job of the block, AQE stages and
    * broadcasts included, carries the label.
    */
  def apply[T](spark: SparkSession, site: String, fingerprint: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$site ${fingerprint.take(12)}")
    try body finally sc.setJobDescription(prev)
  }
}

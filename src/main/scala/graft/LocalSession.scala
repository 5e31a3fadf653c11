package graft

import org.apache.spark.sql.SparkSession

/** The local session that `Bench`, `Verify` and `tools.Profile` run on:
  * `local[SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition per
  * core, plus ad-hoc conf overrides from `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`
  * (e.g. the RocksDB state store at sf10).
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty)
      .foldLeft(builder0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      // full-width plan strings: fingerprint cache keys hash plan
      // renderings; the 25-field default truncation could alias two
      // distinct wide plans to one persisted-state key
      .config("spark.sql.debug.maxToStringFields", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.sources

import graft.SparkSpec
import graft.operators.ZOrder
import org.apache.spark.sql.functions._

/** Footer audit + the end-to-end proof that z-order layout produces the
  * tight per-file min/max ranges scan pruning consults.
  */
class ParquetStatsSpec extends SparkSpec {

  private val tmp = java.nio.file.Files.createTempDirectory("pstats").toString

  private def grid = spark.range(4096)
    .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))

  test("footer stats report per-file rows and integral min/max") {
    grid.repartition(4).write.mode("overwrite").parquet(s"$tmp/plain")
    val st = ParquetStats.fileStats(spark, s"$tmp/plain", Seq("x", "y"))
      .collect()
    val files = st.map(_.getString(0)).distinct
    assert(files.length == 4 && st.length == 8)
    // row counts per file sum to the table
    assert(st.filter(_.getString(2) == "x").map(_.getLong(1)).sum == 4096L)
    // global range recovered from the per-file union
    assert(st.filter(_.getString(2) == "x").map(_.getLong(3)).min == 0L)
    assert(st.filter(_.getString(2) == "x").map(_.getLong(4)).max == 63L)
  }

  test("z-order layout keeps BOTH dims prunable where 1-d sort degenerates") {
    def meanRange(dir: String, c: String): Double = {
      val rs = ParquetStats.fileStats(spark, dir, Seq(c)).collect()
        .map(r => (r.getLong(4) - r.getLong(3) + 1).toDouble)
      rs.sum / rs.length
    }
    ZOrder.layout(grid, Seq(col("x"), col("y")), 6, 16)
      .write.mode("overwrite").parquet(s"$tmp/z")
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$tmp/x")
    // a filter on y skips z-files (footer y-range ~16 of 64) but must
    // scan every x-sorted file (y-range = the full 64); x stays prunable
    // under BOTH layouts
    val zY = meanRange(s"$tmp/z", "y")
    val xY = meanRange(s"$tmp/x", "y")
    assert(zY < xY * 0.5, s"z-file y-range $zY not tighter than 1-d's $xY")
    assert(xY > 60, s"1-d layout unexpectedly clustered y ($xY)")
    assert(meanRange(s"$tmp/z", "x") < 32, "z layout lost x locality")
  }

  test("compacted z-order write of real orders: the footer audit counts every row") {
    val orders = spark.read.parquet(sf("orders"))
      .select(col("o_orderkey"), (col("o_custkey") % 256).as("x"),
        (col("o_orderkey") % 256).as("y"))
    val n = Formats.writeCompacted(
      ZOrder.layout(orders, Seq(col("x"), col("y")), 8, 8), s"$tmp/zc", 1L << 20)
    val st = ParquetStats.fileStats(spark, s"$tmp/zc", Seq("x", "y")).collect()
    assert(st.filter(_.getString(2) == "x").map(_.getLong(1)).sum == orders.count())
    assert(st.map(_.getString(0)).distinct.length == n)
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zvalue interleaves bits LSB-first, dim 0 in the low lane") {
    // x=0b011 (3), y=0b101 (5), 3 bits: positions x->0,2,4 / y->1,3,5
    // x bits (1,1,0) -> 1 + 4 + 0 = 5; y bits (1,0,1) -> 2 + 0 + 32 = 34
    val out = Seq((3L, 5L)).toDF("x", "y")
      .select(ZOrder.zvalue(Seq(col("x"), col("y")), 3).as("z")).head().getLong(0)
    assert(out == 39L)
  }

  test("zvalue rejects layouts wider than a long") {
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq(lit(1), lit(1), lit(1), lit(1)), 16)
    }
  }

  test("layout clusters BOTH dims; single-column sort clusters only one") {
    // 32x32 grid, 16 range partitions of 64 rows each
    val grid = spark.range(1024)
      .select((col("id") % 32).as("x"), (col("id") / 32).as("y"))
    def meanSpreads(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = df.withColumn("p", spark_partition_id())
        .groupBy("p")
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).head()
      (rows.getDouble(0), rows.getDouble(1))
    }
    val (zx, zy) = meanSpreads(
      ZOrder.layout(grid, Seq(col("x"), col("y")), 5, 16))
    // each z partition of 64 cells covers ~a 8x8 quad pair: both dims tight
    assert(zx < 16 && zy < 16, s"z-layout spreads ($zx, $zy) not tight")
    // the naive comparison: range-partition by x alone leaves y global
    val (_, sy) = meanSpreads(grid.repartitionByRange(16, col("x")))
    assert(sy > 24, s"x-only layout should leave y unclustered, got $sy")
  }

  test("z-order layout of real orders plans a single range exchange") {
    val orders = spark.read.parquet(sf("orders"))
    val z = ZOrder.layout(orders,
      Seq(col("o_custkey") % 256, col("o_orderkey") % 256), 8, 8)
    val plan = z.queryExecution.executedPlan.toString
    assert("rangepartitioning".r.findAllIn(plan.toLowerCase).size == 1, plan)
  }
}

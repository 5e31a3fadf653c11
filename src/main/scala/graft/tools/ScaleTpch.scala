package graft.tools

import org.apache.spark.sql.functions._

/** TPC-H-side scale replica for the CDC/profile sf10 rung —
  * `runMain graft.tools.ScaleTpch [srcDir] [dstDir] [factor]`.
  *
  * [[ScaleData]] scales documents/embeddings/events but passes
  * orders/lineitem through unchanged, so the CDC gates
  * (mg_upsert_partitioned/stream/diff — keyed on o_orderkey) and the
  * exact-distinct profile gate (lineitem) never actually grew at the
  * r14 sf10 rung. This derives a replica with those two tables scaled:
  * replica k offsets every key-like id by k·10⁹ — NOT the 10⁷ the other
  * tables use: the CDC gates synthesize insert keys at base+10⁸, so a
  * 10⁷ replica stride makes replica k's inserts collide with replica
  * (k+10)'s updates inside one change batch — (o_orderkey, l_orderkey,
  * o_custkey — key cardinality and join fan-out scale like real growth;
  * dates/amounts/flags keep their marginal distributions verbatim).
  * Replica 0 is the original data, so id-scoped gate filters still hit
  * real rows. All other tables are copied through.
  */
object ScaleTpch {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-sf10tpch")
    val factor = args.lift(2).map(_.toInt).getOrElse(100)
    val spark = graft.LocalSession()
    val off = 1000000000L

    val orders = spark.read.parquet(s"$src/orders.parquet")
    (0 until factor).map { k =>
      if (k == 0) orders
      else orders
        .withColumn("o_orderkey", col("o_orderkey") + k * off)
        .withColumn("o_custkey", col("o_custkey") + k * off)
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until factor).map { k =>
      if (k == 0) li
      else li
        .withColumn("l_orderkey", col("l_orderkey") + k * off)
        .withColumn("l_partkey", col("l_partkey") + k * off)
        .withColumn("l_suppkey", col("l_suppkey") + k * off)
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    Seq("region", "nation", "customer", "supplier", "part",
      "documents", "embeddings", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    Seq("orders", "lineitem").foreach { t =>
      println(s"[scaletpch] $t: " +
        spark.read.parquet(s"$dst/$t.parquet").count())
    }
    spark.stop()
  }
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusterSampleSpec extends SparkSpec {
  import spark.implicits._

  test("cluster-balanced sample: caps each cluster, assignment is argmin") {
    // centroids at 0 and 10 on a 2-dim line; points cluster obviously
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(2.0f, 2.0f)),
      (4L, Seq(9.0f, 9.0f)), (5L, Seq(11.0f, 10.0f)))
      .toDF("id", "vec")
    val all = ClusterBalancedSamplePipe("vec", "id", cents, cap = 10)(df)
    val byCluster = all.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byCluster == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1))
    // cap = 1 keeps exactly one per cluster, deterministically
    val one = ClusterBalancedSamplePipe("vec", "id", cents, cap = 1)(df)
    assert(one.count() == 2)
    val again = ClusterBalancedSamplePipe("vec", "id", cents, cap = 1)(df)
    assert(one.select("id").except(again.select("id")).count() == 0)
  }

  test("real embeddings: every cluster bounded by cap, assignment total") {
    val emb = spark.read.parquet(sf("embeddings"))
    val cents = ClusterBalancedSamplePipe.formulaCentroids(8, 64)
    val out = ClusterBalancedSamplePipe("embedding", "vec_id", cents, cap = 5)(emb)
    assert(out.groupBy("cluster").count().filter(col("count") > 5).count() == 0)
    assert(out.filter(col("cluster") < 0 || col("cluster") > 7).count() == 0)
    assert(out.count() > 0)
  }

  test("real embeddings: the capped sample is layout-invariant") {
    val emb = spark.read.parquet(sf("embeddings"))
    val cents = ClusterBalancedSamplePipe.formulaCentroids(8, 64)
    val a = ClusterBalancedSamplePipe("embedding", "vec_id", cents, cap = 10)(emb)
    val b = ClusterBalancedSamplePipe("embedding", "vec_id", cents, cap = 10)(
      emb.repartition(11))
    assert(a.groupBy("cluster").count().filter(col("count") > 10).count() == 0)
    assert(a.select("vec_id", "cluster")
      .except(b.select("vec_id", "cluster")).count() == 0)
  }
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row

class KeepBestSpec extends SparkSpec {
  import spark.implicits._

  test("keep-best survivor per cluster, singletons survive, ties by id") {
    val docs = Seq(
      (1L, 10), (2L, 30), (3L, 30), // cluster {1,2,3}: 2 and 3 tie on score
      (4L, 5), // singleton: not in any pair
      (5L, 7), (6L, 2)) // cluster {5,6}
      .toDF("doc_id", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster")
    val out = DedupOps.resolveKeepBest(docs, clusters, "doc_id", "score")
      .select("doc_id", "cluster", "kept").orderBy("doc_id").collect().toSeq
    assert(out == Seq(
      Row(1L, 1L, false), Row(2L, 1L, true), Row(3L, 1L, false),
      Row(4L, 4L, true), Row(5L, 5L, true), Row(6L, 5L, false)))
  }

  test("exactly one survivor per cluster on real planted near-dups") {
    val docs = spark.read.parquet(sf("documents"))
      .withColumn("score", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")))
    val pairs = MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.5)(docs)
    val clusters = DedupOps.connectedComponents(pairs)
    val out = DedupOps.resolveKeepBest(docs, clusters, "doc_id", "score")
    val perCluster = out.groupBy("cluster")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("kept"), 1).otherwise(0)).as("k"))
    assert(perCluster.filter(org.apache.spark.sql.functions.col("k") =!= 1).count() == 0)
    assert(out.count() == docs.count())
  }

  test("connected components: path graph converges to one min-label cluster") {
    // a 6-vertex path (diameter 5) — min-label propagation needs ~diameter
    // rounds; with enough rounds every vertex labels 0
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(path, maxIter = 10)
      .orderBy("id").collect().toSeq
    assert(got == (0L to 5L).map(Row(_, 0L)))
  }

  /** Pin the distributed min-label loop (the small-graph union-find
    * path would otherwise take over below the edge threshold).
    */
  private def forceDistributed[A](f: => A): A = {
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "-1")
    try f finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
  }

  test("connected components: non-convergence is an exception, not a log line") {
    // diameter 5 > maxIter 2: a silently split component would let
    // keep-best keep multiple survivors of one true cluster — must throw.
    // (Distributed path pinned: the union-find fast path cannot split.)
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] { forceDistributed {
      DedupOps.connectedComponents(path, maxIter = 2)
    }}
    assert(e.getMessage.contains("NOT converged"))
  }

  test("connected components: union-find fast path labels exactly like the loop") {
    // random sparse graph: chains, a star, singleton edges, duplicate and
    // reversed pairs — local union-find and the distributed loop must
    // agree row-for-row (cluster = min member id is a graph property)
    val rnd = new scala.util.Random(41)
    val edges = ((0 until 300).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b } ++
      (900L to 905L).map(i => (880L, i))).toDF("id_a", "id_b")
    val local = DedupOps.connectedComponents(edges)
      .orderBy("id").collect().toSeq
    val dist = forceDistributed { DedupOps.connectedComponents(edges) }
      .orderBy("id").collect().toSeq
    assert(local == dist)
  }
}

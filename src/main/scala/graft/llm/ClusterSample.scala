package graft.llm

import graft.core.Pipe
import graft.core.Pipe.qcol
import graft.operators.GroupTopKPipe
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{transform => arrTransform, _}

/** SemDeDup-style cluster-balanced sampling: assign each embedding to its
  * nearest centroid (squared L2, lowest-index tie-break) and keep at most
  * `cap` rows per cluster, chosen in engine-reproducible hash order — the
  * "prune redundant neighborhoods, keep coverage" step of embedding-based
  * corpus curation (Abbas et al., SemDeDup, arXiv:2303.09540 use k-means
  * neighborhoods the same way).
  *
  * Centroids are caller-supplied literals: train them with KMeans (as
  * [[graft.search.IVFDenseEngine]] does), or pass
  * [[ClusterBalancedSamplePipe.formulaCentroids]] for a deterministic
  * grid an external engine can replay exactly. Assignment is pure
  * codegen'd expressions (map-only); the per-cluster cap is the
  * bounded-heap [[GroupTopKPipe]] — with few clusters and billions of rows
  * a per-cluster sort cannot parallelize, while the heap keeps at most
  * `cap` rows per cluster in each input partition before the shuffle
  * (map-side combine) and ranks that small survivor set exactly.
  */
case class ClusterBalancedSamplePipe(
    vecCol: String,
    idCol: String,
    centroids: Seq[Seq[Double]],
    cap: Int,
    clusterCol: String = "cluster") extends Pipe {
  require(centroids.nonEmpty && centroids.forall(_.size == centroids.head.size),
    "centroids must be non-empty and rectangular")
  require(cap > 0, "cap must be positive")
  override def params = Map("vec" -> vecCol, "id" -> idCol,
    "k" -> centroids.size.toString, "dim" -> centroids.head.size.toString,
    "cap" -> cap.toString, "cluster" -> clusterCol)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    val staged = df.withColumn("__cb_v__",
      arrTransform(qcol(vecCol), _.cast("double")))
    val dists =
      ClusterBalancedSamplePipe.squaredDists(col("__cb_v__"), centroids)
    val s1 = pmod(qcol(idCol).cast("long") * 131 + 7, lit(1000003L))
    val assigned = staged
      .withColumn("__cb_d__", dists)
      .withColumn(clusterCol,
        (array_position(col("__cb_d__"), array_min(col("__cb_d__"))) - 1)
          .cast("int"))
      .withColumn("__cb_slot__", pmod(s1 * s1 + s1, lit(1000003L)))
      .drop("__cb_v__", "__cb_d__")
    GroupTopKPipe(Seq(clusterCol), "__cb_slot__", cap, idCol,
      descending = false, rankCol = None, useHeap = true)(assigned)
      .drop("__cb_slot__")
  }
}

object ClusterBalancedSamplePipe {
  /** Deterministic centroid grid, same family as
    * [[graft.search.PQDenseEngine.formulaCodebooks]]:
    * centroid(c)(t) = ((c*31 + t*7) mod 10) * 0.1 - 0.4.
    */
  def formulaCentroids(k: Int, dim: Int): Seq[Seq[Double]] =
    (0 until k).map(c => (0 until dim).map(t =>
      ((c * 31 + t * 7) % 10) * 0.1 - 0.4))

  /** Squared-L2 distance of a double-array vector column to each literal
    * centroid, as one codegen'd array expression — the shared assignment
    * kernel of this pipe and [[SemDeDupPipe]].
    */
  def squaredDists(vecDouble: Column, centroids: Seq[Seq[Double]]): Column =
    // codegen'd one-pass twin of
    // transform(typedLit(centroids), c => aggregate(zip_with(vecDouble,
    //   c, (x,y) => (x-y)*(x-y)), 0d, _+_)) — same index-order IEEE fold
    // per centroid, same array-of-null-slots poisoning (parity proven in
    // VectorExprsSpec). The HOF chain ran interpreted with one zip_with
    // allocation per centroid per ROW on the assignment map stage.
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.SquaredDistsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(vecDouble),
        centroids.map(_.toArray).toArray))
}

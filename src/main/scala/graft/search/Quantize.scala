package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, SquaredDistsExpr, VecSubExpr}

/** The build side's per-row programs, shared by [[IVFDenseEngine]] (the
  * coarse tag), [[PQDenseEngine]] (the code of each subspace) and
  * [[IVFPQDenseEngine]] (the residual, and the rows an ingest commits):
  * each is a codegen kernel over literal centroids, bit for bit the
  * higher-order form it replaced (kept as the oracle in test code).
  */
object Quantize {

  /** Index of the nearest of `cents` to `v` by squared L2, the lowest on a
    * tie, as an int: `array_position(d, array_min(d)) − 1` over the
    * [[SquaredDistsExpr]] distances of `v` cast to doubles. Null for a
    * null vector, one of another width, or one holding a null.
    */
  def nearest(v: Column, cents: Seq[Seq[Double]]): Column = {
    val d = ColumnBridge.column(SquaredDistsExpr(
      ColumnBridge.expression(v.cast("array<double>")), cents.map(_.toArray).toArray))
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** `v − cents(cid)` element-wise ([[VecSubExpr]]); null for a null cid. */
  def residual(v: Column, cid: Column, cents: Seq[Seq[Double]]): Column =
    ColumnBridge.column(VecSubExpr(ColumnBridge.expression(v.cast("array<double>")),
      ColumnBridge.expression(element_at(typedLit(cents), cid + 1))))

  /** One code per book: the [[nearest]] codeword of the slice of `v` the
    * book covers (book j covers `[j · dsub, (j + 1) · dsub)`).
    */
  def codes(v: Column, books: Seq[Seq[Seq[Double]]]): Seq[Column] = {
    val dsub = books.head.head.size
    books.zipWithIndex.map { case (b, j) => nearest(slice(v, j * dsub + 1, dsub), b) }
  }
}

package graft.search

import graft.core.Pipe.qcol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{transform => arrTransform, _}

/** The higher-order-function and window forms the query and build paths'
  * codegen kernels replaced, kept as the oracles the kernels must match bit for
  * bit (and the forms the DuckDB gate oracles replay), with the helpers
  * the parity specs compare through.
  */
object HofForms {
  import SearchResultOps.{NegInf, entriesIdx, entriesScore, sortEntries}

  /** Doubles as their bit patterns (so -0.0 and 0.0 differ), recursively
    * through rows and arrays.
    */
  def bits(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: org.apache.spark.sql.Row => r.toSeq.map(bits).toList
    case o => o
  }

  /** Runs `f` with generated code and again interpreted. */
  def bothModes(spark: org.apache.spark.sql.SparkSession)(f: => Unit): Unit =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try f finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)

  /** One ADC table: `v[offset, offset + dsub)` dotted with each codeword. */
  def adcTable(v: Column, book: Seq[Seq[Double]], offset: Int): Column =
    arrTransform(typedLit(book), c => dot(slice(v, offset + 1, book.head.size), c))

  /** The IVF tag: argmin of the squared L2 distances to each centroid,
    * lowest index on a tie (`Dense.scala`'s former build step).
    */
  def nearest(v: Column, cents: Seq[Seq[Double]]): Column = {
    val d = arrTransform(typedLit(cents), c =>
      aggregate(zip_with(arrTransform(v, _.cast("double")), c, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, x) => acc + x))
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** The PQ encode: per book, [[nearest]] over the slice the book covers. */
  def codes(v: Column, books: Seq[Seq[Seq[Double]]]): Seq[Column] = {
    val dsub = books.head.head.size
    books.zipWithIndex.map { case (b, j) => nearest(slice(v, j * dsub + 1, dsub), b) }
  }

  /** The IVF-PQ residual `x − centroid`, element-wise. */
  def residual(v: Column, centroid: Column): Column =
    zip_with(arrTransform(v, _.cast("double")), centroid, (x, c) => x - c)

  def rrf(sides: Seq[Column], rrfK: Double): (Column, Column) = {
    val contribs = sides.map { idx =>
      filter(
        arrTransform(idx, (i, pos) =>
          struct(i.as("idx"), (lit(1d) / (lit(rrfK) + pos + 1)).as("score"))),
        p => p.getField("idx") =!= -1L)
    }
    sumAndSort(concat(contribs: _*))
  }

  def minMaxFuse(sides: Seq[(Column, Column, Double)]): (Column, Column) = {
    val contribs = sides.map { case (idx, score, w) =>
      val finite = filter(score, s => s =!= NegInf)
      val mn = array_min(finite)
      val mx = array_max(finite)
      filter(
        zip_with(idx, score, (i, s) => struct(i.as("idx"),
          (when(mx > mn, (s - mn) / (mx - mn)).otherwise(lit(1d)) * w).as("score"))),
        p => p.getField("idx") =!= -1L)
    }
    sumAndSort(concat(contribs: _*))
  }

  private def sumAndSort(all: Column): (Column, Column) = {
    val uniq = array_distinct(arrTransform(all, _.getField("idx")))
    val entries = arrTransform(uniq, i => struct(
      i.as("idx"),
      aggregate(
        filter(all, p => p.getField("idx") === i),
        lit(0d),
        (acc, p) => acc + p.getField("score")).as("score")))
    val sorted = sortEntries(entries)
    (entriesIdx(sorted), entriesScore(sorted))
  }

  /** Window top-k per query row (score desc, idx asc), then
    * `sort_array(collect_list(...))` re-assembly, left-joined back.
    */
  def collapseTopK(
      stamped: DataFrame, exploded: DataFrame, rowId: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(rowId)).orderBy(desc("score"), asc("idx"))
    val top = exploded
      .withColumn("__rank__", row_number().over(w))
      .filter(col("__rank__") <= k)
      .groupBy(col(rowId))
      .agg(sort_array(collect_list(struct(col("__rank__"), col("idx"), col("score"))))
        .as("__entries__"))
      .select(col(rowId),
        arrTransform(col("__entries__"), _.getField("idx").cast("long")).as("__new_idx__"),
        arrTransform(col("__entries__"), _.getField("score").cast("double")).as("__new_score__"))
    stamped.join(top, Seq(rowId), "left").select(
      stamped.columns.map(qcol) :+
        coalesce(col("__new_idx__"), array().cast("array<long>")).as("__new_idx__") :+
        coalesce(col("__new_score__"), array().cast("array<double>")).as("__new_score__"): _*)
  }
}

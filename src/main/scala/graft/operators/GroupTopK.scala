package graft.operators

import graft.core.Pipe
import graft.core.Pipe.qcol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top-k rows per group by a score column — "best 3 docs per source",
  * "latest 5 events per user". A per-group window with an explicit
  * tie-break column, so results are deterministic even on score ties.
  *
  * Scale shape: one shuffle on the group key; groups rank in parallel and
  * the rank filter is pushed into the window operator (no full-group
  * materialization beyond the sort). Skewed groups split under AQE. The
  * output keeps an optional `rankCol` (1-based) for downstream use.
  */
case class GroupTopKPipe(
    groupCols: Seq[String],
    scoreCol: String,
    k: Int,
    tieBreakCol: String,
    descending: Boolean = true,
    rankCol: Option[String] = Some("rank"),
    /** Bounded-heap aggregate mode: per-group top-k through Spark's
      * internal `CollectTopK` (a TypedImperativeAggregate over a
      * BoundedPriorityQueue) instead of a window. The decisive scale
      * property is MAP-SIDE COMBINE: each input partition contributes at
      * most k rows per group to the shuffle, so shuffled bytes are
      * O(groups x k x partitions) regardless of input size — where the
      * window shape shuffles EVERY row into a per-group sort. The right
      * mode whenever rows-per-group is large; the window (default) keeps
      * full generality (the heap path needs a NUMERIC score, non-null
      * scores, and ordering-comparable row types — no map columns).
      * Results are identical to the window mode, ties and ranks included
      * (score negation encodes descending order; the tie-break column
      * orders ascending inside the heap exactly as the window does).
      */
    useHeap: Boolean = false) extends Pipe {
  require(groupCols.nonEmpty, "GroupTopKPipe needs at least one group column")
  require(k > 0, "k must be positive")
  override def params = Map("group" -> groupCols.mkString(","),
    "score" -> scoreCol, "k" -> k.toString, "tie" -> tieBreakCol,
    "desc" -> descending.toString, "rank" -> rankCol.getOrElse(""),
    "heap" -> useHeap.toString)

  private def heapTransform(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, NumericType, ShortType}
    // heap keeps the SMALLEST k by the struct's lexicographic order and
    // emits them ascending (reverse = true): (order-reversed score, tie)
    // makes that "score desc, tie asc" — the window's exact order — while
    // the tie column itself stays any orderable type. Null scores sort
    // FIRST in the struct ordering (rank 1!) where the window's desc
    // ordering puts them last — a silent divergence, so they fail loudly
    // instead. Integral scores order NATIVELY as longs (descending via
    // bitwise NOT, an order-reversing bijection over the FULL long domain
    // — no 2^53 double-precision loss, no Long.MinValue negation
    // overflow); only genuinely fractional types take the double path.
    val scoreType = df.schema
      .find(_.name == scoreCol)
      .map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"GroupTopKPipe: score column '$scoreCol' not in ${df.columns.mkString(",")}"))
    require(scoreType.isInstanceOf[NumericType],
      s"GroupTopKPipe(useHeap): score column '$scoreCol' must be numeric, got $scoreType")
    val rawScore = when(qcol(scoreCol).isNull,
      raise_error(lit(s"GroupTopKPipe(useHeap): null score in '$scoreCol' — " +
        "the heap ordering would rank nulls FIRST where the default mode " +
        "ranks them last; filter or impute null scores before the pipe")).cast(scoreType))
      .otherwise(qcol(scoreCol))
    val orderedScore = scoreType match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (descending) bitwise_not(rawScore.cast("long"))
        else rawScore.cast("long")
      // scale-0 decimals up to precision 18 are integral longs in
      // disguise: the long path keeps them exact. Wider or scaled
      // decimals would silently collapse to double ties beyond 2^53 —
      // the same divergence class the long path exists to prevent — so
      // they are rejected loudly instead of degraded.
      case d: org.apache.spark.sql.types.DecimalType
          if d.scale == 0 && d.precision <= 18 =>
        if (descending) bitwise_not(rawScore.cast("long"))
        else rawScore.cast("long")
      case d: org.apache.spark.sql.types.DecimalType =>
        throw new IllegalArgumentException(
          s"GroupTopKPipe(useHeap): score column '$scoreCol' is $d — " +
          "decimals wider than (18,0) cannot order exactly on the long " +
          "path and would lose precision on the double path; cast the " +
          "score to long or double explicitly to choose the semantics")
      case _ =>
        if (descending) negate(rawScore.cast("double"))
        else rawScore.cast("double")
    }
    val entry = struct(
      orderedScore.as("__s__"), qcol(tieBreakCol).as("__t__"),
      struct(df.columns.map(qcol).toIndexedSeq: _*).as("__row__"))
    val agg = ColumnBridge.column(
      GraftCollectTopK(ColumnBridge.expression(entry), k, reverse = true)
        .toAggregateExpression())
    val collected = df.groupBy(groupCols.map(qcol): _*).agg(agg.as("__arr__"))
    val exploded = collected.select(
      posexplode(col("__arr__")).as(Seq("__pos__", "__e__")))
    val out = exploded.select(
      df.columns.map(c => col(s"__e__.__row__.`$c`").as(c)) :+
        (col("__pos__") + 1).cast("int").as("__gtk_r__"): _*)
    rankCol match {
      case Some(r) => out.withColumnRenamed("__gtk_r__", r)
      case None => out.drop("__gtk_r__")
    }
  }

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    if (useHeap) return heapTransform(df)
    val ord = if (descending) qcol(scoreCol).desc else qcol(scoreCol).asc
    val w = Window.partitionBy(groupCols.map(qcol): _*)
      .orderBy(ord, qcol(tieBreakCol))
    val ranked = df.withColumn("__gtk_r__", row_number().over(w))
      .filter(col("__gtk_r__") <= k)
    rankCol match {
      case Some(r) => ranked.withColumnRenamed("__gtk_r__", r)
      case None => ranked.drop("__gtk_r__")
    }
  }
}

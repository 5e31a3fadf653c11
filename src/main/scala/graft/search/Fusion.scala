package graft.search

import graft.core.Pipe
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, round, transform => arrTransform}

/** Reciprocal-rank fusion over a panel of engines.
  *
  * The reference merges engine results by score addition
  * (warp_pipes/search/result.py:199-239, the S6 `sum_scores` path) — sound
  * when the engines share a score scale, wrong when they don't (BM25 log-idf
  * sums vs dense dot products). RRF is the standard rank-only combiner for
  * exactly that heterogeneous case: each engine contributes
  * `1 / (rrfK + rank)` for every candidate it returned, candidates are
  * summed across engines and re-ranked by the fused score.
  *
  * Execution shape: every engine overlays its ranked arrays onto the query
  * frame (one pass per engine, whatever plan that engine owns); the fusion
  * itself is one codegen kernel call per row over those arrays
  * ([[SearchResultOps.rrf]]), stored in a column so the resize reads it
  * instead of re-running it — ZERO additional shuffles regardless of
  * corpus or query scale, because ranks are positions in already-ranked
  * arrays, not a window over an exploded candidate set.
  *
  * Engines may share an `indexField`: each engine's output columns are
  * renamed away before the next engine runs, so no engine ever sees (or
  * merges with) a previous engine's results.
  */
/** Min-max weighted (convex-combination) fusion — the hybrid-search
  * sibling of [[RRFFusionPipe]] that keeps score MAGNITUDES: each
  * engine's scores normalize to [0, 1] within its returned list, then
  * candidates sum `weight · normalized` across engines
  * ([[SearchResultOps.minMaxFuse]]). Same execution shape as RRF: one
  * pass per engine, the same per-row fusion kernel, zero extra shuffles.
  */
case class WeightedFusionPipe(
    engines: Seq[SearchEngine],
    weights: Seq[Double],
    config: SearchConfig = SearchConfig(),
    roundScores: Option[Int] = None) extends Pipe {
  require(engines.nonEmpty && engines.size == weights.size,
    s"need one weight per engine (${engines.size} engines, ${weights.size} weights)")
  Fusion.requireNoFill(engines)

  override def children: Seq[Pipe] = engines
  override def update: Boolean = true
  override def params: Map[String, String] = Map(
    "weights" -> weights.mkString(","), "k" -> config.k.toString,
    "engines" -> engines.map(_.name).mkString(","))

  protected def transform(df: DataFrame, keys: Seq[String]): DataFrame = {
    var cur = df
    val sides = engines.zipWithIndex.map { case (e, i) =>
      val (pi, ps) = (s"__wf${i}_idx__", s"__wf${i}_score__")
      cur = e(cur)
      cur = cur
        .withColumn(pi, Pipe.qcol(e.idxKey).cast("array<long>"))
        .withColumn(ps, Pipe.qcol(e.scoreKey).cast("array<double>"))
        .drop(Pipe.qcol(e.idxKey)).drop(Pipe.qcol(e.scoreKey))
      (pi, ps)
    }
    val fused = SearchResultOps.minMaxFused(
      sides.zip(weights).map { case ((pi, ps), w) => (col(pi), col(ps), w) })
    Fusion.output(cur, fused, config, roundScores, sides.flatMap(s => Seq(s._1, s._2)))
  }
}

private[search] object Fusion {
  /** Fusion drops -1 padding before contributing ranks/scores — but an
    * engine with `fillMaskedIndices=true` has already REPLACED its padding
    * with pseudo-random valid doc ids, which would then receive real
    * contributions in the fused ranking. Constructor-checked so the
    * mistake fails loudly instead of corrupting results.
    */
  def requireNoFill(engines: Seq[SearchEngine]): Unit =
    engines.foreach(e => require(!(e.config.fillMaskedIndices && e.mayFill),
      s"fusion over engine '${e.name}' requires fillMaskedIndices=false: " +
        "filled padding indices would receive real rank/score contributions"))

  /** Overlay a fused `struct<idx, score>` onto `df` as the resized (and
    * optionally rounded) result columns, dropping the engines' private
    * columns. The struct is stored in a column first: the resize reads
    * its fields several times, and the optimizer does not inline a
    * non-trivial expression into more than one use, so the kernel runs
    * once per row.
    */
  def output(df: DataFrame, fused: Column, config: SearchConfig,
      roundScores: Option[Int], privateCols: Seq[String]): DataFrame = {
    val (rIdx, rScore) = SearchResultOps.resize(
      col("__fused__.idx"), col("__fused__.score"), config.k)
    val outScore = roundScores.fold(rScore)(p => arrTransform(rScore, v => round(v, p)))
    df.withColumn("__fused__", fused)
      .withColumn(s"${config.indexField}.idx", rIdx)
      .withColumn(s"${config.indexField}.score", outScore)
      .drop("__fused__" +: privateCols: _*)
  }
}

case class RRFFusionPipe(
    engines: Seq[SearchEngine],
    config: SearchConfig = SearchConfig(),
    rrfK: Double = 60.0,
    roundScores: Option[Int] = None) extends Pipe {
  require(engines.nonEmpty, "RRFFusionPipe needs at least one engine")
  Fusion.requireNoFill(engines)

  override def children: Seq[Pipe] = engines
  override def update: Boolean = true
  override def params: Map[String, String] = Map(
    "rrfK" -> rrfK.toString, "k" -> config.k.toString,
    "engines" -> engines.map(_.name).mkString(","))

  protected def transform(df: DataFrame, keys: Seq[String]): DataFrame = {
    var cur = df
    val sides = engines.zipWithIndex.map { case (e, i) =>
      cur = e(cur)
      val priv = s"__rrf${i}_idx__"
      cur = cur
        .withColumn(priv, Pipe.qcol(e.idxKey).cast("array<long>"))
        .drop(Pipe.qcol(e.idxKey)).drop(Pipe.qcol(e.scoreKey))
      priv
    }
    Fusion.output(cur, SearchResultOps.rrfFused(sides.map(col), rrfK), config,
      roundScores, sides)
  }
}

package graft.search

import graft.core.Pipe
import graft.core.Pipe.qcol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared engine configuration (reference `SearchConfig`,
  * warp_pipes/search/search.py:48-71). `maxBatchSize` has no Spark
  * counterpart — partitioning bounds memory instead.
  */
case class SearchConfig(
    k: Int = 10,
    queryField: String = "query",
    indexField: String = "index",
    mergePreviousResults: Boolean = true,
    fillMaskedIndices: Boolean = true,
    fillSeed: Long = 42L,
    /** Name of a UNIQUE query-row id column. Engines re-attach ranked
      * results to query rows by equi-join on this column. When None, a
      * synthetic id is stamped and the query frame is localCheckpoint-ed
      * first: joining on a freshly-stamped monotonically_increasing_id
      * WITHOUT pinning is unsound — AQE may re-plan the recomputed subtree
      * and assign different ids on the two sides of the self-join,
      * silently attaching another row's results. Prefer a real id column.
      */
    queryIdCol: Option[String] = None)

/** A search engine is a Pipe over a QUERY frame: it overlays the ranked
  * result columns `{indexField}.idx` / `{indexField}.score` onto the input
  * rows, reproducing the reference `Search._call_batch` lifecycle
  * (search/search.py:235-337):
  *
  *   1. read the previous engine's `idx`/`score` columns if present;
  *   2. compute this engine's ranked results ([[searchRanked]]);
  *   3. merge with the previous results when `mergePreviousResults`
  *      ([[SearchResultOps.merge]] — per-row, shuffle-free);
  *   4. resize to k (-1 / -inf padding);
  *   5. optionally replace padding indices by pseudo-random valid ids.
  *
  * Chunked execution (`max_batch_size`, search.py:277-315) is subsumed by
  * Spark partitioning; engine auto-load by the caller holding the engine
  * object.
  */
trait SearchEngine extends Pipe {
  def config: SearchConfig

  final def idxKey: String = s"${config.indexField}.idx"
  final def scoreKey: String = s"${config.indexField}.score"

  /** Params that are QUERY-TIME knobs: engines differing only in these
    * must hit the SAME persisted build state, not re-persist a duplicate
    * copy under a forked key (k only truncates the ranking; nprobe only
    * selects how many of the already-built lists are probed). Engines
    * with more scoring-only params (BM25's k1/b/..., LSH's bands)
    * override this.
    */
  protected def queryTimeParams: Set[String] = Set("k", "nprobe")

  /** Cache key for persisted build state: corpus identity + the
    * build-affecting subset of params + the state frame's name. Unlike
    * the full pipe [[fingerprint]], this deliberately EXCLUDES
    * [[queryTimeParams]].
    */
  protected final def buildStateKey(corpusFp: String, frame: String): String =
    graft.core.Fingerprint.combine(corpusFp,
      graft.core.Fingerprint.ofStruct(name, params -- queryTimeParams), frame)

  /** Number of indexable items (for masked-index fill range); None
    * disables filling regardless of config.
    */
  protected def fillRange: Option[Long]

  /** Whether this engine CAN fill masked indices (structurally — without
    * forcing the corpus count [[fillRange]] may hide behind). Re-rankers
    * with no corpus (TopK, MaxSim) override to false; combined with
    * `config.fillMaskedIndices` this lets composites (fusion) reject
    * filling engines at CONSTRUCTION time, eagerly and side-effect-free.
    */
  private[search] def mayFill: Boolean = true

  /** Compute this engine's ranked results for the stamped query frame:
    * return `stamped` with two extra columns `__new_idx__: array<long>`
    * and `__new_score__: array<double>`, ranked desc. `rowId` is a unique
    * per-query-row column present in `stamped`.
    */
  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame

  override def update: Boolean = true

  protected def transform(df: DataFrame, keys: Seq[String]): DataFrame = {
    val (stamped, rowId, synthetic) = config.queryIdCol match {
      case Some(c) =>
        require(df.columns.contains(c), s"queryIdCol '$c' not in query frame")
        (df, c, false)
      case None =>
        (df.withColumn("__qid__", monotonically_increasing_id()).localCheckpoint(true),
          "__qid__", true)
    }
    val searched = searchRanked(stamped, rowId)
    val hasPrev = df.columns.contains(idxKey)
    val (mIdx, mScore) =
      if (hasPrev && config.mergePreviousResults)
        SearchResultOps.merge(
          col("__new_idx__"), col("__new_score__"),
          qcol(idxKey).cast("array<long>"), qcol(scoreKey).cast("array<double>"))
      else (col("__new_idx__"), col("__new_score__"))
    val (rIdx, rScore) = SearchResultOps.resize(mIdx, mScore, config.k)
    val fIdx = fillRange match {
      case Some(n) if config.fillMaskedIndices && n > 0 =>
        SearchResultOps.fillMasked(rIdx, col(rowId), lit(n), config.fillSeed)
      case _ => rIdx
    }
    val out = searched
      .withColumn("__out_idx__", fIdx)
      .withColumn("__out_score__", rScore)
      .drop("__new_idx__", "__new_score__")
    val renamed = out
      .withColumn(idxKey, col("__out_idx__"))
      .withColumn(scoreKey, col("__out_score__"))
      .drop("__out_idx__", "__out_score__")
    if (synthetic) renamed.drop(rowId) else renamed
  }
}

object SearchEngine {
  /** Collapse exploded per-candidate scores `(rowId, idx, score)` to
    * ranked arrays of length <= k, attached back onto `stamped`: one
    * bounded-heap aggregate per query row (Spark's `CollectTopK`, through
    * [[org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK]])
    * over the ascending key `(score IS NULL, NOT isnan(score), -score,
    * idx)` — exactly the order of a window on score desc (nulls last,
    * NaN first, -0.0 = 0.0) then idx asc. Each partition keeps at most k
    * entries per row before the one shuffle on rowId (none when the
    * candidates already arrive partitioned by it); rowId is unique per
    * row, so the distribution is perfectly even at any scale. The score
    * is taken as a double.
    *
    * Query rows with NO candidates keep empty arrays (left join).
    */
  def collapseTopK(
      stamped: DataFrame, exploded: DataFrame, rowId: String, k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK
    import org.apache.spark.sql.graft.ColumnBridge
    val s = col("score").cast("double")
    val key = struct(s.isNull.as("n"), not(isnan(s)).as("f"), negate(s).as("s"),
      col("idx").cast("long").as("idx"), s.as("score"))
    val top = exploded.filter(lit(k > 0))
      .groupBy(col(rowId))
      .agg(ColumnBridge.column(GraftCollectTopK(ColumnBridge.expression(key),
        math.max(k, 1), reverse = true).toAggregateExpression()).as("__entries__"))
      .select(col(rowId),
        col("__entries__.idx").as("__new_idx__"),
        col("__entries__.score").as("__new_score__"))
    stamped.join(top, Seq(rowId), "left").select(
      stamped.columns.map(qcol) :+
        coalesce(col("__new_idx__"), array().cast("array<long>")).as("__new_idx__") :+
        coalesce(col("__new_score__"), array().cast("array<double>")).as("__new_score__"): _*)
  }

  /** Attach a serve kernel's ranked `struct<idx, score>` to `stamped` as
    * `__new_idx__` / `__new_score__` — the served twin of
    * [[collapseTopK]]'s output, one narrow projection. The kernel runs
    * once per row: it sits in its own column, read twice, which
    * `CollapseProject` does not inline. A null row id gets empty arrays,
    * as it does from the join-back.
    */
  private[search] def attachServed(stamped: DataFrame, rowId: String, served: Column): DataFrame =
    stamped.withColumn("__served__", when(col(rowId).isNotNull, served)).select(
      stamped.columns.toSeq.map(Pipe.qcol) :+
        coalesce(col("__served__.idx"), array().cast("array<long>")).as("__new_idx__") :+
        coalesce(col("__served__.score"), array().cast("array<double>")).as("__new_score__"): _*)

  /** The name a served index carries in the query plan: the engine's
    * fingerprint (its parameters) combined with the
    * [[graft.pipes.DatasetFingerprint]] of each frame the index was
    * collected from — the state's parquet paths and sizes, as the join
    * plan's leaves name them. Stable from run to run over the same
    * persisted state, distinct for different state.
    */
  private[search] def serveKey(e: SearchEngine, frames: DataFrame*): String =
    graft.core.Fingerprint.combine(
      e.fingerprint +: frames.map(graft.pipes.DatasetFingerprint.of): _*)

  /** Run an engine's one-time index collect under the job description
    * `<engine> serve <fingerprint prefix>` (the prefix as
    * [[graft.core.Manifest]] prints it), restoring the caller's
    * description afterwards.
    */
  private[search] def serveCollect[T](e: SearchEngine, spark: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"${e.name} serve ${e.fingerprint.take(12)}")
    try body finally sc.setJobDescription(prev)
  }

  /** Dot product of two numeric vectors in double precision, accumulated
    * left-to-right from 0d (matches an engine summing sequentially); null
    * when either side is null, holds a null, or the lengths differ. One
    * codegen kernel ([[org.apache.spark.sql.graft.DotExpr]]), bit-identical
    * to `aggregate(zip_with(a, b, double(x) * double(y)), 0d, _ + _)`.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, DotExpr}
    ColumnBridge.column(DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** SQL DELETE-WHERE null semantics for a delete predicate: NULL means
    * "not removed" on EVERY side — keep = `!isRemoved(p)`, drop =
    * `isRemoved(p)` — so a nullable payload/doc-id column can neither
    * silently delete unmatched rows (a bare `filter(!p)` drops
    * NULL-evaluating rows) nor leave the removal side (df decrements,
    * code anti-joins) disagreeing with the survivor side about which
    * rows went. Every engine's remove verb routes its predicate through
    * this.
    */
  def isRemoved(p: Column): Column = coalesce(p, lit(false))
}

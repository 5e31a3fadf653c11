package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `SearchResult` algebra (reference: warp_pipes/search/result.py).
  *
  * A search result for one query row is a pair of equally-long ranked
  * arrays: `idx: array<long>` (padded with -1) and `score: array<double>`
  * (padded with -Infinity). A batch of results is a DataFrame with one such
  * pair of columns — the Spark analogue of the reference's `[B, k]` index /
  * score matrices (result.py:155-177).
  *
  * All operations here are per-row Column expressions: merging two
  * engines' results never shuffles — it composes into whatever stage
  * produced them, at any batch size. The fusions ([[rrf]],
  * [[minMaxFuse]]) are codegen kernels (`sql/graft/VectorExprs.scala`);
  * [[merge]], [[resize]] and the sort helpers are higher-order array
  * functions.
  */
object SearchResultOps {

  val NegInf: Column = lit(Double.NegativeInfinity)

  /** Sort (idx, score) pairs by score desc, idx asc (deterministic
    * tiebreak — the reference's argsort leaves ties unspecified,
    * result.py:325).
    */
  def sortEntries(entries: Column): Column =
    array_sort(entries, (l, r) => {
      val ls = l.getField("score"); val rs = r.getField("score")
      val li = l.getField("idx"); val ri = r.getField("idx")
      when(ls > rs, -1).when(ls < rs, 1)
        .when(li < ri, -1).when(li > ri, 1).otherwise(0)
    })

  def zipEntries(idx: Column, score: Column): Column =
    zip_with(idx, score, (i, s) => struct(i.as("idx"), s.as("score")))

  def entriesIdx(entries: Column): Column =
    transform(entries, _.getField("idx").cast("long"))

  def entriesScore(entries: Column): Column =
    transform(entries, _.getField("score").cast("double"))

  /** Row-min over finite scores, 0 when none (reference `_get_real_min`,
    * result.py:234-239).
    */
  def realMin(score: Column): Column =
    coalesce(array_min(filter(score, s => s =!= NegInf)), lit(0d))

  /** Merge two ranked lists (reference `__add__` + `sum_scores`,
    * result.py:199-239): offset each side by its finite row-min, union the
    * indices, sum scores of duplicate indices, pin -1 padding to -inf,
    * offset back by (minA + minB), re-sort desc.
    *
    * Returns (idx, score) columns. O(k^2) per row in expressions — k is
    * tens, and this trades a per-row loop for zero shuffles.
    */
  def merge(aIdx: Column, aScore: Column, bIdx: Column, bScore: Column)
      : (Column, Column) = {
    val minA = realMin(aScore)
    val minB = realMin(bScore)
    val aPairs = zip_with(aIdx, aScore, (i, s) => struct(i.as("idx"), (s - minA).as("score")))
    val bPairs = zip_with(bIdx, bScore, (i, s) => struct(i.as("idx"), (s - minB).as("score")))
    val all = concat(aPairs, bPairs)
    val uniq = array_distinct(concat(aIdx, bIdx))
    val entries = transform(uniq, i => struct(
      i.as("idx"),
      when(i === -1, NegInf).otherwise(
        aggregate(
          filter(all, p => p.getField("idx") === i),
          lit(0d),
          (acc, p) => acc + p.getField("score")) + minA + minB).as("score")))
    val sorted = sortEntries(entries)
    (entriesIdx(sorted), entriesScore(sorted))
  }

  /** Truncate or right-pad to k with -1 / -inf (reference `resize`,
    * result.py:253-263).
    */
  def resize(idx: Column, score: Column, k: Int): (Column, Column) = {
    val pad = greatest(lit(k) - size(idx), lit(0))
    (concat(slice(idx, 1, k), array_repeat(lit(-1L), pad)),
      concat(slice(score, 1, k), array_repeat(NegInf, pad)))
  }

  /** Batch-axis concatenation of two result frames (reference `append`,
    * result.py:273-277: stacks the [B, k] index/score matrices of a second
    * batch under the first). Rows of `b` follow rows of `a`, matched by
    * column name; both frames must carry the same result schema. A pure
    * union — no shuffle, any batch size.
    */
  def append(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** Reciprocal-rank fusion of N ranked idx arrays (one per engine):
    * fused(i) = Σ_e 1 / (rrfK + rank_e(i)) over the engines that returned
    * candidate `i`, with rank_e the 1-based position in engine e's array;
    * -1 padding contributes nothing. Scores are IGNORED by design — RRF is
    * a rank-only combiner (Cormack/Clarke/Buettcher, SIGIR'09), which is
    * what makes it robust to engines with incomparable score scales (BM25
    * vs cosine).
    *
    * Like [[merge]], this is per-row over already-ranked arrays: zero
    * shuffles, composes into whatever stage produced the engine results.
    * One codegen kernel pass per row ([[rrfFused]]), bit-identical to the
    * `transform`/`filter`/`aggregate`/`array_sort` program it replaced.
    *
    * Returns (idx, score) sorted by fused score desc, idx asc.
    */
  def rrf(sides: Seq[Column], rrfK: Double): (Column, Column) =
    split(rrfFused(sides, rrfK))

  /** [[rrf]] as one `struct<idx, score>` column: reference its fields
    * from a column it was stored in, so the kernel runs once per row.
    */
  def rrfFused(sides: Seq[Column], rrfK: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.graft.RrfExpr(
      sides.map(s => ColumnBridge.expression(s.cast("array<long>"))), rrfK))
  }

  /** Min-max weighted score fusion of N ranked (idx, score) pairs: each
    * engine's scores are normalized to [0, 1] WITHIN the row's returned
    * list (`(s - min)/(max - min)` over the scores other than -Infinity;
    * a degenerate list where max == min normalizes to 1 — the candidate
    * was that engine's best and worst), then candidates sum
    * `weight_e · normalized_e` across engines. The standard
    * convex-combination hybrid when score scales are incomparable but
    * magnitudes still carry signal (vs [[rrf]], which keeps only ranks).
    * Per row, zero shuffles; the same fusion kernel as [[rrf]]
    * ([[minMaxFused]]).
    *
    * Returns (idx, score) sorted by fused score desc, idx asc.
    */
  def minMaxFuse(sides: Seq[(Column, Column, Double)]): (Column, Column) =
    split(minMaxFused(sides))

  /** [[minMaxFuse]] as one `struct<idx, score>` column (see [[rrfFused]]). */
  def minMaxFused(sides: Seq[(Column, Column, Double)]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.graft.MinMaxFuseExpr(
      sides.flatMap { case (idx, score, _) => Seq(
        ColumnBridge.expression(idx.cast("array<long>")),
        ColumnBridge.expression(score.cast("array<double>"))) },
      sides.map(_._3)))
  }

  private def split(fused: Column): (Column, Column) =
    (fused.getField("idx"), fused.getField("score"))

  /** Replace negative (padding) indices by a pseudo-random valid id in
    * [0, n). The reference uses true randint (result.py:265-271) — here the
    * fill is a seeded hash of (row id, position) so results are
    * deterministic and cache-stable (SURVEY §7.4 risk 3).
    */
  def fillMasked(idx: Column, rowId: Column, n: Column, salt: Long): Column =
    transform(idx, (v, pos) =>
      when(v < 0, pmod(xxhash64(rowId, pos, lit(salt)), n)).otherwise(v))
}

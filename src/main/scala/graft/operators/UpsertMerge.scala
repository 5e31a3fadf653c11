package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC-style MERGE (upsert + delete) of a change set into a base table —
  * the incremental-refresh primitive a training-data pipeline needs to
  * re-curate a 100 TB corpus without rewriting it from scratch.
  *
  * Semantics (one change row per key):
  *   - a change row with the delete flag set removes the base row;
  *   - any other change row REPLACES the base row (update) or is appended
  *     (insert) — the SQL `MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
  *     INSERT` shape, specialised to whole-row replacement.
  *
  * Execution shape: `base ANTI-JOIN changeKeys` + `UNION non-delete
  * changes`. The anti join broadcasts whenever the change set is small —
  * the common CDC case — so the 100 TB base side never shuffles; a huge
  * change set degrades gracefully to one key-partitioned shuffle. This
  * beats the full-outer-join formulation, which shuffles BOTH sides
  * unconditionally (full outer cannot broadcast).
  */
object UpsertMerge {

  def apply(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      deleteCol: Option[String] = None,
      /** SQL MERGE errors when a source row matches twice; two change
        * rows with one key would here silently insert BOTH after the
        * anti-join removes the base row. Checked by default, lazily: the
        * per-key count of the change set calls `raise_error` on any
        * count above 1, both in the anti-join's keys and in a one-row
        * verdict the upserts join. The check fires at the FIRST action
        * on the merged frame, also when the base is empty and the
        * optimizer drops the anti-join, and also under `limit`/`show`
        * while the anti-join's keys are broadcast (the usual small
        * change set: a broadcast is built whole before any row is read).
        * With a change set too large to broadcast, a partial action over
        * a non-empty base can finish on base rows before the guard runs;
        * a full action cannot. The failure is a
        * `org.apache.spark.SparkRuntimeException` with error condition
        * `USER_RAISED_EXCEPTION` (possibly wrapped
        * in a `SparkException` by the failed job), never an
        * `IllegalArgumentException` at call time. Opt out only when the
        * producer guarantees unique keys.
        */
      requireUniqueKeys: Boolean = true,
      /** Additive schema evolution: when true, the change set may carry
        * columns the base lacks — they join the output schema with NULL
        * for every untouched base row (the lakehouse `mergeSchema`
        * contract, evolution by addition only: dropping or retyping a
        * column remains a loud error either way). Default false: an
        * unexpected column is more often a producer bug than evolution.
        */
      allowNewColumns: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "UpsertMerge needs at least one key column")
    // null delete flag = NOT a delete: `!col(c)` is null for null input,
    // which would silently drop the row from upserts while its key still
    // anti-joins the base row away — a malformed change row would become a
    // silent delete. coalesce makes null mean "upsert".
    val upserts = deleteCol.fold(changes)(c =>
      changes.filter(!coalesce(col(c), lit(false))).drop(c))
    val newCols = upserts.columns.filterNot(base.columns.contains).toSeq
    if (allowNewColumns)
      require(base.columns.forall(upserts.columns.contains),
        "schema evolution is additive only — the change set must still " +
          s"carry every base column; missing: " +
          s"${base.columns.filterNot(upserts.columns.contains).mkString(",")}")
    else
      require(base.columns.toSet == upserts.columns.toSet,
        "change schema must match base schema (plus the optional delete flag); " +
          s"base=${base.columns.sorted.mkString(",")} " +
          s"changes=${upserts.columns.sorted.mkString(",")}")
    // widen untouched base rows with NULL for each evolved column, typed
    // from the change schema so the union never implicitly casts
    val widened = newCols.foldLeft(base) { (acc, c) =>
      acc.withColumn(c,
        lit(null).cast(upserts.schema(upserts.schema.fieldIndex(c)).dataType))
    }
    // The anti-join needs the distinct change keys either way; with the
    // uniqueness check on, build them as groupBy+count and guard each
    // key with a lazy raise_error — a duplicate key throws the moment
    // the merge is executed, with no eager job (the former eager
    // collect() scanned and shuffled the change set once more per merge
    // — one full extra delta pass at scale, one extra Spark job per
    // micro-batch in the CDC stream).
    val counted = changes.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__um_n__"))
    def refusal(key: Column) = raise_error(concat(
      lit("UpsertMerge: change set has multiple rows for key "), key,
      lit(" — one change row per key (set requireUniqueKeys=false " +
        "to skip this check)")))
    val keyText = concat_ws(",", keys.map(k => col(k).cast("string")): _*)
    val changeKeys =
      if (requireUniqueKeys) counted.select(keys.map { k =>
        val kt = changes.schema(changes.schema.fieldIndex(k)).dataType
        when(col("__um_n__") > 1, refusal(keyText).cast(kt)).otherwise(col(k)).as(k)
      }: _*)
      else changes.select(keys.map(col): _*).distinct()
    val kept = widened.join(changeKeys, keys, "left_anti")
    // The anti-join cannot be the guard's only consumer: with an empty
    // base the optimizer deletes it (PropagateEmptyRelation) and the
    // duplicates would pass unchecked. The upserts therefore join a
    // one-row verdict over the same per-key counts: true, or
    // raise_error on the most repeated key. The one row is broadcast, so
    // the upserts are not shuffled and keep their partitioning. The
    // extra cost is one more per-key count of the change set's keys
    // (Spark plans it apart from the anti-join's) and a one-row
    // broadcast. A left outer join against the guarded keys would
    // shuffle every upsert row whenever the keys do not broadcast.
    val checked =
      if (!requireUniqueKeys) upserts
      else {
        val verdict = counted
          .agg(max_by(keyText, col("__um_n__")).as("__um_key__"),
            max(col("__um_n__")).as("__um_max__"))
          .select(when(col("__um_max__") > 1, refusal(col("__um_key__")).cast("boolean"))
            .otherwise(lit(true)).as("__um_ok__"))
        upserts.join(broadcast(verdict), col("__um_ok__"))
      }
    kept.unionByName(checked.select(widened.columns.map(col).toIndexedSeq: _*))
  }
}

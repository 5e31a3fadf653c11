package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Weighted sampling without replacement ON THE STREAM — the ingestion-
  * time twin of [[graft.llm.WeightedSamplePipe]]. Efraimidis-Spirakis is
  * natively a streaming algorithm: the rank key `ln(u)/w` is a pure
  * per-row function (shared kernel — `WeightedSamplePipe.sampleKey`, the
  * deterministic quadratic-M31 draw), so the reservoir is just "the k
  * largest keys seen so far" and the final sample is BIT-IDENTICAL to
  * running the batch pipe over the whole corpus, regardless of arrival
  * order, micro-batch boundaries, or retries.
  *
  * Shape: each micro-batch computes its own local top-k
  * (TakeOrderedAndProject over the batch — O(k) per partition), unions
  * it with the persisted k-row reservoir, and keeps the top k of the
  * union. Per-batch work is O(|batch| + k); state on disk is ALWAYS at
  * most k rows per group — bounded by construction, no watermark needed
  * (the reservoir never grows, it only improves). The merge is naturally
  * IDEMPOTENT: keys are deterministic and rows dedup by id before the
  * top-k, so a replayed micro-batch re-derives the same reservoir — no
  * batch-id machinery required, just the temp-file + atomic-rename flip
  * [[StreamingUpsert]] uses for its pointer.
  *
  * Rows with `w <= 0` are outside the paper's domain and are filtered
  * before the reservoir, exactly as in the batch pipe.
  */
object StreamingWeightedSample {

  /** Seed an empty reservoir (schema pinned from `proto` + the key
    * column). Call once before [[run]].
    */
  def seed(proto: DataFrame, stateDir: String, weightCol: String,
      idCol: String, seed: Long = 17L,
      keyCol: String = "sample_key"): Unit =
    commit(withKey(proto.limit(0), idCol, weightCol, seed, keyCol),
      stateDir)

  /** Start the maintenance query: each micro-batch folds into the
    * persisted reservoir under `stateDir`.
    */
  def run(
      changes: DataFrame,
      stateDir: String,
      idCol: String,
      weightCol: String,
      k: Int,
      groupCols: Seq[String] = Nil,
      seed: Long = 17L,
      checkpointDir: String): StreamingQuery = {
    require(k > 0, "k must be positive")
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, stateDir, idCol, weightCol, k, groupCols, seed)
      }
      .start()
  }

  /** The current reservoir (at most k rows per group, carrying the
    * `sample_key` column). None before seed.
    *
    * Crash recovery: [[commit]] deletes `_CURRENT` only AFTER the
    * `_staging` write completed, so if `_CURRENT` is missing but a
    * COMPLETE `_staging` (its `_SUCCESS` marker present) exists, a
    * crash landed in the delete-then-rename window — finish the rename
    * here and carry on. An incomplete `_staging` without `_CURRENT`
    * stays None (never seeded, or seed itself crashed mid-write).
    */
  def latest(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val fs = path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cur = path(s"$stateDir/_CURRENT")
    if (!fs.exists(cur)) {
      val tmp = path(s"$stateDir/_staging")
      if (fs.exists(path(s"$stateDir/_staging/_SUCCESS")) &&
          fs.rename(tmp, cur)) {
        Some(graft.core.StateRead(spark, cur.toString))
      } else if (fs.exists(cur)) {
        // the rename lost a race: a concurrent latest() (or commit's
        // rename) won the delete-then-rename window — _CURRENT exists
        // now, so read it rather than wrongly reporting "never seeded"
        Some(graft.core.StateRead(spark, cur.toString))
      } else None
    } else Some(graft.core.StateRead(spark, cur.toString))
  }

  private[graft] def applyBatch(
      batch: DataFrame, stateDir: String, idCol: String, weightCol: String,
      k: Int, groupCols: Seq[String], seed: Long,
      keyCol: String = "sample_key"): Unit = {
    val spark = batch.sparkSession
    val prior = latest(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"StreamingWeightedSample.run before seed: no _CURRENT under $stateDir"))
    // local top-k of the batch FIRST (O(k) per partition), so the union
    // frame stays tiny no matter the micro-batch size; dedup by id makes
    // a replayed batch a no-op (same keys -> same survivors)
    val keyed = topK(withKey(batch, idCol, weightCol, seed, keyCol),
      k, groupCols, idCol, keyCol)
    val merged = topK(
      prior.unionByName(keyed).dropDuplicates(idCol),
      k, groupCols, idCol, keyCol)
    commit(merged, stateDir)
  }

  private def withKey(df: DataFrame, idCol: String, weightCol: String,
      seed: Long, keyCol: String): DataFrame = {
    // same loud refusal as the batch pipe (ADVICE r18): a string id casts
    // to NULL per row inside sampleKey's quadratic draw and the reservoir
    // silently degrades
    graft.llm.WeightedSamplePipe.requireNumericId(
      df, idCol, "StreamingWeightedSample")
    df.filter(graft.core.Pipe.qcol(weightCol) > 0)
      .withColumn(keyCol, graft.llm.WeightedSamplePipe.sampleKey(
        graft.core.Pipe.qcol(idCol), graft.core.Pipe.qcol(weightCol), seed))
  }

  private def topK(df: DataFrame, k: Int, groupCols: Seq[String],
      idCol: String, keyCol: String): DataFrame =
    if (groupCols.isEmpty)
      df.orderBy(col(keyCol).desc, graft.core.Pipe.qcol(idCol).asc).limit(k)
    else
      graft.operators.GroupTopKPipe(groupCols, keyCol, k, idCol,
        rankCol = None)(df)

  /** Write the reservoir to a temp dir and atomically swing the
    * `_CURRENT` directory to it (delete-then-rename; a crash in the
    * pre-rename window leaves a complete `_staging`, which [[latest]]
    * renames into place on the next read — no state is lost).
    */
  private def commit(df: DataFrame, stateDir: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path(stateDir).getFileSystem(conf)
    val tmp = path(s"$stateDir/_staging")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // the reservoir is <= k rows per group: one file keeps the state dir
    // listing O(1)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val cur = path(s"$stateDir/_CURRENT")
    if (fs.exists(cur)) fs.delete(cur, true)
    if (!fs.rename(tmp, cur) && !fs.exists(cur))
      // a failed rename with no _CURRENT means the swing did NOT land
      // (staging is still complete, so latest() recovers) — but the
      // caller must know the commit didn't take effect this call
      throw new java.io.IOException(
        s"WeightedSample.commit: rename $tmp -> $cur failed; " +
          "reservoir left in _staging (latest() will recover it)")
  }

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)
}

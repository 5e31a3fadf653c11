package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Count-min sketch accumulation ON THE STREAM — corpus frequency
  * statistics maintained at ingest, so heavy-hitter detection (or any
  * frequency probe) never re-scans old data. CMS is a LINEAR sketch
  * ([[graft.llm.CountMinOps.merge]]), so each micro-batch folds its own
  * sketch into the persisted one: per-batch work is O(|batch| +
  * depth·width), persisted state is ALWAYS <= depth·width rows, and the
  * accumulated sketch is row-identical to sketching the whole corpus in
  * one batch (the spec asserts it).
  *
  * Unlike the idempotent reservoir merge of [[StreamingWeightedSample]],
  * a replayed batch here would DOUBLE-COUNT (the merge SUMS counters) —
  * so versions carry the micro-batch id with the [[StreamingUpsert]]
  * pointer protocol: `stateDir/v<id>` + `_LATEST` flipped by temp-file +
  * atomic rename; a replay of the committed id is a no-op, an id behind
  * the committed one throws (fresh-checkpoint resume = silent
  * double-count, refused loudly).
  */
object StreamingCountMin {

  /** Seed an empty sketch. Call once before [[run]]. */
  def seed(spark: SparkSession, stateDir: String): Unit = {
    import spark.implicits._
    commit(Seq.empty[(Int, Long, Long)].toDF("j", "bucket", "cnt"),
      stateDir, "vinit")
  }

  /** Start the maintenance query: per micro-batch, sketch the batch's
    * n-gram occurrences of `textCol` and fold into the persisted sketch.
    */
  def run(
      changes: DataFrame,
      stateDir: String,
      textCol: String,
      ngramSize: Int,
      depth: Int,
      width: Int,
      checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, id, stateDir, textCol, ngramSize, depth, width)
      }
      .start()

  /** The accumulated sketch frame `(j, bucket, cnt)`. None before seed. */
  def latest(spark: SparkSession, stateDir: String): Option[DataFrame] =
    pointer(spark, stateDir).map(v => graft.core.StateRead(spark, s"$stateDir/$v"))

  private[graft] def applyBatch(
      batch: DataFrame, id: Long, stateDir: String, textCol: String,
      ngramSize: Int, depth: Int, width: Int): Unit = {
    val spark = batch.sparkSession
    val curName = pointer(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"StreamingCountMin.run before seed: no _LATEST under $stateDir"))
    val curOrd = StreamingUpsert.ordinal(curName)
    if (curOrd == id) return // crash-between-flip-and-checkpoint replay
    if (curOrd > id) throw new IllegalStateException(
      s"StreamingCountMin: batch id $id behind committed id $curOrd under " +
        s"$stateDir — a fresh checkpoint dir against an existing sketch " +
        "would double-count every replayed batch; reuse the original " +
        "checkpointLocation or seed a new stateDir")
    val occ = graft.llm.HeavyHitterPipe.gramOccurrences(
      batch, textCol, ngramSize)
    val batchSketch = graft.llm.CountMinOps.sketch(occ, "__hh_h__",
      depth, width)
    val cur = graft.core.StateRead(spark, s"$stateDir/$curName")
    commit(graft.llm.CountMinOps.merge(cur, batchSketch), stateDir, s"v$id")
  }

  private def pointer(spark: SparkSession, stateDir: String): Option[String] = {
    val fs = path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ptr = path(s"$stateDir/_LATEST")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val v = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      if (v.isEmpty) None else Some(v)
    }
  }

  private def commit(df: DataFrame, stateDir: String, version: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path(stateDir).getFileSystem(conf)
    // the sketch is <= depth*width rows: one file
    df.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/$version")
    val tmp = path(s"$stateDir/._LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, path(s"$stateDir/_LATEST"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)
}

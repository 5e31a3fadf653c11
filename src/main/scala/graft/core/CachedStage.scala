package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.Path

/** Fingerprint-keyed cross-run materialization — the reference's signature
  * feature (HF datasets' fingerprint cache, warp_pipes/core/pipe.py:223-243;
  * vector cache, support/caching.py:144-170; engine state dirs,
  * pipes/index.py:65-99).
  *
  * Catalyst has no cross-run memoization, so this wraps any expensive stage
  * as read-if-exists Parquet keyed by
  * `hash(upstream fingerprint, pipe fingerprint)`. Writes go to a temp path
  * and are renamed in, so a crashed writer never leaves a half-cache that a
  * later run would trust. At cluster scale the cacheDir lives on the shared
  * FS (HDFS/object store) and the parquet keeps the producing stage's
  * partitioning.
  */
object CachedStage {

  def cacheKey(upstreamFingerprint: String, pipeFingerprint: String): String =
    Fingerprint.combine(upstreamFingerprint, pipeFingerprint)

  /** Run `compute` (or reuse a previous run's result) under
    * `cacheDir/<key>`.
    *
    * Concurrency with [[vacuum]]: a hit refreshes the entry's mtime, so
    * only a plan held unread past the whole TTL can race an eviction.
    * If the entry vanishes between this call's plan and the caller's
    * ACTION, that action fails with a FileNotFound-caused job error — a
    * FAILED JOB, not wrong rows; re-running recomputes (the entry is
    * gone, so the else-branch takes over). A caller that must absorb
    * even that window runs its action through [[selfHealing]], which
    * catches the missing-file failure and recomputes in-process. The
    * narrower plan-TIME race (entry deleted between the `_SUCCESS`
    * probe and the read) is healed right here: the failed read falls
    * through to compute.
    */
  def apply(spark: SparkSession, cacheDir: String, key: String)(
      compute: => DataFrame): DataFrame = {
    val dir = new Path(cacheDir, key)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new Path(dir, "_SUCCESS")
    val hit = if (fs.exists(done)) {
      // refresh the entry's mtime on every hit: reads never update a
      // directory's modification time on any FS, so without this a
      // warm entry in daily use looks as stale to [[vacuum]] as an
      // abandoned one and gets evicted at TTL age. Best-effort — an FS
      // that refuses setTimes (some object stores) degrades to the
      // time-since-write TTL, and a false eviction is a re-compute,
      // never a correctness event.
      try fs.setTimes(dir, System.currentTimeMillis(), -1)
      catch { case _: Exception => () }
      // the read lists files eagerly: a vacuum landing between the
      // _SUCCESS probe above and this listing surfaces HERE as a
      // plan-time analysis error (PATH_NOT_FOUND if the dir went,
      // UNABLE_TO_INFER_SCHEMA if only the data files did) — either way
      // the entry is unreadable, which for a fingerprint cache is a
      // MISS: fall through, recompute, overwrite
      try Some(spark.read.parquet(dir.toString))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    } else None
    hit.getOrElse {
      val tmp = new Path(cacheDir, s"_tmp_$key")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      val c = compute
      c.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      if (fs.exists(dir)) fs.delete(dir, true)
      fs.rename(tmp, dir)
      // read back with the written frame's schema: the file source makes
      // it nullable, exactly what inference would return, and a
      // schema-given read runs no footer-merging inference job
      spark.read.schema(c.schema).parquet(dir.toString)
    }
  }

  /** Cache the result of applying `pipe` to `df`, keyed by the pipe tree's
    * fingerprint and a caller-supplied fingerprint of the input data (e.g.
    * source path + snapshot version).
    */
  def through(pipe: Pipe, cacheDir: String, upstreamFingerprint: String)(
      df: DataFrame): DataFrame =
    apply(df.sparkSession, cacheDir, cacheKey(upstreamFingerprint, pipe.fingerprint))(pipe(df))

  /** Does this failure chain bottom out in missing input files — the
    * signature of a cache entry vacuumed out from under a standing plan
    * (task-time `FileNotFoundException` wrapped in job/stage errors, or
    * the plan-time PATH_NOT_FOUND analysis error)?
    */
  private def isMissingFiles(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 16) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getMessage != null &&
              (a.getMessage.contains("PATH_NOT_FOUND") ||
                a.getMessage.contains("Path does not exist")) => return true
        case _ =>
      }
      // SparkException flattens executor-side causes into the message
      if (t.getMessage != null &&
        t.getMessage.contains("FileNotFoundException")) return true
      t = t.getCause
      depth += 1
    }
    false
  }

  /** Run `action` over the cached frame, absorbing the one failure mode
    * a lazily-planned cache read cannot prevent: the entry being
    * vacuumed (this host or another) between [[apply]]'s plan and the
    * action's execution. On a missing-file failure the stale plan is
    * dropped, the entry recomputes + rewrites through [[apply]] (the
    * dir is gone, so the compute branch runs), and the action retries
    * ONCE against the fresh frame — same rows, one extra compute, never
    * a wrong answer. Any other failure propagates untouched.
    */
  def selfHealing[T](spark: SparkSession, cacheDir: String, key: String)(
      compute: => DataFrame)(action: DataFrame => T): T = {
    val df = apply(spark, cacheDir, key)(compute)
    try action(df)
    catch {
      case e: Exception if isMissingFiles(e) =>
        // do NOT trust whatever is left of the entry: a vacuum (or a
        // vacuum process that died mid-recursive-delete) can leave
        // _SUCCESS plus a SUBSET of the part files, which apply()'s hit
        // path would happily serve as a short frame — wrong rows, the
        // one outcome this runner exists to rule out. Drop the remnant
        // first so the retry takes the compute+rewrite branch.
        val dir = new Path(cacheDir, key)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        try if (fs.exists(dir)) fs.delete(dir, true)
        catch { case _: Exception => () }
        action(apply(spark, cacheDir, key)(compute))
    }
  }

  /** Retention for a cache dir — the repo's own medicine applied to its
    * standing state: content-keyed entries accumulate one dir per
    * (fixture fingerprint × engine config) FOREVER on a long-lived host
    * (a refreshed corpus gets a new fingerprint; nothing ever deletes
    * the old key). Deletes every entry whose last modification is older
    * than `maxAgeMs` (stale `_tmp_` staging dirs from crashed writers
    * included — completed entries are never half-deleted because the
    * rename-in commit makes each entry atomic). The TTL is
    * time-since-last-USE, not time-since-write: [[apply]] refreshes the
    * entry dir's mtime on every cache hit, so entries in active use
    * survive indefinitely while abandoned keys age out. On an FS that
    * refuses setTimes the cheap-to-rebuild contract of a fingerprint
    * cache makes the occasional false eviction a re-compute, never a
    * correctness event. Returns the names of entries actually deleted —
    * a dir whose delete fails (permissions, concurrent writer) is NOT
    * reported dropped.
    */
  def vacuum(spark: SparkSession, cacheDir: String,
      maxAgeMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val dir = new Path(cacheDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getModificationTime < cutoff)
        .filter(s => fs.delete(s.getPath, true))
        .map(_.getPath.getName)
    }
  }
}

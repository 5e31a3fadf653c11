package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC maintenance: apply a stream of change batches onto a
  * persisted table with [[graft.operators.UpsertMerge]], keeping the
  * table continuously queryable.
  *
  * Each micro-batch writes a FULL new version under `stateDir/v<id>` and
  * then flips a `_LATEST` pointer file — readers follow the pointer, so
  * a crash after the version write but before the flip simply leaves the
  * previous version live, and a replayed batch (foreachBatch is
  * at-least-once) rewrites the same `v<id>` idempotently before flipping
  * the pointer to the value it would have had. A replayed batch whose
  * version the pointer ALREADY names (crash between the flip and the
  * checkpoint commit) is skipped outright — merging there would read
  * `v<id>` while overwriting the same path, which Spark rejects; the
  * skip is sound because the pointer only ever advances to `v<id>` after
  * that exact batch's merged output was fully written. The pointer flip
  * itself goes through a temp file + atomic rename, so a concurrent
  * reader always observes either the old or the new pointer, never a
  * truncated one. This is the poor man's snapshot-isolation table
  * format: versions are immutable, the pointer is the only mutable
  * cell, old versions remain for time travel until vacuumed.
  *
  * SINGLE WRITER: the protocol assumes one maintenance query per
  * stateDir — [[run]] takes the [[WriterLock]] lease (create-exclusive
  * `_WRITER_LOCK`, auto-released on query termination), so a second
  * concurrent `run()` fails loudly instead of interleaving pointer
  * flips; after a foreign-process crash, `WriterLock.forceRelease`
  * reclaims the dir.
  *
  * Scale shape: the rewrite cost is one [[graft.operators.UpsertMerge]]
  * — a broadcast anti-join of the batch's keys against the base plus the
  * union — so each micro-batch streams the base through once without
  * shuffling it. (A format with file-level deletes — Delta/Iceberg —
  * beats a full rewrite when batches are tiny relative to the table;
  * rebuilding THAT is out of scope, the operator contract here is the
  * merge semantics + pointer protocol.) Because the rewrite is still
  * O(table) per micro-batch, [[applyBatch]] refuses once the pointed
  * version exceeds [[FullRewriteByteCap]] unless `allowFullRewrite` is
  * set — [[PartitionedUpsert]] is the production path past that size.
  */
object StreamingUpsert {

  /** Max bytes of the current version a micro-batch may fully rewrite.
    * The flat layout rewrites O(table) per batch BY DESIGN (it is the
    * semantics reference for the merge + pointer protocol) — past this
    * size that cost dominates every batch and [[PartitionedUpsert]]
    * (O(touched partitions), migrate via `seedFromFlat`) is the
    * production path, so [[applyBatch]] refuses instead of silently
    * burning a full-table write per trigger. Same refusal convention as
    * [[graft.search.BruteForceDenseEngine.BroadcastRowCap]]: loud error
    * with the scale-path pointer, `allowFullRewrite = true` to opt back
    * in deliberately. The check reads only FS metadata (content summary
    * of the pointed version dir), never the data.
    */
  val FullRewriteByteCap: Long = 1L << 30 // 1 GiB

  /** Seed the versioned table with its initial contents. */
  def seed(base: DataFrame, stateDir: String): Unit =
    commit(base, stateDir, "vinit")

  /** Start the maintenance query. `changes` must be a streaming frame
    * carrying the base schema plus the optional delete-flag column.
    */
  def run(
      changes: DataFrame,
      stateDir: String,
      keys: Seq[String],
      deleteCol: Option[String],
      checkpointDir: String,
      /** Additive schema evolution pass-through ([[graft.operators
        * .UpsertMerge]]): change batches may carry NEW columns, which
        * join the table schema with NULL on untouched rows. Because each
        * commit writes a full version, the evolved schema takes effect
        * for all readers at the pointer flip — no backfill rewrite.
        */
      allowNewColumns: Boolean = false,
      /** Opt-in past [[FullRewriteByteCap]]: acknowledge that every
        * micro-batch rewrites the whole table at its current size.
        */
      allowFullRewrite: Boolean = false): StreamingQuery = {
    // single-writer lease: a second concurrent run() against this
    // stateDir would interleave pointer flips silently — fail it loudly
    // instead (released automatically when the query terminates)
    val spark = changes.sparkSession
    val token = WriterLock.acquire(spark, stateDir, "StreamingUpsert")
    val q =
      try changes.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          applyBatch(batch, id, stateDir, keys, deleteCol, allowNewColumns,
            allowFullRewrite)
        }
        .start()
      catch { case e: Throwable =>
        WriterLock.release(spark, stateDir, token); throw e
      }
    WriterLock.bind(spark, stateDir, token, q)
    q
  }

  /** Apply one change batch onto the versioned table (the foreachBatch
    * body, visible for direct idempotence testing). At-least-once replay
    * after a crash between the pointer flip and the checkpoint commit:
    * the pointer already names `v<id>` (or later) — that batch's output
    * is durably committed, so the replay is a no-op. Merging instead
    * would read latest() = our own output and overwrite the very path
    * being read, which Spark rejects.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      id: Long,
      stateDir: String,
      keys: Seq[String],
      deleteCol: Option[String],
      allowNewColumns: Boolean = false,
      allowFullRewrite: Boolean = false,
      /** Injectable for tests; production callers keep the default. */
      fullRewriteByteCap: Long = FullRewriteByteCap): Unit = {
    val spark = batch.sparkSession
    val curName = pointer(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"StreamingUpsert.run before seed: no _LATEST under $stateDir"))
    val curOrd = ordinal(curName)
    if (curOrd < id) {
      if (!allowFullRewrite) {
        val fs = path(stateDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bytes =
          fs.getContentSummary(path(s"$stateDir/$curName")).getLength
        if (bytes > fullRewriteByteCap) throw new IllegalStateException(
          s"StreamingUpsert: current version '$curName' is $bytes bytes " +
            s"(> FullRewriteByteCap=$fullRewriteByteCap) and the flat " +
            "layout rewrites the WHOLE table every micro-batch — use " +
            "PartitionedUpsert (migrate with PartitionedUpsert." +
            "seedFromFlat, O(touched partitions) per batch), or pass " +
            "allowFullRewrite=true to accept the O(table)-per-batch cost")
      }
      val cur = graft.core.StateRead(spark, s"$stateDir/$curName")
      val merged = graft.operators.UpsertMerge(cur, batch, keys, deleteCol,
        allowNewColumns = allowNewColumns)
      commit(merged, stateDir, s"v$id")
    } else if (curOrd > id) {
      // legitimate foreachBatch replay only re-delivers the LAST batch
      // (id == curOrd, the crash-between-flip-and-checkpoint case,
      // no-op'd above). id < committed ordinal means the stream was
      // restarted with a FRESH checkpoint dir against an existing state
      // dir — batch ids reset to 0 and every incoming batch would be
      // silently discarded. Fail loudly instead of losing data.
      throw new IllegalStateException(
        s"StreamingUpsert: batch id $id behind committed version " +
          s"'$curName' under $stateDir — a restarted stream with a fresh " +
          "checkpoint dir cannot resume an existing state dir; reuse the " +
          "original checkpointLocation or seed a new stateDir")
    }
  }

  /** The current table: the version the `_LATEST` pointer names. */
  def latest(spark: SparkSession, stateDir: String): Option[DataFrame] =
    pointer(spark, stateDir).map(v => graft.core.StateRead(spark, s"$stateDir/$v"))

  /** The version name `_LATEST` points at; an absent OR empty pointer
    * reads as None (an empty read can only mean a torn legacy in-place
    * write — the rename protocol never exposes one).
    */
  def pointer(spark: SparkSession, stateDir: String): Option[String] = {
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = path(s"$stateDir/_LATEST")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val v = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      if (v.isEmpty) None else Some(v)
    }
  }

  private[graft] def ordinal(v: String): Long =
    if (v == "vinit") -1L else v.drop(1).toLong

  /** All committed version names, oldest → newest — the time-travel
    * catalog (`vinit` < `v0` < `v1` < ...).
    */
  def versions(spark: SparkSession, stateDir: String): Seq[String] = {
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path(stateDir))) Nil
    else fs.listStatus(path(stateDir)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n == "vinit" || n.matches("v\\d+"))
      .sortBy(ordinal)
  }

  /** Time travel: read one immutable version by name. Versions never
    * change after their commit, so this read is stable against
    * concurrent maintenance — only [[vacuum]] can remove it.
    */
  def read(spark: SparkSession, stateDir: String, version: String): DataFrame = {
    require(versions(spark, stateDir).contains(version),
      s"version '$version' not present under $stateDir " +
        s"(have: ${versions(spark, stateDir).mkString(", ")})")
    graft.core.StateRead(spark, s"$stateDir/$version")
  }

  /** Time-travel DIFF between two committed versions: one row per key
    * whose contents changed, classified `insert` (absent in `from`),
    * `delete` (absent in `to`), or `update` (present in both with any
    * non-key column differing, null-safely); unchanged keys are not
    * emitted. Every non-key column appears twice as `<col>_before` /
    * `<col>_after` (null on the absent side).
    *
    * Scale shape: ONE shuffle join on the merge keys over the two
    * version scans, with columns pruned to the projection — no window,
    * no collect; at 100 TB this is the standard CDC-audit join and AQE
    * broadcasts the smaller side when a version is small. Merge keys are
    * non-null by the upsert contract, so plain key equality is exact.
    */
  def diff(spark: SparkSession, stateDir: String, fromVersion: String,
      toVersion: String, keys: Seq[String]): DataFrame =
    diffFrames(read(spark, stateDir, fromVersion),
      read(spark, stateDir, toVersion), keys,
      s"between $fromVersion and $toVersion")

  /** The frame-level diff core behind [[diff]] — also what
    * [[PartitionedUpsert.diff]] runs over manifest-reconstructed reads.
    */
  def diffFrames(aRaw: DataFrame, b: DataFrame, keys: Seq[String],
      where: String = ""): DataFrame = {
    require(keys.nonEmpty, "diff needs the merge key columns")
    // additive evolution between the endpoints is legal (the merge's own
    // allowNewColumns contract): columns the older version lacks read as
    // NULL `_before`, typed from the newer schema. Anything else —
    // dropped or mismatched columns — is real drift and fails loudly.
    val evolved = b.columns.filterNot(aRaw.columns.contains).toSeq
    require(aRaw.columns.forall(b.columns.contains),
      s"schema drift $where: " +
        s"${aRaw.columns.mkString(",")} vs ${b.columns.mkString(",")} — " +
        "diff supports additive evolution only")
    val a = evolved.foldLeft(aRaw) { (acc, c) =>
      acc.withColumn(c, lit(null).cast(b.schema(b.schema.fieldIndex(c)).dataType))
    }
    val missing = keys.filterNot(a.columns.contains)
    require(missing.isEmpty, s"key columns absent from the table: $missing")
    val dataCols = a.columns.filterNot(keys.contains).toSeq
    val la = a.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"${c}_before")) :+
      lit(true).as("__in_from__"): _*)
    val lb = b.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"${c}_after")) :+
      lit(true).as("__in_to__"): _*)
    val joined = la.join(lb, keys, "full_outer")
    val changed =
      if (dataCols.isEmpty) lit(false)
      else dataCols.map(c =>
        !(col(s"${c}_before") <=> col(s"${c}_after"))).reduce(_ || _)
    joined
      .filter(col("__in_from__").isNull || col("__in_to__").isNull || changed)
      .withColumn("change",
        when(col("__in_from__").isNull, "insert")
          .when(col("__in_to__").isNull, "delete")
          .otherwise("update"))
      .drop("__in_from__", "__in_to__")
  }

  /** Drop all but the `keep` newest versions — never the one `_LATEST`
    * points at. Returns the deleted version names. Versions order as
    * `vinit` < `v0` < `v1` < ...; run it on whatever cadence bounds the
    * table's storage ≤ keep × table size.
    */
  def vacuum(spark: SparkSession, stateDir: String, keep: Int = 2): Seq[String] = {
    require(keep >= 1, "vacuum must keep at least one version")
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = pointer(spark, stateDir)
    val doomed = versions(spark, stateDir).dropRight(keep).filterNot(current.contains)
    doomed.foreach(v => fs.delete(path(s"$stateDir/$v"), true))
    doomed
  }

  /** The commit log: (version, epoch-millis commit timestamp), oldest →
    * newest — retention metadata that makes [[vacuum]] auditable (a
    * version's age no longer lives only in FS mtimes, which copies and
    * restores rewrite). Vacuumed versions KEEP their log entries: the log
    * records history, the FS records presence.
    */
  def commits(spark: SparkSession, stateDir: String): Seq[(String, Long)] = {
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = path(s"$stateDir/_commits.json")
    val logged =
      if (!fs.exists(log)) Nil
      else {
        val in = fs.open(log)
        val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq.map { line =>
          // one {"version":"vN","ts":123} object per line
          val v = "\"version\"\\s*:\\s*\"([^\"]+)\"".r
            .findFirstMatchIn(line).map(_.group(1)).getOrElse(
              throw new IllegalStateException(s"malformed commit-log line: $line"))
          val ts = "\"ts\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(
              throw new IllegalStateException(s"malformed commit-log line: $line"))
          (v, ts)
        }
      }
    // Reconcile: a state dir written before the log-before-flip ordering
    // (or one that crashed in the old flip→log window) can carry a live
    // pointed version absent from the log. That version IS committed —
    // the pointer proves it — so surface it with the version dir's mtime
    // as the best-available timestamp rather than hiding real history.
    pointer(spark, stateDir) match {
      case Some(cur) if !logged.exists(_._1 == cur) &&
          fs.exists(path(s"$stateDir/$cur")) =>
        logged :+ (cur, fs.getFileStatus(path(s"$stateDir/$cur"))
          .getModificationTime)
      case _ => logged
    }
  }

  private def appendCommitLog(
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      stateDir: String, version: String): Unit = {
    val log = path(s"$stateDir/_commits.json")
    val prior =
      if (!fs.exists(log)) ""
      else {
        val in = fs.open(log)
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
    // a replayed commit (same version) rewrites its entry instead of
    // duplicating it
    val kept = prior.split("\n").filter(_.trim.nonEmpty)
      .filterNot(_.contains(s""""version":"$version""""))
    val entry =
      s"""{"version":"$version","ts":${System.currentTimeMillis()}}"""
    val body = (kept :+ entry).mkString("\n")
    val tmp = path(s"$stateDir/._commits.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, log, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def commit(df: DataFrame, stateDir: String, version: String): Unit = {
    df.write.mode("overwrite").parquet(s"$stateDir/$version")
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = path(stateDir).getFileSystem(conf)
    // Log BEFORE the pointer flip: a crash between the two leaves a log
    // entry for a version the pointer never reached, and the replay of
    // that batch id (curOrd < id) redoes the write + rewrites the entry
    // idempotently. The reverse order would strand the LIVE version
    // outside the log forever — replay short-circuits on curOrd == id
    // before commit, so nothing ever backfills it.
    appendCommitLog(fs, conf, stateDir, version)
    // The pointer is the one mutable cell — flip it with write-to-temp +
    // atomic rename so a concurrent reader never observes a truncated
    // pointer (an in-place create(overwrite) briefly exposes an empty
    // file). FileContext.rename(OVERWRITE) is atomic on HDFS and local FS.
    val tmp = path(s"$stateDir/._LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, path(s"$stateDir/_LATEST"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)
}

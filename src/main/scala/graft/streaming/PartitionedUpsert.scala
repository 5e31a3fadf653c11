package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** [[StreamingUpsert]] with a KEY-PARTITIONED version layout: the table
  * is hash-split into `n` key partitions, each versioned independently,
  * and a micro-batch rewrites ONLY the partitions that contain changed
  * keys. Untouched partitions' files are not read, not rewritten, and
  * not even listed — their manifest entries simply keep naming the old
  * version dirs. This closes the one O(table)-per-batch cost of the flat
  * layout: at 100 TB with small change batches, per-batch work is
  * O(touched partitions) ≈ O(|batch| / n × table), and a key-local batch
  * touches exactly one partition.
  *
  * Layout:
  * {{{
  *   stateDir/
  *     p<i>/v<id>/      immutable per-partition version dirs (parquet)
  *     _LATEST          manifest: "id=<ord>", "n=<parts>", then one
  *                      "p<i>=v<id>" line per NON-EMPTY partition
  * }}}
  *
  * The manifest is the single mutable cell, flipped with the same
  * temp-file + atomic-rename protocol as [[StreamingUpsert]]'s pointer —
  * a reader always observes a consistent (id, partition→version) set,
  * and a crash anywhere before the flip leaves the previous manifest
  * live (a half-written `v<id>` dir is unreachable garbage the replay
  * overwrites). Batch-id semantics match [[StreamingUpsert]]: a replay
  * of the committed id is a no-op; an id BEHIND the committed one throws
  * (fresh checkpoint against an existing state dir = silent data loss).
  *
  * Rows are routed by `pmod(xxhash64(keys), n)` — deterministic, so the
  * same key always lands in the same partition and the per-partition
  * merge sees every version of that key.
  */
object PartitionedUpsert {

  private[graft] case class Manifest(id: Long, n: Int, parts: Map[Int, String])

  private def partCol(keys: Seq[String], n: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(n.toLong)).cast("int")

  /** Seed the table: hash-split `base` into `n` key partitions, write
    * each under `p<i>/vinit`, commit the initial manifest.
    */
  def seed(base: DataFrame, stateDir: String, keys: Seq[String], n: Int): Unit = {
    require(n >= 1, "need at least one partition")
    require(keys.nonEmpty, "PartitionedUpsert needs at least one key column")
    val written = stagePartitions(
      base.withColumn("__part__", partCol(keys, n)), stateDir, "vinit")
    writeManifest(base.sparkSession, stateDir,
      Manifest(-1L, n, written.map(i => i -> "vinit").toMap))
  }

  /** Migrate an existing FLAT [[StreamingUpsert]] state dir to the
    * key-partitioned layout without a manual rebuild: read the version
    * the flat `_LATEST` names, hash-split it into `n` partitions under
    * the SAME version name, and commit a manifest carrying the flat
    * version's batch ordinal. Because the ordinal is preserved, the
    * original stream can resume against the new dir with its ORIGINAL
    * checkpointLocation — a replay of the migrated batch id no-ops and
    * the next id merges normally; the behind-id guard keeps protecting
    * against fresh-checkpoint resumes exactly as on a flat dir. The flat
    * dir is read-only input and left untouched.
    */
  def seedFromFlat(
      spark: SparkSession, flatDir: String, stateDir: String,
      keys: Seq[String], n: Int): Unit = {
    require(n >= 1, "need at least one partition")
    require(keys.nonEmpty, "PartitionedUpsert needs at least one key column")
    require(readManifest(spark, stateDir).isEmpty,
      s"PartitionedUpsert.seedFromFlat: $stateDir is already seeded")
    val version = StreamingUpsert.pointer(spark, flatDir).getOrElse(
      throw new IllegalStateException(
        s"seedFromFlat: no _LATEST under flat state dir $flatDir"))
    val base = spark.read.parquet(s"$flatDir/$version")
    val written = stagePartitions(
      base.withColumn("__part__", partCol(keys, n)), stateDir, version)
    writeManifest(spark, stateDir,
      Manifest(StreamingUpsert.ordinal(version), n,
        written.map(i => i -> version).toMap))
  }

  /** Start the maintenance query (the streaming wrapper around
    * [[applyBatch]]).
    */
  def run(
      changes: DataFrame,
      stateDir: String,
      keys: Seq[String],
      deleteCol: Option[String],
      checkpointDir: String): StreamingQuery = {
    // single-writer lease (see [[WriterLock]]): the manifest/pointer
    // protocol assumes one maintenance query per stateDir
    val spark = changes.sparkSession
    val token = WriterLock.acquire(spark, stateDir, "PartitionedUpsert")
    val q =
      try changes.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          applyBatch(batch, id, stateDir, keys, deleteCol)
        }
        .start()
      catch { case e: Throwable =>
        WriterLock.release(spark, stateDir, token); throw e
      }
    WriterLock.bind(spark, stateDir, token, q)
    q
  }

  /** Apply one change batch: merge into ONLY the partitions whose hash
    * buckets the batch's keys occupy, leaving every other partition's
    * files untouched on disk.
    *
    * The batch is evaluated once: after the replay and behind-id guards
    * it is materialized with `localCheckpoint(true)`, and the
    * touched-partition collect, the merge's reads of the change set (its
    * keys, its duplicate-key verdict, its upserts) and the staged write
    * all read that one frame. Without it each of them re-runs the
    * batch's whole lineage — and a nondeterministic producer could give
    * the collect and the merge different rows. Not `persist()`: a cached
    * plan keeps its pre-AQE shuffle partitioning, while a checkpoint
    * keeps the coalesced partitions AQE chose, so the staged write's file
    * layout does not change. A replayed id returns before any Spark job.
    */
  private[graft] def applyBatch(
      batch: DataFrame,
      id: Long,
      stateDir: String,
      keys: Seq[String],
      deleteCol: Option[String]): Unit = {
    val spark = batch.sparkSession
    val m = readManifest(spark, stateDir).getOrElse(throw new IllegalStateException(
      s"PartitionedUpsert.run before seed: no _LATEST under $stateDir"))
    if (m.id == id) return // crash-between-flip-and-checkpoint replay
    if (m.id > id) throw new IllegalStateException(
      s"PartitionedUpsert: batch id $id behind committed id ${m.id} under " +
        s"$stateDir — a restarted stream with a fresh checkpoint dir cannot " +
        "resume an existing state dir; reuse the original checkpointLocation " +
        "or seed a new stateDir")
    val changes = batch.localCheckpoint(true)
    val pc = partCol(keys, m.n)
    // the touched-partition set is bounded by n — a driver-side collect
    // of at most n ints, never data rows
    val touched = changes.select(pc.as("__part__")).distinct()
      .collect().map(_.getInt(0)).toSet
    val curPaths = touched.toSeq.sorted.collect {
      case i if m.parts.contains(i) => s"$stateDir/p$i/${m.parts(i)}"
    }
    val cur =
      if (curPaths.nonEmpty) spark.read.parquet(curPaths: _*)
      else deleteCol.fold(changes)(c => changes.drop(c)).limit(0)
    val merged = graft.operators.UpsertMerge(cur, changes, keys, deleteCol)
    val written = stagePartitions(
      merged.withColumn("__part__", pc), stateDir, s"v$id")
    // untouched partitions keep their old version entries verbatim; a
    // touched partition with no surviving rows drops out (absent = empty)
    writeManifest(spark, stateDir,
      Manifest(id, m.n, (m.parts -- touched) ++ written.map(i => i -> s"v$id")))
  }

  /** The current table: the union of every partition's manifest-named
    * version. None before seed; an empty (fully deleted) table reads as
    * an empty frame only when at least one partition survives — a table
    * whose every partition emptied returns None (no schema to carry).
    */
  def latest(spark: SparkSession, stateDir: String): Option[DataFrame] =
    readManifest(spark, stateDir).flatMap { m =>
      if (m.parts.isEmpty) None
      else Some(spark.read.parquet(
        m.parts.toSeq.sortBy(_._1).map { case (i, v) => s"$stateDir/p$i/$v" }: _*))
    }

  /** The committed manifest, if seeded. */
  private[graft] def readManifest(
      spark: SparkSession, stateDir: String): Option[Manifest] =
    readManifestAt(spark, s"$stateDir/_LATEST")

  private def readManifestAt(
      spark: SparkSession, p: String): Option[Manifest] = {
    val fs = path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = path(p)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val lines = txt.split("\n").map(_.trim).filter(_.nonEmpty)
      if (lines.isEmpty) None
      else {
        val kv = lines.map { l =>
          val Array(k, v) = l.split("=", 2); k -> v
        }.toMap
        Some(Manifest(kv("id").toLong, kv("n").toInt,
          kv.collect { case (k, v) if k.startsWith("p") && k.drop(1).forall(_.isDigit) =>
            k.drop(1).toInt -> v }))
      }
    }
  }

  /** Committed manifest names, oldest → newest — the partitioned
    * layout's time-travel catalog (pre-history state dirs written before
    * manifest history report only what exists under `_manifests/`).
    */
  def manifestVersions(spark: SparkSession, stateDir: String): Seq[String] = {
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = path(s"$stateDir/_manifests")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(v => v == "vinit" || v.matches("v\\d+"))
      .sortBy(StreamingUpsert.ordinal)
  }

  /** Time travel: the table AS OF a committed manifest. Each manifest
    * maps partitions to the version dirs that were live at that commit —
    * untouched partitions' entries still name OLDER dirs, which is
    * exactly why they must not be vacuumed away ([[vacuum]] keeps
    * manifest-referenced versions of the CURRENT manifest only; deep
    * history may lose partitions to vacuum and then fails loudly here).
    */
  def readVersion(spark: SparkSession, stateDir: String,
      version: String): DataFrame = {
    val m = readManifestAt(spark, s"$stateDir/_manifests/$version").getOrElse(
      throw new IllegalArgumentException(
        s"manifest '$version' not present under $stateDir/_manifests " +
          s"(have: ${manifestVersions(spark, stateDir).mkString(", ")})"))
    require(m.parts.nonEmpty, s"manifest '$version' maps an empty table")
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = m.parts.toSeq.sortBy(_._1)
      .filterNot { case (i, v) => fs.exists(path(s"$stateDir/p$i/$v")) }
    require(missing.isEmpty,
      s"manifest '$version' references vacuumed partition versions: " +
        missing.map { case (i, v) => s"p$i/$v" }.mkString(", "))
    spark.read.parquet(
      m.parts.toSeq.sortBy(_._1).map { case (i, v) => s"$stateDir/p$i/$v" }: _*)
  }

  /** Classified diff between two committed manifests — the partitioned
    * twin of [[StreamingUpsert.diff]], same output contract.
    */
  def diff(spark: SparkSession, stateDir: String, fromVersion: String,
      toVersion: String, keys: Seq[String]): DataFrame =
    StreamingUpsert.diffFrames(
      readVersion(spark, stateDir, fromVersion),
      readVersion(spark, stateDir, toVersion), keys,
      s"between $fromVersion and $toVersion")

  /** Per-partition version catalogs (partition → versions oldest→newest). */
  def versions(spark: SparkSession, stateDir: String): Map[Int, Seq[String]] = {
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path(stateDir))) Map.empty
    else fs.listStatus(path(stateDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("p\\d+"))
      .map { s =>
        val i = s.getPath.getName.drop(1).toInt
        i -> fs.listStatus(s.getPath).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(v => v == "vinit" || v.matches("v\\d+"))
          .sortBy(StreamingUpsert.ordinal)
      }.toMap
  }

  /** Drop, per partition, all but the `keep` newest versions — never the
    * manifest-referenced one. Returns deleted relative paths.
    */
  def vacuum(spark: SparkSession, stateDir: String, keep: Int = 2): Seq[String] = {
    require(keep >= 1, "vacuum must keep at least one version")
    val fs = path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = readManifest(spark, stateDir).map(_.parts).getOrElse(Map.empty)
    versions(spark, stateDir).toSeq.sortBy(_._1).flatMap { case (i, vs) =>
      vs.dropRight(keep).filterNot(live.get(i).contains).map { v =>
        fs.delete(path(s"$stateDir/p$i/$v"), true)
        s"p$i/$v"
      }
    }
  }

  /** Write `df` (carrying `__part__`) in ONE job partitioned by bucket,
    * then rename each staged `__part__=<i>` dir to `p<i>/<version>`.
    * Returns the bucket ids that produced data. Idempotent: a replayed
    * crash leaves stale staged/target dirs that are deleted before
    * rename.
    */
  private def stagePartitions(
      df: DataFrame, stateDir: String, version: String): Seq[Int] = {
    val stage = s"$stateDir/_stage_$version"
    df.write.mode("overwrite").partitionBy("__part__").parquet(stage)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = path(stage).getFileSystem(conf)
    val written = fs.listStatus(path(stage)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__part__="))
      .map(_.getPath.getName.stripPrefix("__part__=").toInt)
      .sorted
    written.foreach { i =>
      val target = path(s"$stateDir/p$i/$version")
      fs.mkdirs(path(s"$stateDir/p$i"))
      if (fs.exists(target)) fs.delete(target, true)
      fs.rename(path(s"$stage/__part__=$i"), target)
    }
    fs.delete(path(stage), true)
    written
  }

  private def writeManifest(
      spark: SparkSession, stateDir: String, m: Manifest): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path(stateDir).getFileSystem(conf)
    val body = (Seq(s"id=${m.id}", s"n=${m.n}") ++
      m.parts.toSeq.sortBy(_._1).map { case (i, v) => s"p$i=$v" }).mkString("\n")
    // immutable manifest HISTORY first (the log-before-flip ordering):
    // each commit's (partition -> version) map is preserved under
    // _manifests/<name>, which is what time travel reconstructs from —
    // a crash before the flip is healed by the replay rewriting it
    val name = if (m.id < 0) "vinit" else s"v${m.id}"
    fs.mkdirs(path(s"$stateDir/_manifests"))
    val htmp = path(s"$stateDir/_manifests/.$name.tmp")
    val hout = fs.create(htmp, true)
    try hout.write(body.getBytes("UTF-8")) finally hout.close()
    org.apache.hadoop.fs.FileContext.getFileContext(htmp.toUri, conf)
      .rename(htmp, path(s"$stateDir/_manifests/$name"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    val tmp = path(s"$stateDir/._LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, path(s"$stateDir/_LATEST"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)
}

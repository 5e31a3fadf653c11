package graft.llm

import graft.SparkSpec
import graft.streaming.{PartitionedUpsert, WriterLock}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The r16 fingerprint-keyed ingest standing state: cold-seed-once /
  * warm-skip semantics, crash healing, and the writer-lease contract
  * around the shared table dir (the gate only checks VALUES; these pin
  * the lifecycle).
  */
class IngestSpec extends SparkSpec {

  /** Pages shaped to survive the C4/Gopher cleaner (the gate's
    * plantedC4 construction: " fast " / " data " become terminated
    * lines).
    */
  private def pages = spark.read.parquet(sf("documents"))
    .select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"), " fast ", ".\n"),
        " data ", "?\n").as("text"))

  private def corpusRaw = pages.filter(col("doc_id") % 3 =!= 1)

  private def arrivals = pages.filter(col("doc_id") % 3 === 1)
    .select((col("doc_id") + 600000).as("doc_id"), col("text"))

  private def foreignLock(tableDir: String): Unit = {
    val f = new java.io.File(tableDir, "_WRITER_LOCK")
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f)
    try w.write("""{"token":"x","pid":1,"app":"application_foreign_1","label":"other","ts":0}""")
    finally w.close()
  }

  test("seedCached: cold seeds once, warm skips without touching the table") {
    val cache = Files.createTempDirectory("ing-spec").toString
    val (dir1, clean1) = IngestPreset.seedCached(corpusRaw, cache, "fpA", "t")
    val rows1 = PartitionedUpsert.latest(spark, dir1).get
      .collect().map(_.toString).sorted.toSeq
    assert(rows1.nonEmpty && clean1.count() > 0)
    val manifest = new java.io.File(dir1, "_LATEST")
    val mtime1 = manifest.lastModified()
    val (dir2, _) = IngestPreset.seedCached(corpusRaw, cache, "fpA", "t")
    assert(dir2 == dir1, "same (fp, variant) must key the same table")
    assert(manifest.lastModified() == mtime1,
      "warm seedCached must not rewrite the manifest")
    val rows2 = PartitionedUpsert.latest(spark, dir2).get
      .collect().map(_.toString).sorted.toSeq
    assert(rows2 == rows1)
    // a different variant (or corpus fp) keys a DIFFERENT table
    val (dir3, _) = IngestPreset.seedCached(corpusRaw, cache, "fpA", "other")
    assert(dir3 != dir1)
    // no lease left behind by either path
    assert(!new java.io.File(dir1, "_WRITER_LOCK").exists())
  }

  test("seedCached: a crashed partial seed (no manifest) is healed in place") {
    val cache = Files.createTempDirectory("ing-crash").toString
    val tableDir = s"$cache/ingest-table/" +
      graft.core.Fingerprint.combine("fpB", "t")
    // simulate a writer that died mid-stage: junk partition dir + stage
    // leftovers, but NO _LATEST manifest
    new java.io.File(s"$tableDir/p0/vinit").mkdirs()
    val junk = new java.io.FileWriter(s"$tableDir/p0/vinit/garbage")
    try junk.write("not parquet") finally junk.close()
    new java.io.File(s"$tableDir/_stage_vinit").mkdirs()
    val (dir, _) = IngestPreset.seedCached(corpusRaw, cache, "fpB", "t")
    assert(dir == tableDir)
    val healed = PartitionedUpsert.latest(spark, dir).get
      .collect().map(_.toString).sorted.toSeq
    // reference: the same corpus seeded into a pristine cache dir
    val cacheRef = Files.createTempDirectory("ing-crash-ref").toString
    val (refDir, _) = IngestPreset.seedCached(corpusRaw, cacheRef, "fpB", "t")
    val ref = PartitionedUpsert.latest(spark, refDir).get
      .collect().map(_.toString).sorted.toSeq
    assert(healed == ref, "healed seed must equal a pristine seed")
  }

  test("lease: a live foreign seeder is refused; warm reads stay lock-free") {
    val cache = Files.createTempDirectory("ing-lease").toString
    val tableDir = s"$cache/ingest-table/" +
      graft.core.Fingerprint.combine("fpC", "t")
    foreignLock(tableDir)
    val e = intercept[IllegalStateException] {
      IngestPreset.seedCached(corpusRaw, cache, "fpC", "t")
    }
    assert(e.getMessage.contains("writer"))
    WriterLock.forceRelease(spark, tableDir)
    val (dir, _) = IngestPreset.seedCached(corpusRaw, cache, "fpC", "t")
    // a foreign lock on an already-seeded table must NOT block the warm
    // read-only path
    foreignLock(dir)
    val (dir2, _) = IngestPreset.seedCached(corpusRaw, cache, "fpC", "t")
    assert(dir2 == dir)
    WriterLock.forceRelease(spark, dir)
  }

  test("run: standalone commit takes/releases the lease; replay no-ops lock-free") {
    val cache = Files.createTempDirectory("ing-run").toString
    val (dir, corpus) = IngestPreset.seedCached(corpusRaw, cache, "fpD", "t")
    val seeded = PartitionedUpsert.latest(spark, dir).get.count()
    val res = IngestPreset.run(arrivals, corpus, dir, cache, "fpD", "fpD:b0")
    assert(res.table.count() > seeded, "batch must add surviving pages")
    assert(!new java.io.File(dir, "_WRITER_LOCK").exists(),
      "standalone commit must release its lease")
    val committed = res.table.collect().map(_.toString).sorted.toSeq
    // replay of the SAME batch id: read-only no-op — works even while a
    // foreign writer holds the lease
    foreignLock(dir)
    val replay = IngestPreset.run(arrivals, corpus, dir, cache, "fpD", "fpD:b0")
    assert(replay.table.collect().map(_.toString).sorted.toSeq == committed)
    // a NEW batch id is a real commit: the foreign lease refuses it loudly
    intercept[IllegalStateException] {
      IngestPreset.run(arrivals, corpus, dir, cache, "fpD", "fpD:b1",
        batchId = 1L)
    }
    WriterLock.forceRelease(spark, dir)
  }

  test("run: an ingest op stays within its Spark job budget") {
    val cache = Files.createTempDirectory("ing-jobs").toString
    val (dir, corpus) = IngestPreset.seedCached(corpusRaw, cache, "fpF", "t")
    // warm the corpus-side state, as a standing ingest finds it
    IngestPreset.run(arrivals.filter(col("doc_id") % 2 === 0), corpus, dir, cache,
      "fpF", "fpF:b0")
    val batch = arrivals.filter(col("doc_id") % 2 === 1).localCheckpoint(true)
    val (_, jobs) = graft.Jobs.during(spark)(
      IngestPreset.run(batch, corpus, dir, cache, "fpF", "fpF:b1", batchId = 1L))
    // every job runs under the label of its eager call site: cache hits,
    // table reads and the touched-partition set run none
    val bySite = jobs.groupMapReduce(_.site.getOrElse("(no label)"))(_ => 1)(_ + _)
    val budget = Map(
      "IngestPreset clean" -> 2, // the cleaner's line dedup shuffles once
      "IncrementalMinHashDedupPipe batch" -> 1,
      "IncrementalMinHashDedupPipe corpus" -> 1,
      "CachedStage write" -> 1, // the batch's embeddings
      "PartitionedUpsert changes" -> 2, // the embeddings join broadcasts
      "PartitionedUpsert write" -> 2) // the change keys, then the write
    val report = bySite.toSeq.sorted.mkString("\n") + "\n" + jobs.mkString("\n")
    assert(bySite.keySet.subsetOf(budget.keySet), report)
    budget.foreach { case (site, n) => assert(bySite.getOrElse(site, 0) <= n, report) }
    assert(jobs.size <= 12, report)
  }

  test("run: the raw batch is evaluated once; a replayed id stays lazy") {
    val cache = Files.createTempDirectory("ing-once").toString
    val (dir, corpus) = IngestPreset.seedCached(corpusRaw, cache, "fpE", "t")
    val rows = arrivals.count()
    // a nondeterministic projection cannot be deduplicated by the
    // optimizer: every evaluation of the batch bumps the counter per row
    val passes = spark.sparkContext.longAccumulator("ingest-batch-rows")
    val bump = udf { (t: String) => passes.add(1); t }.asNondeterministic()
    val raw = arrivals.select(col("doc_id"), bump(col("text")).as("text"))
    val res = IngestPreset.run(raw, corpus, dir, cache, "fpE", "fpE:b0")
    assert(passes.value == rows, "one pass over the batch per ingest")
    // the returned frames are the materialized ones
    res.clean.count()
    res.unique.count()
    assert(passes.value == rows)
    passes.reset()
    val (replay, replayJobs) = graft.Jobs.during(spark)(
      IngestPreset.run(raw, corpus, dir, cache, "fpE", "fpE:b0"))
    // the batch-side dedup signatures are the replay's only pass: no
    // served-dedup collect, no checkpoint, no commit
    assert(replayJobs.forall(_.site.isEmpty), replayJobs.mkString("\n"))
    val replayPasses = passes.value
    assert(replayPasses <= rows)
    replay.unique.count()
    assert(passes.value > replayPasses, "a replay must not materialize the batch")
    assert(replay.table.count() == res.table.count())
  }
}

package perfbench

import graft.llm.{DedupOps, IngestPreset}
import graft.streaming.{PartitionedUpsert, WriterLock}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental ingest: each op runs one arriving batch of raw pages through
  * `IngestPreset.run` against a standing corpus (clean, incremental MinHash
  * dedup, embed, IVF-PQ add, partitioned upsert commit) and then reads its
  * own write back. Every op starts from the set-up snapshot.
  *
  * Set-up builds the standing state from raw pages: a cold corpus build
  * ([[Curate]]) whose shards seed the table with `IngestPreset.seedCached`,
  * then the corpus-side MinHash signatures every op dedups against.
  */
final class IngestUpdate(spark: SparkSession, seed: Long, work: String, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val opsPerSecond = 0.3
  val warmupOps = 1

  private val g = new Gen(seed)
  private val input = Paths2.mk(s"$work/input")
  private val curate = new Curate(spark, g, input)
  // the first `standing` pages of the curated training order: the table's
  // size, and so the commit's rewrite, is the same for every seed
  private val standing = 150
  require(curate.expectedIds.size >= standing, "the curated corpus is smaller than the table")
  private val standingIds = curate.trainingOrder.take(standing).toSet
  private val (batchPages, dupIds) = {
    val r = g.fork(41)
    val (inBatch, planted) = g.batch(r, base = 100000L, n = 100, junk = 10, dups = 10, lines = 7)
    // near-duplicates of distinct pages of the curated standing corpus
    val pool = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(curate.pages.filter(p => standingIds(p.id))).take(20)
    val cross = pool.zipWithIndex.map { case (c, j) =>
      Page(100100L + j, g.nearDup(r, c.text), c.source, "cross") }
    (inBatch ++ cross, planted.map(_.dup).toSet ++ cross.map(_.id))
  }
  private val expectedNew: Set[Long] =
    batchPages.filter(p => p.kind == "unique").map(_.id).toSet
  val inputBytes: Long = batchPages.map(_.text.getBytes("UTF-8").length.toLong).sum
  Input.pages(s"$input/batch", batchPages)

  private val curated = s"$work/curated"
  private def corpusRaw = spark.read.parquet(curated)
    .filter(col("shard_id") * Curate.shardSize + col("pos_in_shard") < standing)
    .select("doc_id", "text")
  private def batchRaw = Input.read(spark, s"$input/batch", Input.pageSchema)
    .select("doc_id", "text")

  private val stateDir = s"$work/state"
  private val cache = s"$stateDir/cache"
  private val snapDir = s"$work/snap"
  private val corpusFp = s"ingest-corpus-$seed"
  private val batchFp = s"ingest-batch-$seed"
  private val minhash = "ingest-minhash"
  private var tableDir: String = _
  private var before: DiskDelta.Snap = _
  private var tableBefore: DiskDelta.Snap = _
  private var setupFacts = Map.empty[String, Double]
  private var built: curate.Raw = _

  def setup(): Unit = {
    tracer.op = Tracer.SetupOp
    built = curate.run(s"$work/curate-cache", curated, tracer)
    val (table, corpus) = IngestPreset.seedCached(corpusRaw, cache, corpusFp, "table", nParts = 4)
    // the corpus-side MinHash signatures every ingest dedups against
    DedupOps.minhashBanded(corpus, "text", "doc_id", 64, 32, 3, Some(s"$cache/$minhash"))
    tableDir = table
  }

  override def afterSetup(): Seq[String] = {
    val (errors, facts) = curate.check(built, curated)
    // the cold build's split of every llm layer; an op's sampled time
    // inside IngestPreset.run is the `build_s` of llm.clean and llm.dedup
    def phases(l: String, ps: String*) =
      ps.map(p => s"$l.${p}_s" -> tracer.seconds(Tracer.SetupOp, s"$l.$p"))
    val self = tracer.selfSeconds(Tracer.SetupOp)
    val split = phases("llm.clean", "plan", "exec") ++ phases("llm.dedup", "plan", "exec") ++
      phases("llm.select", "build", "plan", "exec") ++ phases("llm.pack", "build", "plan", "exec") ++
      Seq("llm.clean", "llm.dedup", "llm.select", "llm.pack")
        .map(l => s"$l.self_s" -> self.getOrElse(l, 0.0))
    setupFacts = facts ++ split ++ Map(
      "sources.shards.exec_s" -> tracer.seconds(Tracer.SetupOp, "sources.shards.exec"))
    Files2.delete(snapDir)
    Files2.copy(stateDir, snapDir)
    errors
  }

  def statePaths: Seq[String] = Seq(stateDir, cache, tableDir, snapDir, curated,
    s"$work/curate-cache", s"$work/rebuild")

  def prepare(i: Int): Unit = {
    Files2.delete(stateDir)
    Files2.copy(snapDir, stateDir)
    before = DiskDelta.snap(cache, Set("ingest-table"))
    tableBefore = DiskDelta.snap(tableDir)
  }

  def op(i: Int, t: Tracer): Any = {
    val (table, corpus) = t.span("llm.ingest") {
      IngestPreset.seedCached(corpusRaw, cache, corpusFp, "table", nParts = 4)
    }
    val token = t.span("streaming.lease.wait")(WriterLock.acquire(spark, table, "perfbench"))
    val res = try t.span("ingest.run")(Sampler.sampled(t) {
      IngestPreset.run(batchRaw, corpus, table, cache,
        corpusFp, batchFp, batchId = 1L, leased = true)
    }) finally WriterLock.release(spark, table, token)
    // read-after-write: the batch's id range, from the committed table
    t.span("ingest.lookup") {
      res.table.filter(col("doc_id") >= 100000L).select("doc_id").as[Long].collect().toSet
    }
  }

  def finish(i: Int, raw: Any, t: Tracer): OpOut = {
    val got = raw.asInstanceOf[Set[Long]]
    val after = DiskDelta.snap(cache, Set("ingest-table"))
    val disk = DiskDelta.diff(before, after)
    val table = DiskDelta.diff(tableBefore, DiskDelta.snap(tableDir))
    val errors = Seq.newBuilder[String]
    val sig = before.entries.keySet.filter(_.startsWith(minhash))
    if (sig.isEmpty || sig.exists(k => after.entries.get(k) == before.entries.get(k)) ||
        (after.entries.keySet -- before.entries.keySet).exists(_.startsWith(minhash)))
      errors += "corpus-signature cache missed on a warm op"
    if (got != expectedNew)
      errors += s"read-after-write: ${(expectedNew -- got).size} new pages missing, " +
        s"${(got -- expectedNew).size} unexpected pages present"
    val hit = (got & expectedNew).size + (dupIds -- got).size
    def sampled(layer: String) = t.seconds(i, s"sample:$layer")
    OpOut(batchPages.size, disk, hit, expectedNew.size + dupIds.size, errors.result(), Map(
      "llm.ingest.build_s" -> t.seconds(i, "llm.ingest"),
      "llm.clean.build_s" -> sampled("llm.clean"),
      "llm.dedup.build_s" -> sampled("llm.dedup"),
      "predict.embed.exec_s" -> sampled("predict.embed"),
      "search.add_vectors.build_s" -> sampled("search.ivfpq"),
      "streaming.commit.exec_s" -> sampled("streaming.commit"),
      "streaming.lease.wait_s" -> t.seconds(i, "streaming.lease.wait"),
      "streaming.commit.bytes_written" -> table.bytes.toDouble,
      "streaming.commit.files_written" -> table.files.toDouble,
      "predict.embed.rows" -> got.size.toDouble) ++ setupFacts)
  }

  /** Incremental maintenance must equal recomputation: the committed table
    * after the last op equals a fresh seed over the corpus plus the pages
    * the op should have kept.
    */
  override def finalChecks(): Seq[String] = {
    def rows(dir: String) = PartitionedUpsert.latest(spark, dir).get
      .select(col("doc_id"), col("text"), col("ws_tokens"), col("vector").cast("string"),
        col("cid"), col("codes").cast("string"))
      .collect().map(_.mkString("|")).sorted.toSeq
    val rebuild = s"$work/rebuild"
    Files2.delete(rebuild)
    val kept = corpusRaw.unionByName(
      batchRaw.filter(col("doc_id").isin(expectedNew.toSeq: _*)))
    IngestPreset.seed(kept, s"$rebuild/table", s"$rebuild/cache", s"rebuild-$seed")
    if (rows(tableDir) == rows(s"$rebuild/table")) Nil
    else Seq("incremental table differs from a rebuild over the same pages")
  }
}

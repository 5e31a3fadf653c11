package graft.llm

import graft.core.Pipe
import graft.pipes.{LambdaPipe, SequentialPipe}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.streaming.StreamingQuery

/** The FLAGSHIP end-to-end ingest preset — the reference's canonical
  * demo cascade (user_guide/src/examples/index.py:46-63) re-expressed as
  * ONE driver program over the round's pieces, the way a production
  * crawl-ingest would run them:
  *
  *   raw pages → crawl cleaner chain (pp_crawl_v1: intra-doc line dedup
  *   → C4 battery → page floor → Gopher lexical floor → token budget)
  *   → incremental near-dedup against the STANDING corpus
  *   (MinHash-LSH; corpus signatures load from the per-corpus cache,
  *   never re-shingled) → deterministic text embeddings
  *   (byte-features → [[graft.predict.PredictWithCache]] LinearModel —
  *   the cache/join machinery with an engine-replayable model)
  *   → [[graft.search.IVFPQDenseEngine.addVectors]] (O(new) index
  *   maintenance: coarse centroids + codebooks pinned, standing lists
  *   appended verbatim) → [[graft.streaming.PartitionedUpsert]] commit
  *   (only the partitions the batch's keys touch are rewritten).
  *
  * Every stage is individually gated elsewhere; `pp_ingest_v1` gates the
  * COMPOSITION: the final table row for every document carries each
  * stage's evidence (cleaned text + ws_tokens from the cleaner, the
  * rounded embedding vector, the coarse cell id and the four PQ codes
  * from the index), and the DuckDB oracle replays the whole cascade
  * stage by stage from the raw fixtures.
  *
  * Scale shape: clean/embed are map-only; dedup serves the batch against
  * the corpus's cached band index (collected once per ingest) and keeps
  * the banded join above its cap; the index add never touches the
  * standing lists, and the commit rows are one projection over the
  * embedded batch — the add's tag, residual and encode as per-row
  * kernels of the pinned centroids and codebooks; the upsert rewrites
  * O(touched partitions) without shuffling them. No stage shuffles the
  * standing corpus. [[run]] materializes the cleaned batch once, so the
  * batch's lineage runs once per ingest, not once per consumer.
  */
object IngestPreset {

  /** Embedding dimensionality (byte-feature classes = model in = model
    * out = index dim; m=4 PQ subspaces of 4).
    */
  val dim = 16
  private val nlist = 8
  private val m = 4
  private val codebookSize = 16

  /** The pp_crawl_v1 cleaner chain (kept in one place so the batch gate,
    * the streaming twin, and this preset compose the identical pipe).
    */
  def cleaner: Pipe = SequentialPipe(Seq(
    IntraDocLineDedupPipe("text"),
    C4CleanPipe("text"),
    LambdaPipe(_.filter(col("c4_keep")), "c4_floor"),
    GopherQualityPipe("text"),
    LambdaPipe(_.filter(col("rule_alpha_words") && col("rule_stopwords")),
      "lexical_floor"),
    TokenCountPipe("text")))

  /** Deterministic formula model: W[o][i] = ((o·7+i·3) mod 5 − 2)/4,
    * b[o] = o/8 — integer arithmetic then exact binary scales, so any
    * engine replays the dot products bit-for-bit.
    */
  def embedModel: graft.predict.LinearModel = graft.predict.LinearModel(
    (0 until dim).map(o => (0 until dim).map(i =>
      (((o * 7 + i * 3) % 5) - 2) * 0.25)),
    (0 until dim).map(o => o * 0.125))

  /** text → `vector`: byte features over the UTF-8 payload (mean per
    * stride class — [[ByteFeaturesPipe]]) through the cached linear
    * model. Map-only + one fingerprint-keyed cache stage.
    */
  def embed(df: DataFrame, cacheDir: String, fp: String): DataFrame =
    graft.predict.PredictWithCache(embedModel, "feat", "vector",
      idCol = "doc_id", cacheDir = cacheDir, datasetFingerprint = fp)(
      ByteFeaturesPipe("media", "doc_id", dim = dim, outputCol = "feat")(
        ToMediaColumnPipe("text")(df)))
      .drop("media", "media_meta", "feat")

  /** The standing index over the corpus vectors: residual IVF-PQ with
    * the deterministic formula coarse centroids and codebooks (the s26
    * shapes at dim 16), fully state-cached under `cacheDir`.
    */
  def indexBase(corpusVec: DataFrame, cacheDir: String,
      corpusFp: String): graft.search.IVFPQDenseEngine =
    graft.search.IVFPQDenseEngine(
      corpusVec.select(col("doc_id").as("idx"), col("vector")),
      nlist = nlist, nprobe = nlist, m = m, codebookSize = codebookSize,
      config = graft.search.SearchConfig(k = 10, fillMaskedIndices = false,
        queryIdCol = Some("qid")),
      residual = true,
      fixedCentroids = Some(
        graft.search.IVFDenseEngine.formulaCentroids(nlist, dim)),
      fixedCodebooks = Some(
        graft.search.PQDenseEngine.formulaCodebooks(m, codebookSize, dim / m)),
      stateDir = Some(s"$cacheDir/ingest-ivfpq"),
      corpusFingerprint = corpusFp)

  /** Shape embedded rows into the table schema (doc_id, text, ws_tokens,
    * vector, cid, codes), with the cell and codes `eng` gives each vector
    * ([[graft.search.IVFPQDenseEngine.quantized]]: one projection, the
    * rows its tagged and codes state holds for the same ids). The vector
    * is stored FIXED-POINT e4 (floor(x·10⁴ + 0.5) as long): `round(x,4)`
    * is engine-ambiguous on .00005 boundaries (the r12 find — Spark
    * rounds the shortest-decimal, DuckDB the binary value; one sf1
    * component landed exactly there), while floor over the identical
    * binary double replays bit-for-bit in any engine.
    */
  private def tableRows(eng: graft.search.IVFPQDenseEngine, withVec: DataFrame): DataFrame =
    eng.quantized(withVec.filter(col("doc_id").isNotNull), col("vector"))
      .select(col("doc_id"), col("text"), col("ws_tokens"),
        transform(col("vector"),
          v => floor(v * 10000 + 0.5).cast("long")).as("vector"),
        col("cid"),
        array((0 until m).map(j => col(s"__c$j")): _*).as("codes"))

  /** The base index over the corpus vectors with its state written: the
    * tagged lists and codes every ingest's add appends to.
    */
  private def persistedBase(vec: DataFrame, cacheDir: String,
      corpusFp: String): graft.search.IVFPQDenseEngine = {
    val base = indexBase(vec, cacheDir, corpusFp)
    base.ivf.tagged
    base.pq.codes
    base
  }

  /** Seed the standing state from an already-crawled corpus: clean,
    * embed, build the base index, and write the partitioned table.
    * Returns the cleaned corpus frame (what [[run]] dedups against).
    */
  def seed(corpusRaw: DataFrame, tableDir: String, cacheDir: String,
      corpusFp: String, nParts: Int = 8): DataFrame = {
    val clean = cleaner(corpusRaw.select("doc_id", "text"))
      .select("doc_id", "text", "ws_tokens")
    val vec = embed(clean, cacheDir, s"$corpusFp:corpus-embed")
    val base = persistedBase(vec, cacheDir, corpusFp)
    graft.streaming.PartitionedUpsert.seed(
      tableRows(base, vec), tableDir, Seq("doc_id"), nParts)
    clean
  }

  /** Cleaned-corpus cache: the cleaner chain is deterministic in the raw
    * text, so its output parquet-materializes ONCE per corpus fingerprint
    * via [[graft.core.CachedStage]] — without it the whole
    * C4/Gopher/token chain re-executes for every downstream consumer
    * (dedup corpus side, corpus embed, table rows) and again on every
    * re-run of an unchanged corpus.
    */
  def cleanCached(corpusRaw: DataFrame, cacheDir: String,
      corpusFp: String): DataFrame =
    graft.core.CachedStage(corpusRaw.sparkSession, cacheDir,
      graft.core.Fingerprint.combine(corpusFp, "ingest-clean")) {
      cleaner(corpusRaw.select("doc_id", "text"))
        .select("doc_id", "text", "ws_tokens")
    }

  /** Fingerprint-keyed standing state: every seed artifact (cleaned
    * corpus, embeddings, index state, the partitioned table itself) is
    * deterministic in the corpus fingerprint, so the table lives under
    * `cacheDir/ingest-table/<hash(corpusFp, variant)>` and an existing
    * manifest skips the whole seed — a warm re-seed costs one manifest
    * read. Returns (tableDir, cleaned corpus). Combined with
    * [[graft.streaming.PartitionedUpsert.applyBatch]]'s replay guard (a
    * committed batch id re-applies as a no-op — the upsert's own
    * crash-recovery contract), re-running an identical ingest against
    * the keyed table is read-mostly end to end. A REGENERATED source
    * corpus changes `corpusFp` and re-seeds from scratch; concurrent
    * ingests against one variant are serialized by the table's writer
    * lease exactly as before.
    */
  def seedCached(corpusRaw: DataFrame, cacheDir: String, corpusFp: String,
      variant: String, nParts: Int = 8): (String, DataFrame) = {
    val spark = corpusRaw.sparkSession
    val tableDir = s"$cacheDir/ingest-table/" +
      graft.core.Fingerprint.combine(corpusFp, variant)
    val clean = cleanCached(corpusRaw, cacheDir, corpusFp)
    // warm path is read-only and lock-free; the COLD seed takes the
    // table's single-writer lease (a concurrent seeder of the same keyed
    // dir fails loudly instead of interleaving staged partition writes)
    // and re-checks the manifest under it — the loser of the race skips
    if (graft.streaming.PartitionedUpsert.readManifest(spark, tableDir).isEmpty) {
      val token = graft.streaming.WriterLock.acquire(
        spark, tableDir, "IngestPreset.seed")
      try {
        if (graft.streaming.PartitionedUpsert
            .readManifest(spark, tableDir).isEmpty) {
          val vec = embed(clean, cacheDir, s"$corpusFp:corpus-embed")
          val base = persistedBase(vec, cacheDir, corpusFp)
          graft.streaming.PartitionedUpsert.seed(
            tableRows(base, vec), tableDir, Seq("doc_id"), nParts)
        }
      } finally graft.streaming.WriterLock.release(spark, tableDir, token)
    }
    (tableDir, clean)
  }

  case class Ingested(
      clean: DataFrame, dropped: DataFrame, unique: DataFrame,
      engine: graft.search.IVFPQDenseEngine, table: DataFrame)

  /** Ingest one batch of raw pages against the standing state. `corpus`
    * is the cleaned corpus text frame (derive it from the stable source
    * so the signature cache stays warm — [[seed]] returns exactly it).
    *
    * The batch's lineage runs once: `clean` is materialized right after
    * the cleaner with `localCheckpoint(true)` (job label `IngestPreset
    * clean`). Not `persist()`: a cached plan keeps its pre-AQE shuffle
    * partition count, which spreads the op's cache entries over more,
    * smaller files, while a checkpoint keeps the coalesced partitioning
    * AQE chose. Dedup then runs served
    * ([[IncrementalMinHashDedupPipe.servedPairs]]: one collect of the
    * batch's signatures, one of the corpus's cached band index), and
    * `unique` is a map-only filter of `clean` by the dropped ids. Above
    * the served cap the banded join decides, and `unique` (its
    * anti-join) is checkpointed as well, so the join runs once. The
    * commit rows are one projection over the embedded batch, and
    * [[graft.streaming.PartitionedUpsert.applyBatch]] commits them. The
    * added engine `engine` is lazy: its tagged and codes state is built
    * when it is first searched. The manifest is read first: a REPLAYED
    * batch id (already committed) materializes nothing — its dedup is the
    * lazy join form, and its frames stay lazy.
    */
  def run(newRaw: DataFrame, corpus: DataFrame, tableDir: String,
      cacheDir: String, corpusFp: String, batchFp: String,
      batchId: Long = 0L,
      /** True when the caller already holds the table's writer lease
        * (the streaming twin holds it across batches); a standalone
        * batch ingest takes it around its own commit.
        */
      leased: Boolean = false): Ingested = {
    val spark = newRaw.sparkSession
    val replay = graft.streaming.PartitionedUpsert
      .readManifest(spark, tableDir).exists(_.id == batchId)
    def once(site: String)(df: DataFrame): DataFrame =
      if (replay) df
      else graft.core.JobLabel(spark, s"IngestPreset $site",
        graft.core.Fingerprint.hash(batchFp))(df.localCheckpoint(true))
    val clean = once("clean")(cleaner(newRaw.select("doc_id", "text"))
      .select("doc_id", "text", "ws_tokens"))
    // near-dup policy: drop a new page that duplicates the corpus
    // (cross pair lhs) or a smaller-id page of the same batch
    val dedup = IncrementalMinHashDedupPipe("text", "doc_id",
      corpus, "text", "doc_id", jaccardThreshold = 0.5,
      cacheDir = Some(s"$cacheDir/ingest-minhash"))
    // a replay commits nothing: its frames stay lazy, so nothing is collected
    val (dropped, unique) = (if (replay) None else dedup.servedPairs(clean)) match {
      case Some(pairs) =>
        val ids = pairs.map(p => if (p.getString(3) == "cross") p.getLong(0) else p.getLong(1))
          .distinct.sorted
        val id = col("doc_id").cast("long")
        (spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
          StructType(Seq(StructField("doc_id", LongType)))),
          if (ids.isEmpty) clean else clean.filter(id.isNull || !id.isin(ids: _*)))
      case None =>
        val d = dedup.joined(clean).select(when(col("pair_src") === "cross", col("id_a"))
          .otherwise(col("id_b")).as("doc_id")).distinct()
        (d, once("unique")(clean.join(d, Seq("doc_id"), "left_anti")))
    }
    val newVec = embed(unique, cacheDir, batchFp)
    val corpusVec = embed(corpus, cacheDir, s"$corpusFp:corpus-embed")
    val eng = indexBase(corpusVec, cacheDir, corpusFp)
      .addVectors(newVec.select(col("doc_id").as("idx"), col("vector")),
        fingerprint = batchFp)
    def commit(): Unit = graft.streaming.PartitionedUpsert.applyBatch(
      tableRows(eng, newVec), batchId, tableDir, Seq("doc_id"), None)
    if (replay) {
      // replayed batch id: the upsert's no-op contract — read-only, so
      // no lease is taken (keeps warm identical re-runs lock-free)
    } else if (leased) commit()
    else {
      // standalone commit: same single-writer contract as the stream
      val token = graft.streaming.WriterLock.acquire(
        spark, tableDir, "IngestPreset.run")
      try commit()
      finally graft.streaming.WriterLock.release(spark, tableDir, token)
    }
    Ingested(clean, dropped, unique, eng,
      graft.streaming.PartitionedUpsert.latest(spark, tableDir).get)
  }

  /** The streaming twin: each arriving micro-batch of raw pages runs the
    * IDENTICAL batch cascade through foreachBatch — clean, dedup against
    * the standing corpus, embed, addVectors, partitioned commit.
    */
  def runStream(newRaw: DataFrame, corpus: DataFrame, tableDir: String,
      cacheDir: String, corpusFp: String, fpPrefix: String,
      checkpointDir: String): StreamingQuery = {
    // same single-writer lease as PartitionedUpsert.run: a second
    // concurrent ingest stream against one tableDir fails loudly
    val spark = newRaw.sparkSession
    val token = graft.streaming.WriterLock.acquire(
      spark, tableDir, "IngestPreset")
    val q =
      try newRaw.writeStream
        .option("checkpointLocation", checkpointDir)
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          run(batch, corpus, tableDir, cacheDir, corpusFp,
            s"$fpPrefix:b$id", id, leased = true): Unit
        }
        .start()
      catch { case e: Throwable =>
        graft.streaming.WriterLock.release(spark, tableDir, token); throw e
      }
    graft.streaming.WriterLock.bind(spark, tableDir, token, q)
    q
  }
}

package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Engine state lifecycle (reference: build -> save -> load -> search,
  * search/search.py:109-169 + pipes/index.py:65-99): a FRESH engine
  * instance pointed at the same stateDir serves identical results without
  * recomputing the build side.
  */
class EngineStateSpec extends SparkSpec {

  test("BM25 stats persist and reload identically") {
    val dir = Files.createTempDirectory("graft-es").toString
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("query.text"))
    def engine(c: org.apache.spark.sql.DataFrame = docs) = BM25Engine(c,
      SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid")),
      corpusIdxCol = "doc_id", corpusTextCol = "text",
      stateDir = Some(dir), corpusFingerprint = "docs-t")
    val r1 = engine()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    val frames = new java.io.File(dir).listFiles().count(!_.getName.startsWith("_"))
    assert(frames == 3, s"expected 3 persisted state frames, found $frames")
    val r2 = engine()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    assert(r1 == r2)
    // definitive cache-hit proof: an instance over an EMPTIED corpus but
    // the same stateDir + fingerprint still answers from the persisted
    // postings — a recompute would return no hits at all
    val r3 = engine(docs.filter(col("doc_id") < 0))(queries)
      .select("qid", "`index.idx`").collect().map(_.toString).sorted.toSeq
    assert(r3 == r1, "reload must serve persisted stats, not recompute")
  }

  test("IVF centroids/tagged persist; cold engine skips the KMeans fit") {
    val dir = Files.createTempDirectory("graft-ivf").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    def engine() = IVFDenseEngine(corpus, nlist = 10, nprobe = 6,
      config = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid")),
      stateDir = Some(dir), corpusFingerprint = "emb-t")
    val r1 = engine()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    // warm state on disk: a fresh instance must reproduce results purely
    // from parquet (its own `fitted` stays un-forced on cache hit)
    val e2 = engine()
    val r2 = e2(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    assert(r1 == r2)
    // DEFINITIVE cache-hit proof: an engine over a ZEROED corpus but the
    // same stateDir + fingerprint serves the ORIGINAL vectors (scores from
    // cached state, in-memory corpus untouched) — a refit would score
    // everything 0. Same zeroed corpus under a NEW fingerprint refits and
    // does score 0 (the cache-miss path).
    val zeroed = corpus.withColumn("vector",
      org.apache.spark.sql.functions.transform(col("vector"), _ => lit(0.0f)))
    val hit = IVFDenseEngine(zeroed, nlist = 10, nprobe = 6,
      config = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid")),
      stateDir = Some(dir), corpusFingerprint = "emb-t")
    val rHit = hit(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    assert(rHit == r1, "reload must serve persisted state, not refit")
    val miss = IVFDenseEngine(zeroed, nlist = 10, nprobe = 6,
      config = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid")),
      stateDir = Some(dir), corpusFingerprint = "emb-zeroed")
    val missScores = miss(queries)
      .select(explode(col("`index.score`")).as("sc"))
      .agg(max(abs(col("sc")))).head().getDouble(0)
    assert(missScores == 0.0, "new fingerprint must refit from the zeroed corpus")
  }

  test("OPQ-PQ state (rotation + books + codes) persists; reload skips all fits") {
    val dir = Files.createTempDirectory("graft-pq").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val cfg = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid"))
    def engine(c: org.apache.spark.sql.DataFrame = corpus) =
      PQDenseEngine(c, m = 8, codebookSize = 16, config = cfg, rotate = true,
        stateDir = Some(dir), corpusFingerprint = "emb-pq")
    val r1 = engine()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    // three state frames on disk: rotation, books, codes
    val frames = new java.io.File(dir).listFiles().count(!_.getName.startsWith("_"))
    assert(frames == 3, s"expected 3 persisted state frames, found $frames")
    // cache-hit proof: a zeroed corpus under the same fingerprint serves
    // the ORIGINAL rotation/books/codes (a refit would rotate nothing and
    // score every candidate identically); the reloaded rotation matrix
    // matches the learned one exactly
    val zeroed = corpus.withColumn("vector",
      org.apache.spark.sql.functions.transform(col("vector"), _ => lit(0.0f)))
    val hit = engine(zeroed)
    assert(hit.rotation.get == engine().rotation.get)
    val rHit = hit(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    assert(rHit == r1, "reload must serve persisted state, not refit")
    // composed engine: one dir persists coarse + fine state (5 frames:
    // centroids, tagged, rotation, books, codes)
    val dir2 = Files.createTempDirectory("graft-ivfpq").toString
    def composed() = IVFPQDenseEngine(corpus, nlist = 8, nprobe = 8,
      m = 8, codebookSize = 16, config = cfg, rotate = true,
      stateDir = Some(dir2), corpusFingerprint = "emb-ivfpq")
    val c1 = composed()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    val n2 = new java.io.File(dir2).listFiles().count(!_.getName.startsWith("_"))
    assert(n2 == 5, s"expected 5 persisted state frames, found $n2")
    val c2 = composed()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    assert(c1 == c2)
  }

  test("registry-built engines thread stateDir and reload persisted state") {
    val dir = Files.createTempDirectory("graft-auto").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val cfg = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val opts = Map("stateDir" -> dir, "fingerprint" -> "emb-auto")
    val r1 = AutoSearchEngine("dense_ivf", corpus, cfg, opts)(queries)
      .select("qid", "`index.idx`").collect().map(_.toString).sorted.toSeq
    assert(new java.io.File(dir).listFiles().nonEmpty,
      "registry engine must have persisted state")
    // the cache-hit observable: a zeroed corpus under the same
    // stateDir/fingerprint serves the original persisted vectors
    val zeroed = corpus.withColumn("vector",
      org.apache.spark.sql.functions.transform(col("vector"), _ => lit(0.0f)))
    val r2 = AutoSearchEngine("dense_ivf", zeroed, cfg, opts)(queries)
      .select("qid", "`index.idx`").collect().map(_.toString).sorted.toSeq
    assert(r2 == r1, "registry-built engine must reload persisted state")
  }

  test("IndexBuilder with an ANN engine name persists vectors + engine state") {
    // the de-trap made the old hardcoded brute engine throw past the cap
    // with no escape hatch; the builder now routes through the registry
    val dir = Files.createTempDirectory("graft-ib").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // 8-dim model output (the registry PQ default m=8 must divide it)
    val model = graft.predict.LinearModel(
      Seq.tabulate(8)(i => Seq.tabulate(64)(t =>
        if (t % 8 == i) 1.0 else 0.0)), Seq.fill(8)(0.0))
    val idx = IndexBuilder(
      emb.select(col("vec_id").as("idx"), col("embedding")),
      model, dir, "emb-ib-ann",
      config = SearchConfig(k = 5, fillMaskedIndices = false,
        queryIdCol = Some("qid")),
      engineName = "opq_ivf_pq")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val r1 = idx.query(queries, "qid", "embedding")
      .select("qid", "`index.idx`").collect().map(_.toString).sorted.toSeq
    assert(r1.size == 5)
    // vector cache + coarse/fine engine state all landed under cacheDir
    val frames = new java.io.File(dir).listFiles().count(!_.getName.startsWith("_"))
    assert(frames >= 6, s"expected vector cache + 5 engine state frames, got $frames")
    // a FRESH builder over the same dir reproduces from persisted state
    val r2 = IndexBuilder(
      emb.select(col("vec_id").as("idx"), col("embedding")),
      model, dir, "emb-ib-ann",
      config = SearchConfig(k = 5, fillMaskedIndices = false,
        queryIdCol = Some("qid")),
      engineName = "opq_ivf_pq")
      .query(queries, "qid", "embedding")
      .select("qid", "`index.idx`").collect().map(_.toString).sorted.toSeq
    assert(r2 == r1)
  }

  test("fixed-state CONTENT participates in the cache key") {
    // two engines differing only in fixed codebook contents must not
    // share persisted codes (an isDefined-only key silently served one
    // engine the other's codes)
    val dir = Files.createTempDirectory("graft-pqkey").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val cfg = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid"))
    def engine(books: Seq[Seq[Seq[Double]]]) =
      PQDenseEngine(corpus, m = 8, codebookSize = 16, config = cfg,
        fixedCodebooks = Some(books), stateDir = Some(dir),
        corpusFingerprint = "emb-key")
    val booksA = PQDenseEngine.formulaCodebooks(8, 16, 8)
    val booksB = booksA.map(_.map(_.map(v => -v))) // same shape, different content
    val rA = engine(booksA)(queries).select("qid", "`index.idx`", "`index.score`")
      .collect().map(_.toString).sorted.toSeq
    val rB = engine(booksB)(queries).select("qid", "`index.idx`", "`index.score`")
      .collect().map(_.toString).sorted.toSeq
    // B ran with warm A-state on disk: with content-hashed keys it still
    // encodes with ITS books — a no-cache run must agree exactly
    val rBCold = PQDenseEngine(corpus, m = 8, codebookSize = 16, config = cfg,
      fixedCodebooks = Some(booksB))(queries)
      .select("qid", "`index.idx`", "`index.score`")
      .collect().map(_.toString).sorted.toSeq
    assert(rB == rBCold, "different fixed books must not share cached codes")
    assert(rA != rB, "sanity: the two codebooks rank differently")
  }

  test("group lookup persists and reloads") {
    val dir = Files.createTempDirectory("graft-gl").toString
    val li = spark.read.parquet(sf("lineitem")).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("idx"), col("l_orderkey"))
    val queries = spark.read.parquet(sf("orders")).limit(20)
      .select(col("o_orderkey").as("qid"), col("o_orderkey").as("query.l_orderkey"))
    def engine(c: org.apache.spark.sql.DataFrame = li) = GroupLookupEngine(
      c, "l_orderkey",
      SearchConfig(k = 8, fillMaskedIndices = false, queryIdCol = Some("qid")),
      stateDir = Some(dir), corpusFingerprint = "li-t")
    val r1 = engine()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    val r2 = engine()(queries).select("qid", "`index.idx`")
      .collect().map(_.toString).sorted.toSeq
    assert(r1 == r2)
    assert(new java.io.File(dir).listFiles().nonEmpty)
    // cache-hit proof (as BM25): emptied corpus + same fingerprint still
    // serves the persisted lookup frame
    val r3 = engine(li.filter(col("idx") < 0))(queries)
      .select("qid", "`index.idx`").collect().map(_.toString).sorted.toSeq
    assert(r3 == r1, "reload must serve the persisted lookup, not recompute")
  }

  test("PQ fixed-codebook state key is a 16-hex-digit content digest") {
    val corpus = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").as("idx"), col("embedding").as("vector"))
    def key(books: Seq[Seq[Seq[Double]]]) =
      PQDenseEngine(corpus, fixedCodebooks = Some(books)).params("fixedBooks")
    val booksA = Seq(Seq(Seq(1.0, 2.0)), Seq(Seq(3.0, 4.0)))
    val booksB = Seq(Seq(Seq(1.0, 2.0)), Seq(Seq(3.0, 5.0)))
    val ka = key(booksA)
    assert(ka == key(booksA) && ka != key(booksB))
    assert(ka.length == 16 &&
      ka.forall(c => c.isDigit || ('a' to 'f').contains(c)), ka)
  }

  test("BM25 stats persist without a stateDir: postings cached, n equals the corpus") {
    val docs = spark.read.parquet(sf("documents"))
    val eng = BM25Engine(docs, SearchConfig(k = 5, queryIdCol = Some("qid")),
      corpusIdxCol = "doc_id", corpusTextCol = "text")
    val lvl = eng.stats.postings.storageLevel
    assert(lvl.useMemory && lvl.useDisk, lvl.toString)
    assert(eng.stats.n == docs.count())
  }

  test("fixed-codebook PQ state: a second engine hits the persisted entries") {
    val dir = Files.createTempDirectory("graft-pqhit").toString
    val emb = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").cast("long").as("idx"), col("embedding").as("vector"))
    def engine() = PQDenseEngine(emb, m = 8, codebookSize = 16,
      config = SearchConfig(k = 5, fillMaskedIndices = false,
        queryIdCol = Some("qid")),
      fixedCodebooks = Some(PQDenseEngine.formulaCodebooks(8, 16, 8)),
      stateDir = Some(dir), corpusFingerprint = "pq-hit-fp")
    val queries = emb.filter(col("idx") < 3)
      .select(col("idx").as("qid"), col("vector").as("query.vector"))
    def run() = engine()(queries).select(col("qid"), col("`index.idx`"))
      .orderBy("qid").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val r1 = run()
    val entries = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_tmp"))
    // a hit never rewrites content, but CachedStage.apply touches the
    // entry dir's mtime: the proof is the contained files' (path, mtime)
    def files() = entries.flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toSet
    val before = files()
    val r2 = run()
    assert(entries.nonEmpty && files() == before && r1 == r2)
  }
}

package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Filtered ANN (FAISS `IDSelector` / vector-DB payload-filter
  * capability): predicate-restricted search over the brute-force, IVF,
  * and IVF-PQ engines — exactness vs a pre-filtered corpus, probe/filter
  * composition, the fill-disabled rule, and the query-time (state-key
  * invariant) contract of the member predicate.
  */
class FilteredSearchSpec extends SparkSpec {
  import spark.implicits._

  // corpus keeps the `label` payload column alongside the vector
  private def corpus = spark.read.parquet(sf("embeddings"))
    .select(col("vec_id").as("idx"), col("embedding").as("vector"),
      col("label"))

  private def queries(n: Int) = spark.read.parquet(sf("embeddings"))
    .filter(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))

  private val cfg = SearchConfig(k = 10, fillMaskedIndices = false,
    queryIdCol = Some("qid"))

  private val pred = col("label") % 3 === 1

  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("qid"), col("`index.idx`"),
      transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq

  test("filtered brute force equals brute force over the pre-filtered corpus") {
    val filtered = BruteForceDenseEngine(corpus, cfg,
      corpusFilter = Some(pred))(queries(8))
    val manual = BruteForceDenseEngine(corpus.filter(pred), cfg)(queries(8))
    assert(ranked(filtered) == ranked(manual))
  }

  test("filtered IVF at nprobe = nlist equals filtered brute force exactly") {
    // total probe makes the candidate set total, so the payload filter is
    // the only restriction — IVF filtered must equal brute filtered
    val brute = BruteForceDenseEngine(corpus, cfg,
      corpusFilter = Some(pred))(queries(8))
    val ivf = IVFDenseEngine(corpus, nlist = 6, nprobe = 6, cfg,
      carryCols = Seq("label"), memberFilter = Some(pred))(queries(8))
    assert(ranked(ivf) == ranked(brute))
  }

  test("filtered IVF-PQ equals a pinned-state IVF-PQ built over the filtered corpus") {
    // per-row tagging and encoding are independent, so with BOTH
    // quantizers pinned, filtering members of the full index must equal
    // building the same pinned index over only the filtered rows
    val cents = IVFDenseEngine.formulaCentroids(4, 64)
    val books = PQDenseEngine.formulaCodebooks(8, 16, 8)
    val full = IVFPQDenseEngine(corpus, nlist = 4, nprobe = 2, m = 8,
      codebookSize = 16, cfg, fixedCentroids = Some(cents),
      fixedCodebooks = Some(books),
      carryCols = Seq("label"), memberFilter = Some(pred))(queries(8))
    val pre = IVFPQDenseEngine(corpus.filter(pred), nlist = 4, nprobe = 2,
      m = 8, codebookSize = 16, cfg, fixedCentroids = Some(cents),
      fixedCodebooks = Some(books))(queries(8))
    assert(ranked(full) == ranked(pre))
    // every returned idx satisfies the predicate (idx ≡ vec_id, and the
    // fixture's label is a function of the row)
    val lbl = corpus.select(col("idx").cast("long"), col("label"))
      .as[(Long, Int)].collect().toMap
    val idxs = full.select(explode(col("`index.idx`")).as("i"))
      .select(col("i").cast("long")).as[Long].collect()
    assert(idxs.nonEmpty && idxs.forall(i => lbl(i) % 3 == 1))
  }

  test("masked-index fill is disabled under a filter — padding stays -1") {
    // a narrow filter + tiny probed set yields short results; fill would
    // replace -1 by pseudo-random ids that may VIOLATE the predicate, so
    // the engine must leave the padding alone even when fill is requested
    val fillCfg = cfg.copy(fillMaskedIndices = true)
    val narrow = IVFDenseEngine(corpus, nlist = 6, nprobe = 1, fillCfg,
      carryCols = Seq("label"), memberFilter = Some(col("label") === 999))
    val out = narrow(queries(4))
      .select(explode(col("`index.idx`")).as("i"))
      .select(col("i").cast("long")).as[Long].collect()
    assert(out.nonEmpty && out.forall(_ == -1L),
      s"expected only -1 padding under an empty filter, got ${out.toSeq}")
  }

  test("the member filter is query-time: filtered search reuses the unfiltered persisted state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-filter").toString
    val fp = "filterspec-corpus"
    def eng(f: Option[org.apache.spark.sql.Column]) =
      IVFDenseEngine(corpus, nlist = 4, nprobe = 4, cfg,
        fixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)),
        stateDir = Some(dir), corpusFingerprint = fp,
        carryCols = Seq("label"), memberFilter = f)
    eng(None)(queries(4)).collect()
    val afterBuild = new java.io.File(dir).listFiles().length
    // same stateDir, now with a predicate: must HIT the same centroids +
    // tagged caches (the filter, like nprobe, selects from the built
    // index) — no new state dirs may appear
    val filtered = eng(Some(pred))(queries(4))
    assert(ranked(filtered) == ranked(IVFDenseEngine(corpus.filter(pred),
      nlist = 4, nprobe = 4, config = cfg,
      fixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)))(queries(4))))
    assert(new java.io.File(dir).listFiles().length == afterBuild,
      "memberFilter must not fork the persisted index state")
    // carryCols DO fork it: the payload lives inside the tagged frame
    val forked = IVFDenseEngine(corpus, nlist = 4, nprobe = 4, cfg,
      fixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)),
      stateDir = Some(dir), corpusFingerprint = fp)
    forked(queries(4)).collect()
    assert(new java.io.File(dir).listFiles().length > afterBuild,
      "different carryCols must fork the persisted index state")
  }

  test("incremental add and rebalance carry the payload columns through") {
    val cents = IVFDenseEngine.formulaCentroids(4, 64)
    val base = IVFDenseEngine(corpus.filter(col("idx") % 3 =!= 0),
      nlist = 4, nprobe = 4, cfg, fixedCentroids = Some(cents),
      carryCols = Seq("label"), memberFilter = Some(pred))
    val grown = base.addVectors(corpus.filter(col("idx") % 3 === 0))
    val whole = IVFDenseEngine(corpus, nlist = 4, nprobe = 4, cfg,
      fixedCentroids = Some(cents),
      carryCols = Seq("label"), memberFilter = Some(pred))
    assert(ranked(grown(queries(6))) == ranked(whole(queries(6))))
    val rebalanced = grown.rebalance(
      newFixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)
        .map(_.map(_ * 1.0))))
    assert(ranked(rebalanced(queries(6))) == ranked(whole(queries(6))))
  }

  test("registry threads memberFilter/carryCols opts to the dense engines") {
    val viaRegistry = AutoSearchEngine("dense_ivf", corpus, cfg,
      Map("memberFilter" -> "label % 3 = 1", "carryCols" -> "label"))
    val direct = IVFDenseEngine(corpus, config = cfg,
      carryCols = Seq("label"), memberFilter = Some(pred))
    assert(ranked(viaRegistry(queries(6))) == ranked(direct(queries(6))))
    val viaDense = AutoSearchEngine("dense", corpus, cfg,
      Map("memberFilter" -> "label % 3 = 1"))
    assert(ranked(viaDense(queries(6))) ==
      ranked(BruteForceDenseEngine(corpus.filter(pred), cfg)(queries(6))))
  }

  test("filtered IVF: the member predicate restricts results and reaches the persisted state scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-filter").toString
    val eng = IVFDenseEngine(corpus, nlist = 4, nprobe = 2, cfg,
      fixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)),
      stateDir = Some(dir), corpusFingerprint = "ivf-filter-pushdown",
      carryCols = Seq("label"), memberFilter = Some(pred))
    val out = eng(queries(6))
    out.collect() // the tagged state is parquet on disk after the first run
    val plan = eng(queries(6)).queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*label[^\\]]*\\].*"), plan)
    val label = corpus.select(col("idx").cast("long"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val idxs = out.select(explode(col("`index.idx`")).as("i"))
      .select(col("i").cast("long")).collect().map(_.getLong(0))
    assert(idxs.nonEmpty && idxs.forall(i => label(i) % 3 == 1))
  }
}

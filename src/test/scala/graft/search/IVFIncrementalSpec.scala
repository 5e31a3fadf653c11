package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IVFIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus() = spark.read.parquet(sf("embeddings"))
    .select(col("vec_id").as("idx"), col("embedding").as("vector"))

  private def queries() = spark.read.parquet(sf("embeddings"))
    .filter(col("vec_id") < 6)
    .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))

  private val cfg = SearchConfig(k = 8, fillMaskedIndices = false,
    queryIdCol = Some("qid"))
  private val cents = IVFDenseEngine.formulaCentroids(8, 64)

  test("addVectors == fixed-centroid build over the union, pruned search") {
    val all = corpus()
    val base = all.filter(col("idx") % 3 =!= 0)
    val extra = all.filter(col("idx") % 3 === 0)

    val full = IVFDenseEngine(all, nlist = 8, nprobe = 3, config = cfg,
      fixedCentroids = Some(cents))
    val inc = IVFDenseEngine(base, nlist = 8, nprobe = 3, config = cfg,
      fixedCentroids = Some(cents)).addVectors(extra)

    val a = full(queries()).orderBy("qid").collect()
    val b = inc(queries()).orderBy("qid").collect()
    assert(a.sameElements(b))
  }

  test("addVectors from a KMeans-built base pins the fitted centroids") {
    val all = corpus()
    val base = all.filter(col("idx") % 2 === 0)
    val extra = all.filter(col("idx") % 2 =!= 0)
    val baseEng = IVFDenseEngine(base, nlist = 4, nprobe = 4, config = cfg)
    val inc = baseEng.addVectors(extra)
    // pinned quantizer: the incremental engine's centroids ARE the base's
    val c0 = baseEng.centroids.orderBy("cid").collect()
    val c1 = inc.centroids.orderBy("cid").collect()
    assert(c0.map(_.getSeq[Double](1)).toSeq == c1.map(_.getSeq[Double](1)).toSeq)
    // nprobe = nlist: exact search, so results == brute force over union
    val bf = BruteForceDenseEngine(all, config = cfg)
    assert(inc(queries()).orderBy("qid").collect()
      .sameElements(bf(queries()).orderBy("qid").collect()))
    // index covers base + extra
    assert(inc.tagged.count() == all.count())
  }

  test("baseTagged without fixedCentroids is refused") {
    val all = corpus()
    intercept[IllegalArgumentException] {
      IVFDenseEngine(all, nlist = 4, config = cfg,
        baseTagged = Some(all.limit(1)))
    }
  }

  test("addVectors with stateDir but no fingerprint is refused") {
    // an unchanged state key would serve a previous add's cached tagged
    // frame — the engine must demand a content fingerprint instead
    val all = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf-add-fp").toString
    val base = IVFDenseEngine(all.filter(col("idx") % 2 === 0), nlist = 8,
      nprobe = 3, config = cfg, fixedCentroids = Some(cents),
      stateDir = Some(dir), corpusFingerprint = "base-v1")
    intercept[IllegalArgumentException] {
      base.addVectors(all.filter(col("idx") % 2 =!= 0))
    }
    // with a fingerprint it proceeds (and distinct adds get distinct keys)
    val inc = base.addVectors(all.filter(col("idx") % 2 =!= 0), "base+odd-v1")
    assert(inc.corpusFingerprint == "base+odd-v1")
  }

  test("rebalance shrinks a skewed hot list and preserves exact total-probe search") {
    // base: spread vectors near the pinned centroids' region; adds: 200
    // DIVERSE vectors shifted far outside it (ingest drift) — under the
    // PINNED quantizer they all collapse into whichever list is nearest
    // to the new region, while a retrained quantizer allocates several
    // centroids to their internal structure
    def vec(i: Int): Seq[Float] =
      Seq.tabulate(64)(t => (((i * 13 + t * 7) % 19) - 9).toFloat / 9f)
    val base = (0 until 100).map(i => (i.toLong, vec(i)))
    val hot = (0 until 200).map(i =>
      (1000L + i, vec(i).map(_ + 10f)))
    val df = (base ++ hot).toDF("idx", "vector")
    val pinned = IVFDenseEngine(df.filter(col("idx") < 100), nlist = 8,
      nprobe = 8, config = cfg, fixedCentroids = Some(cents))
      .addVectors(df.filter(col("idx") >= 1000))
    val maxBefore = pinned.listSizes.agg(max("count")).head().getLong(0)
    assert(maxBefore >= 200, "the adds must pile into one pinned list")
    // retrain: seeded KMeans over the FULL standing index
    val rb = pinned.rebalance()
    val maxAfter = rb.listSizes.agg(max("count")).head().getLong(0)
    assert(maxAfter < maxBefore,
      s"rebalance must shrink the hot list ($maxBefore -> $maxAfter)")
    assert(rb.listSizes.agg(sum("count")).head().getLong(0) == 300,
      "re-tag must cover every standing row exactly once")
    // nprobe = nlist: search is exactly invariant under ANY quantizer
    val qs = df.filter(col("idx") < 4)
      .select(col("idx").as("qid"), col("vector").as("query.vector"))
    val a = pinned(qs).orderBy("qid").collect()
    val b = rb.copy(nprobe = 8)(qs).orderBy("qid").collect()
    assert(a.sameElements(b))
    // deterministic variant: caller-pinned new quantizer re-tags by the
    // same argmin rule (the s27 gate replays this path in DuckDB)
    val cents2 = (0 until 8).map(c => (0 until 64).map(t =>
      (((c * 31 + t * 7) % 17) - 8) * 0.05))
    val rb2 = pinned.rebalance(newFixedCentroids = Some(cents2))
    assert(rb2.listSizes.agg(sum("count")).head().getLong(0) == 300)
  }

  test("rebalance with stateDir but no fingerprint is refused") {
    val all = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf-rb-fp").toString
    val eng = IVFDenseEngine(all, nlist = 8, nprobe = 3, config = cfg,
      fixedCentroids = Some(cents), stateDir = Some(dir),
      corpusFingerprint = "rb-v1")
    intercept[IllegalArgumentException] { eng.rebalance() }
    assert(eng.rebalance(fingerprint = "rb-v2").corpusFingerprint == "rb-v2")
  }

  test("removeVectors == pinned build over the survivors, pruned search") {
    val all = corpus()
    val removed = IVFDenseEngine(all, nlist = 8, nprobe = 3, config = cfg,
      fixedCentroids = Some(cents)).removeVectors(col("idx") % 4 === 1)
    val survivors = IVFDenseEngine(all.filter(col("idx") % 4 =!= 1),
      nlist = 8, nprobe = 3, config = cfg, fixedCentroids = Some(cents))
    assert(removed(queries()).orderBy("qid").collect()
      .sameElements(survivors(queries()).orderBy("qid").collect()))
    // the index truly shrank — and the centroids stayed pinned
    assert(removed.tagged.count() == all.filter(col("idx") % 4 =!= 1).count())
    assert(removed.centroids.orderBy("cid").collect()
      .map(_.getSeq[Double](1)).toSeq == cents)
  }

  test("removeVectors composes with addVectors (add then delete some of both)") {
    val all = corpus()
    val eng = IVFDenseEngine(all.filter(col("idx") % 3 =!= 0), nlist = 8,
      nprobe = 8, config = cfg, fixedCentroids = Some(cents))
      .addVectors(all.filter(col("idx") % 3 === 0))
      .removeVectors(col("idx") % 4 === 1)
    // nprobe = nlist: exact, so the survivors' brute force is the oracle
    val bf = BruteForceDenseEngine(all.filter(col("idx") % 4 =!= 1), config = cfg)
    assert(eng(queries()).orderBy("qid").collect()
      .sameElements(bf(queries()).orderBy("qid").collect()))
  }

  test("removeVectors with stateDir but no fingerprint is refused") {
    val all = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf-rm-fp").toString
    val eng = IVFDenseEngine(all, nlist = 8, nprobe = 3, config = cfg,
      fixedCentroids = Some(cents), stateDir = Some(dir),
      corpusFingerprint = "rm-v1")
    intercept[IllegalArgumentException] { eng.removeVectors(col("idx") === 0) }
    assert(eng.removeVectors(col("idx") === 0, fingerprint = "rm-v2")
      .corpusFingerprint == "rm-v2")
  }

  test("removeVectors pushes the NOT filter into the persisted state scan; BM25 remove equals a survivors rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-remove").toString
    val c = SearchConfig(k = 10, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val four = IVFDenseEngine.formulaCentroids(4, 64)
    val qs = queries()
    val base = IVFDenseEngine(corpus(), nlist = 4, nprobe = 2, c,
      fixedCentroids = Some(four), stateDir = Some(dir),
      corpusFingerprint = "ivf-remove")
    base.tagged.count() // warm the persisted state
    val out = base.removeVectors(col("idx") % 4 === 1,
      fingerprint = "ivf-remove-rm")(qs)
    val survivors = IVFDenseEngine(corpus().filter(col("idx") % 4 =!= 1),
      nlist = 4, nprobe = 2, c, fixedCentroids = Some(four))
    assert(out.orderBy("qid").collect()
      .sameElements(survivors(qs).orderBy("qid").collect()))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*(Not|NOT)[^\\]]*\\].*"), plan)
    val idxs = out.select(explode(col("`index.idx`")).as("i"))
      .select(col("i").cast("long")).collect().map(_.getLong(0))
    assert(idxs.nonEmpty && idxs.forall(_ % 4 != 1))
    // BM25: removed docs unreachable, statistics shifted to the survivors'
    val docs = spark.read.parquet(sf("documents"))
    val removed = BM25Engine(docs, c, corpusIdxCol = "doc_id",
      corpusTextCol = "text", roundScores = Some(4))
      .removeDocuments(col("docId") % 4 === 1)
    val rebuilt = BM25Engine(docs.filter(col("doc_id") % 4 =!= 1), c,
      corpusIdxCol = "doc_id", corpusTextCol = "text", roundScores = Some(4))
    val textQueries = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("query.text"))
    assert(removed(textQueries).orderBy("qid").collect()
      .sameElements(rebuilt(textQueries).orderBy("qid").collect()))
    assert(removed.stats.n == rebuilt.stats.n &&
      removed.stats.avgdl == rebuilt.stats.avgdl)
  }
}

package graft.search

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AdcTableExpr
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The query path's evaluation shape: ADC tables are built once per query
  * row, the heap top-k reproduces the window top-k it replaced, and a
  * pinned-codebook PQ engine learns its width without a Spark job.
  */
class QueryPathSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SearchConfig(k = 10, fillMaskedIndices = false,
    queryIdCol = Some("qid"))
  private def corpus = spark.read.parquet(sf("embeddings"))
    .select(col("vec_id").as("idx"), col("embedding").as("vector"))
  /** 48 queries: corpus vectors, scaled so they are not the corpus rows. */
  private def queries = spark.read.parquet(sf("embeddings"))
    .filter(col("vec_id") < 48)
    .select(col("vec_id").as("qid"),
      transform(col("embedding"), x => x * 0.5).as("query.vector"))
    .localCheckpoint(true)

  private def tablesBuilt(e: SearchEngine, q: DataFrame): Long = {
    AdcTableExpr.evaluations.reset()
    e(q).collect()
    AdcTableExpr.evaluations.sum()
  }

  test("ADC tables are built once per query row and subspace, never per candidate") {
    val c = corpus
    val q = queries
    val nq = q.count()
    val books = PQDenseEngine.formulaCodebooks(2, 64, 32)
    val cents = IVFDenseEngine.formulaCentroids(4, 64)
    for (residual <- Seq(false, true)) {
      val ivfpq = IVFPQDenseEngine(c, nlist = 4, nprobe = 2, m = 2, codebookSize = 64,
        config = cfg, fixedCodebooks = Some(books), fixedCentroids = Some(cents),
        residual = residual)
      val candidates = ivfpq.ivf.probes(q, "qid").join(ivfpq.taggedCodes, Seq("cid")).count()
      assert(candidates > 4 * nq * 2)
      assert(tablesBuilt(ivfpq, q) <= nq * 2, s"residual = $residual")
    }
    val pq = PQDenseEngine(c, m = 2, codebookSize = 64, config = cfg,
      fixedCodebooks = Some(books))
    assert(tablesBuilt(pq, q) <= nq * 2)
  }

  /** Spark jobs started while `body` runs, counted between two marker
    * jobs (the listener bus delivers events in order but late).
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def until(name: String): Seq[String] =
      Iterator.continually(Option(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail(s"no job-start event for $name")))
        .takeWhile(_ != name).toSeq
    sc.addSparkListener(listener)
    try {
      marker("query-path-start")
      body
      marker("query-path-end")
      until("query-path-start")
      until("query-path-end").size
    } finally sc.removeSparkListener(listener)
  }

  test("pinned codebooks fix the PQ width: an add probes nothing, a wrong width raises") {
    val c = corpus
    val base = IVFPQDenseEngine(c.filter(col("idx") % 3 =!= 0), nlist = 4, nprobe = 2,
      m = 8, codebookSize = 16, config = cfg,
      fixedCodebooks = Some(PQDenseEngine.formulaCodebooks(8, 16, 8)),
      fixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)))
    base.pq.codebooks
    val added = base.addVectors(c.filter(col("idx") % 3 === 0))
    var dim = 0
    assert(jobsDuring { dim = added.pq.dim } == 0)
    assert(dim == 64)
    // the add searches like before: its own rows are found
    val q = c.filter(col("idx") === 3).select(col("idx").as("qid"), col("vector").as("query.vector"))
    assert(added(q).select("`index.idx`").head().getSeq[Long](0).contains(3L))

    // a vector of another width fails the first action, never encodes
    val wrong = c.filter(col("idx") < 4).withColumn("vector",
      when(col("idx") === 2, slice(col("vector"), 1, 32)).otherwise(col("vector")))
    val bad = base.addVectors(wrong)
    val e = intercept[Exception](bad.pq.codesOwn.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("of width 32 in an index of width 64")))
  }

  test("after the first batch, a fused 48-query RRF batch runs in at most 3 jobs") {
    val docs = spark.read.parquet(sf("documents"))
    val bm25 = BM25Engine(docs, cfg, corpusIdxCol = "doc_id", corpusTextCol = "text",
      roundScores = Some(4))
    val ivfpq = IVFPQDenseEngine(corpus, nlist = 4, nprobe = 2, m = 2, codebookSize = 16,
      config = cfg, residual = true,
      fixedCodebooks = Some(PQDenseEngine.formulaCodebooks(2, 16, 32)),
      fixedCentroids = Some(IVFDenseEngine.formulaCentroids(4, 64)))
    val q = queries.join(docs.select(col("doc_id").as("qid"),
      array_join(slice(split(col("text"), " "), 1, 4), " ").as("query.text")), Seq("qid"))
      .localCheckpoint(true)
    assert(q.count() == 48)
    val fusion = RRFFusionPipe(Seq(bm25, ivfpq), cfg, rrfK = 60.0)
    val first = fusion(q).collect()
    var again: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsDuring { again = fusion(q).collect() }
    assert(jobs <= 3, s"$jobs jobs")
    assert(again.map(HofForms.bits).toSeq == first.map(HofForms.bits).toSeq)
  }

  private case class TopKCase(k: Int, cands: Seq[(Long, java.lang.Double)])

  /** Candidate lists with unique ids whose scores tie often and include
    * null, NaN, -0.0, 0.0 and both infinities.
    */
  private val genCase: Gen[TopKCase] = for {
    k <- Gen.oneOf(1, 2, 3, 5, 20)
    n <- Gen.choose(0, 14)
    ids <- Gen.pick(n, 0L until 30L)
    scores <- Gen.listOfN(n, Gen.frequency[java.lang.Double](
      1 -> Gen.const(null), 1 -> Gen.const(Double.NaN), 1 -> Gen.const(-0.0),
      1 -> Gen.const(0.0), 1 -> Gen.const(Double.PositiveInfinity),
      1 -> Gen.const(Double.NegativeInfinity), 2 -> Gen.const(1.0),
      4 -> Gen.choose(-3, 3).map(v => Double.box(v * 0.5))))
  } yield TopKCase(k, ids.toSeq.zip(scores))

  test("heap top-k equals the window top-k (100 generated cases: ties, null, NaN, +-0)") {
    val cases = (0 until 100).flatMap(i => genCase(Gen.Parameters.default, Seed(700L + i)))
    assert(cases.size == 100, "generator should not fail")
    val all = cases.flatMap(_.cands.map(_._2))
    assert(all.contains(null) && all.exists(d => d != null && d.isNaN))
    assert(all.exists(d => d != null && d == 0.0 && 1 / d < 0) &&
      all.exists(d => d != null && d == 0.0 && 1 / d > 0))
    assert(cases.exists(_.cands.isEmpty))
    cases.zipWithIndex.groupBy(_._1.k).foreach { case (k, group) =>
      val stamped = group.map(_._2.toLong).toDF("qid")
      val exploded = group.flatMap { case (c, i) =>
        c.cands.map { case (idx, s) => (i.toLong, idx, s) } }.toDF("qid", "idx", "score")
      def run(f: (DataFrame, DataFrame, String, Int) => DataFrame) =
        f(stamped, exploded, "qid", k).orderBy("qid").collect().map(HofForms.bits).toSeq
      val got = run(SearchEngine.collapseTopK)
      val want = run(HofForms.collapseTopK)
      got.zip(want).foreach { case (g, w) => assert(g == w, s"k = $k") }
      assert(got.size == want.size && got.size == group.size)
    }
  }
}

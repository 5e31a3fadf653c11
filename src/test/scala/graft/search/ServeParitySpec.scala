package graft.search

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties: the broadcast-served query path of IVF-PQ and BM25 answers
  * exactly like the partitioned join plan it replaces under the broadcast
  * cap (`searchJoined`, the plan that still serves above it).
  *
  * IVF-PQ: bit for bit over 100 generated corpora (0–24 vectors of width
  * 4, 6 or 8 on a coarse grid, so probe and candidate scores tie often),
  * with and without residual codes, rotation and a member filter, nprobe
  * below and equal to nlist, and queries that are null, short, hold a
  * null element or are floats.
  *
  * BM25: over 100 generated corpora of short texts from an 8-word
  * vocabulary (with punctuation, empty and null texts), with an aux field,
  * a filter key, temperature, rounding, a df cut and deletes, and queries
  * with repeated, unknown and null terms. Ids and scores match exactly
  * when scores are rounded; unrounded, the join plan's sum order is
  * unspecified, so every candidate is compared with its score within
  * 1e-12 relative.
  */
class ServeParitySpec extends SparkSpec {
  import spark.implicits._

  private type Answers = Seq[(Long, List[Long], List[Long])]

  /** Per query: ids and the scores' bit patterns (null as a fixed tag). */
  private def answers(df: DataFrame): Answers =
    df.select(col("qid"), col("__new_idx__"), col("__new_score__")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Any](2).map {
          case null => Long.MinValue
          case d: Double => java.lang.Double.doubleToLongBits(d)
        }.toList))
      .sortBy(_._1).toSeq

  private val grid = Gen.choose(-2, 2).map(_ * 0.5)
  private def vec(dim: Int): Gen[Seq[Double]] = Gen.listOfN(dim, grid)

  // ---------------------------------------------------------------- IVF-PQ

  private case class PqCase(dim: Int, m: Int, ks: Int, nlist: Int, nprobe: Int, k: Int,
      residual: Boolean, rotate: Boolean, filter: Boolean, floatQueries: Boolean,
      corpus: Seq[Seq[Double]], queries: Seq[Option[Seq[java.lang.Double]]],
      books: Seq[Seq[Seq[Double]]], cents: Seq[Seq[Double]], rotation: Seq[Seq[Double]])

  private def query(dim: Int): Gen[Option[Seq[java.lang.Double]]] = Gen.frequency(
    6 -> vec(dim).map(v => Some(v.map(Double.box))),
    1 -> Gen.const(None),
    1 -> vec(dim - 1).map(v => Some(v.map(Double.box))),
    1 -> vec(dim).map(v => Some(v.map(Double.box).updated(0, null))))

  private val genPq: Gen[PqCase] = for {
    dim <- Gen.oneOf(4, 6, 8)
    m <- Gen.oneOf(Seq(1, 2).filter(dim % _ == 0))
    ks <- Gen.oneOf(2, 3, 4)
    nlist <- Gen.choose(1, 4)
    nprobe <- Gen.oneOf(Gen.choose(1, nlist), Gen.const(nlist))
    k <- Gen.oneOf(1, 3, 5, 50)
    residual <- Gen.oneOf(false, true)
    rotate <- Gen.oneOf(false, true)
    filter <- Gen.oneOf(false, true)
    floatQueries <- Gen.frequency(4 -> false, 1 -> true)
    n <- Gen.choose(0, 24)
    corpus <- Gen.listOfN(n, Gen.oneOf(vec(dim), Gen.const(Seq.fill(dim)(0.5))))
    nq <- Gen.choose(1, 6)
    queries <- Gen.listOfN(nq, query(dim))
    books <- Gen.listOfN(m, Gen.listOfN(ks, vec(dim / m)))
    cents <- Gen.listOfN(nlist, Gen.oneOf(vec(dim), Gen.const(Seq.fill(dim)(0.5))))
    rotation <- Gen.listOfN(dim, vec(dim))
  } yield PqCase(dim, m, ks, nlist, nprobe, k, residual, rotate, filter, floatQueries,
    corpus, queries, books, cents, rotation)

  private val pqCases = (0 until 100).flatMap(i => genPq(Gen.Parameters.default, Seed(1900L + i)))

  private def pqEngine(c: PqCase): IVFPQDenseEngine = {
    val corpus = c.corpus.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
      .toDF("idx", "vector", "label")
    IVFPQDenseEngine(corpus, nlist = c.nlist, nprobe = c.nprobe, m = c.m,
      codebookSize = c.ks,
      config = SearchConfig(k = c.k, fillMaskedIndices = false, queryIdCol = Some("qid")),
      fixedCodebooks = Some(c.books), fixedCentroids = Some(c.cents),
      residual = c.residual, rotate = c.rotate,
      fixedRotation = if (c.rotate) Some(c.rotation) else None,
      carryCols = Seq("label"),
      memberFilter = if (c.filter) Some(col("label") =!= 1) else None)
  }

  private def pqQueries(c: PqCase): DataFrame = {
    val q = c.queries.zipWithIndex.map { case (v, i) => (i.toLong, v.orNull) }
      .toDF("qid", "query.vector")
    if (c.floatQueries) q.withColumn("query.vector", col("`query.vector`").cast("array<float>"))
    else q
  }

  test("IVF-PQ served equals the join plan bit for bit (100 generated corpora)") {
    assert(pqCases.size == 100, "generator should not fail")
    Seq[PqCase => Boolean](_.residual, !_.residual, _.rotate, !_.rotate, _.filter,
      c => c.nprobe < c.nlist, c => c.nprobe == c.nlist && c.nlist > 1, _.corpus.isEmpty,
      _.floatQueries, _.queries.contains(None), _.queries.exists(_.exists(_.size < 4)))
      .foreach(p => assert(pqCases.exists(p)))
    var nullScored = 0
    pqCases.zipWithIndex.foreach { case (c, i) =>
      val e = pqEngine(c)
      val q = pqQueries(c)
      val served = answers(e.searchServed(q, "qid"))
      assert(served == answers(e.searchJoined(q, "qid")), s"case $i: $c")
      nullScored += served.count(_._3.contains(Long.MinValue))
    }
    // null and short queries reach null-scored candidates, not empty lists
    assert(nullScored > 0)
  }

  test("IVF-PQ served kernel runs interpreted as it runs generated") {
    pqCases.take(8).foreach { c =>
      val e = pqEngine(c)
      val q = pqQueries(c)
      val want = answers(e.searchJoined(q, "qid"))
      HofForms.bothModes(spark)(assert(answers(e.searchServed(q, "qid")) == want))
    }
  }

  // ------------------------------------------------------------------ BM25

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  private val wordsText: Gen[String] = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n,
    Gen.frequency(6 -> Gen.oneOf(words), 1 -> Gen.oneOf(words).map(_ + ","),
      1 -> Gen.const("--")))).map(_.mkString(" "))
  private val text: Gen[String] = Gen.frequency(
    8 -> wordsText, 1 -> Gen.const(""), 1 -> Gen.const(null))
  private val queryText: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> Gen.oneOf(words.take(5)), 1 -> Gen.const("unknown"))))
      .map(ws => (ws ++ ws.take(1)).mkString(" ")),
    1 -> Gen.const(null), 1 -> Gen.const(""))
  private val lang: Gen[String] = Gen.frequency(3 -> Gen.const("en"), 2 -> Gen.const("de"),
    1 -> Gen.const(null))

  private case class Bm25Case(auxWeight: Double, scaleAux: Boolean, filter: Boolean,
      temperature: Option[Double], round: Option[Int], maxDf: Option[Double], remove: Boolean,
      k: Int, docs: Seq[(String, String)], queries: Seq[(String, String, String)])

  private val genBm25: Gen[Bm25Case] = for {
    auxWeight <- Gen.oneOf(0.0, 0.5, 2.0)
    scaleAux <- Gen.oneOf(false, true)
    filter <- Gen.oneOf(false, true)
    temperature <- Gen.oneOf(None, Some(0.5), Some(3.0))
    round <- Gen.oneOf(None, Some(2), Some(4))
    maxDf <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.const(Some(0.5)))
    remove <- Gen.frequency(4 -> false, 1 -> true)
    k <- Gen.oneOf(1, 3, 5)
    n <- Gen.choose(0, 19)
    // one text at least: a corpus of null texts has no avgdl to build
    first <- Gen.zip(wordsText, lang)
    docs <- Gen.listOfN(n, Gen.zip(text, lang))
    nq <- Gen.choose(1, 6)
    queries <- Gen.listOfN(nq, Gen.zip(queryText, queryText, lang))
  } yield Bm25Case(auxWeight, scaleAux, filter, temperature, round, maxDf, remove,
    // unrounded scores compare with a tolerance, over every candidate
    if (round.isDefined) k else 1000, first +: docs, queries)

  private val bm25Cases = (0 until 100).flatMap(i => genBm25(Gen.Parameters.default, Seed(2900L + i)))

  private def bm25Engine(c: Bm25Case): BM25Engine = {
    val docs = c.docs.zipWithIndex.map { case ((t, l), i) => (3L * i, t, l) }
      .toDF("idx", "text", "lang")
    val e = BM25Engine(docs,
      SearchConfig(k = c.k, fillMaskedIndices = false, queryIdCol = Some("qid")),
      auxWeight = c.auxWeight, scaleAuxWeightByLengths = c.scaleAux,
      temperature = c.temperature, roundScores = c.round, maxDfFraction = c.maxDf,
      filterKey = if (c.filter) Some("lang") else None)
    if (c.remove) e.removeDocuments(col("docId") % 2 === 0) else e
  }

  private def bm25Queries(c: Bm25Case): DataFrame =
    c.queries.zipWithIndex.map { case ((t, a, l), i) => (i.toLong, t, a, l) }
      .toDF("qid", "query.text", "query.aux_text", "query.lang")

  /** Same candidates; scores within 1e-12 relative, each list ranked. */
  private def close(got: Answers, want: Answers): Boolean =
    got.map(_._1) == want.map(_._1) && got.zip(want).forall { case (g, w) =>
      def byId(a: (Long, List[Long], List[Long])) =
        a._2.zip(a._3.map(java.lang.Double.longBitsToDouble)).sortBy(_._1)
      g._2.size == w._2.size && byId(g).zip(byId(w)).forall { case ((gi, gs), (wi, ws)) =>
        gi == wi && math.abs(gs - ws) <= 1e-12 * math.max(1d, math.abs(ws))
      }
    }

  test("BM25 served equals the join plan (100 generated corpora)") {
    assert(bm25Cases.size == 100, "generator should not fail")
    Seq[Bm25Case => Boolean](_.auxWeight > 0, _.filter, _.temperature.isDefined,
      _.round.isDefined, _.round.isEmpty, _.maxDf.isDefined, _.remove,
      _.queries.exists(_._1 == null), _.docs.exists(_._1 == null))
      .foreach(p => assert(bm25Cases.exists(p)))
    var candidates = 0
    bm25Cases.zipWithIndex.foreach { case (c, i) =>
      val e = bm25Engine(c)
      val q = bm25Queries(c)
      val served = answers(e.searchServed(q, "qid"))
      val joined = answers(e.searchJoined(q, "qid"))
      if (c.round.isDefined) assert(served == joined, s"case $i: $c")
      else assert(close(served, joined), s"case $i: $c\n$served\n$joined")
      candidates += served.map(_._2.size).sum
    }
    assert(candidates > 500)
  }

  test("BM25 served kernel runs interpreted as it runs generated") {
    bm25Cases.filter(c => c.round.isDefined && c.filter && c.auxWeight > 0).take(4).foreach { c =>
      val e = bm25Engine(c)
      val q = bm25Queries(c)
      val want = answers(e.searchJoined(q, "qid"))
      HofForms.bothModes(spark)(assert(answers(e.searchServed(q, "qid")) == want))
    }
  }

  // ---------------------------------------------------------------- labels

  test("the one-time index collect runs under `<engine> serve <fingerprint prefix>`") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val c = bm25Cases.head
    val bm25 = bm25Engine(c)
    val ivfpq = pqEngine(pqCases.find(_.corpus.nonEmpty).get)
    bm25.stats
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("outer")
      bm25(bm25Queries(c)).collect()
      ivfpq(pqQueries(pqCases.head)).collect()
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      sc.setJobDescription(null)
      org.apache.spark.sql.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    val labels = seen.toArray.map(_.toString).toSeq
    assert(labels.contains(s"BM25Engine serve ${bm25.fingerprint.take(12)}"), labels)
    assert(labels.contains(s"IVFPQDenseEngine serve ${ivfpq.fingerprint.take(12)}"), labels)
    assert(labels.contains("outer"), labels)
  }

  test("a served engine still java-serializes, and a new instance serves its own index") {
    val c = pqCases.find(c => c.corpus.size > 4 && !c.filter).get
    val e = pqEngine(c)
    val q = pqQueries(c)
    e(q).collect()
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
    out.writeObject(e)
    out.close()
    val removed = e.removeVectors(col("idx") === 0L)
    val ids = removed(q).select(explode(col("`index.idx`"))).collect().map(_.getLong(0))
    assert(!ids.contains(0L))
    assert(answers(removed.searchServed(q, "qid")) == answers(removed.searchJoined(q, "qid")))
  }

  // ----------------------------------------------------------- plan names

  private def servedBy(out: DataFrame, kernel: String): Boolean =
    out.queryExecution.analyzed.toString.contains(kernel)

  test("a served plan names its index by state and parameters, stably across instances") {
    import graft.pipes.DatasetFingerprint
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-key").toString
    val cfg = SearchConfig(k = 3, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val q = Seq((0L, "alpha beta", Seq(0.5, -0.5, 1.0, 0.0)),
      (1L, "gamma", Seq(1.0, 1.0, 0.0, 0.5))).toDF("qid", "query.text", "query.vector")
    def bm25(first: String) = BM25Engine(
      Seq(first, "alpha gamma", "beta beta delta").zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("idx", "text"),
      cfg, roundScores = Some(4), stateDir = Some(dir), corpusFingerprint = first)
    def ivfpq(shift: Double) = IVFPQDenseEngine(
      (0 until 12).map(i => (i.toLong, Seq(i * 0.25 + shift, 1.0 - i * 0.1, 0.5, -0.25 * i)))
        .toDF("idx", "vector"),
      nlist = 2, nprobe = 1, m = 2, codebookSize = 3, config = cfg,
      stateDir = Some(dir), corpusFingerprint = s"v$shift")
    def fp(e: SearchEngine, kernel: String): String = {
      val out = e(q)
      assert(servedBy(out, kernel), out.queryExecution.analyzed)
      DatasetFingerprint.of(out)
    }
    // a fresh instance over the same persisted state broadcasts anew and
    // keys the same; other state or other parameters key differently
    val b = fp(bm25("alpha alpha"), "bm25_serve")
    assert(fp(bm25("alpha alpha"), "bm25_serve") == b)
    assert(fp(bm25("delta eps"), "bm25_serve") != b)
    assert(fp(bm25("alpha alpha").copy(roundScores = Some(2)), "bm25_serve") != b)
    val v = fp(ivfpq(0.0), "ivf_pq_serve")
    assert(fp(ivfpq(0.0), "ivf_pq_serve") == v)
    assert(fp(ivfpq(1.0), "ivf_pq_serve") != v)
    assert(fp(ivfpq(0.0).copy(nprobe = 2), "ivf_pq_serve") != v)
  }

  test("BM25 over the cap by its token count runs the join plan and collects nothing") {
    val c = bm25Cases.find(c => c.round.isDefined && c.docs.size > 4).get
    val e = bm25Engine(c)
    val s = e.stats
    // n * avgdl bounds the posting rows; inflated past the cap
    val big = e.copy(fixedStats = Some(s.copy(n = BM25Engine.BroadcastPostingRowCap + 1,
      avgdl = 1.0)))
    val q = bm25Queries(c)
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val out =
      try {
        val out = big(q)
        out.collect()
        org.apache.spark.sql.graft.ListenerDrain(sc)
        out
      } finally sc.removeSparkListener(listener)
    assert(!servedBy(out, "bm25_serve") && servedBy(out, "Join"))
    assert(!seen.toArray.exists(_.toString.contains(" serve ")), seen)
  }
}

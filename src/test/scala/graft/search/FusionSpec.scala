package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FusionSpec extends SparkSpec {
  import spark.implicits._

  private def rrfAt(r: Int): Double = 1.0 / (60 + r)

  test("rrf fuses two ranked lists by reciprocal rank, ignoring scores") {
    // engine A ranks [1, 2, 3]; engine B ranks [3, 1, 4]
    val df = Seq((Seq(1L, 2L, 3L), Seq(3L, 1L, 4L))).toDF("a", "b")
    val (idx, score) = SearchResultOps.rrf(Seq(col("a"), col("b")), 60.0)
    val row = df.select(idx.as("i"), score.as("s")).head()
    val fused = row.getSeq[Long](0).zip(row.getSeq[Double](1)).toMap
    // 1: ranks (1, 2) -> both engines; 3: ranks (3, 1); 2: A only; 4: B only
    assert(math.abs(fused(1L) - (rrfAt(1) + rrfAt(2))) < 1e-12)
    assert(math.abs(fused(3L) - (rrfAt(3) + rrfAt(1))) < 1e-12)
    assert(math.abs(fused(2L) - rrfAt(2)) < 1e-12)
    assert(math.abs(fused(4L) - rrfAt(3)) < 1e-12)
    // order: ties between {1,3} (same rank multiset) break by idx asc
    assert(row.getSeq[Long](0) == Seq(1L, 3L, 2L, 4L))
  }

  test("rrf skips -1 padding and keeps idx-asc tiebreak") {
    val df = Seq((Seq(7L, -1L, -1L), Seq(9L, -1L, -1L))).toDF("a", "b")
    val (idx, score) = SearchResultOps.rrf(Seq(col("a"), col("b")), 60.0)
    val row = df.select(idx.as("i"), score.as("s")).head()
    // both candidates carry rank 1 in their engine: tie -> idx asc; no -1
    assert(row.getSeq[Long](0) == Seq(7L, 9L))
    assert(row.getSeq[Double](1).forall(s => math.abs(s - rrfAt(1)) < 1e-12))
  }

  test("RRFFusionPipe composes real engines and pads to k") {
    val docs = spark.read.parquet(sf("documents"))
    val emb = spark.read.parquet(sf("embeddings"))
    val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("idx"), col("text"), col("embedding").as("vector"))
      .localCheckpoint()
    val queries = corpus.filter(col("idx") < 3)
      .select(col("idx").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("query.text"),
        col("vector").as("query.vector"))
    val cfg = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val bm25 = BM25Engine(corpus, cfg.copy(k = 10), corpusIdxCol = "idx",
      corpusTextCol = "text", roundScores = Some(4))
    val dense = BruteForceDenseEngine(corpus.select(col("idx"), col("vector")),
      cfg.copy(k = 10))
    val out = RRFFusionPipe(Seq(bm25, dense), cfg)(queries)
      .select(col("qid"), graft.core.Pipe.qcol("index.idx").as("i"),
        graft.core.Pipe.qcol("index.score").as("s"))
      .orderBy("qid").collect()
    assert(out.length == 3)
    out.foreach { r =>
      val is = r.getSeq[Long](1); val ss = r.getSeq[Double](2)
      assert(is.length == 5 && ss.length == 5)
      // a query's own document tops the fused list (rank 1 in both engines)
      assert(is.head == r.getLong(0))
      // fused scores are rank-scale (max possible: 2 engines at rank 1)
      assert(ss.head <= 2 * rrfAt(1) + 1e-12 && ss.head > 0)
      // scores sorted desc over the non-padding prefix
      val real = ss.takeWhile(_ > Double.NegativeInfinity)
      assert(real == real.sorted.reverse)
    }
    // intermediate engine columns are gone
    val cols = RRFFusionPipe(Seq(bm25, dense), cfg)(queries).columns.toSet
    assert(!cols.exists(_.startsWith("__rrf")))
  }

  test("fusion refuses engines with fillMaskedIndices=true") {
    // a filling engine replaces -1 padding with pseudo-random VALID doc
    // ids — those would then earn real rank contributions in the fused
    // result, so construction must fail loudly for both fusion pipes
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("idx", "vector")
    val filling = BruteForceDenseEngine(corpus,
      SearchConfig(k = 5, fillMaskedIndices = true, queryIdCol = Some("qid")))
    val e1 = intercept[IllegalArgumentException] {
      RRFFusionPipe(Seq(filling))
    }
    assert(e1.getMessage.contains("fillMaskedIndices"))
    val e2 = intercept[IllegalArgumentException] {
      WeightedFusionPipe(Seq(filling), Seq(1.0))
    }
    assert(e2.getMessage.contains("fillMaskedIndices"))
  }

  import HofForms.bits

  private def assertSame(df: org.apache.spark.sql.DataFrame,
      got: (org.apache.spark.sql.Column, org.apache.spark.sql.Column),
      want: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)): Unit =
    HofForms.bothModes(spark) {
      val g = df.select(col("id"), got._1, got._2).orderBy("id").collect().map(bits).toSeq
      val w = df.select(col("id"), want._1, want._2).orderBy("id").collect().map(bits).toSeq
      assert(g.size == w.size)
      g.zip(w).foreach { case (a, b) => assert(a == b) }
    }

  private val rnd = new scala.util.Random(41)

  /** A ranked id list of length 0..8 over a small id space (so lists
    * overlap and ranks tie), with -1 padding, nulls and repeats.
    */
  private def ids(): Seq[java.lang.Long] = Seq.fill(rnd.nextInt(9))(rnd.nextInt(20) match {
    case 0 => null
    case 1 | 2 => Long.box(-1L)
    case v => Long.box(v.toLong)
  })

  private def scores(n: Int): Seq[java.lang.Double] = Seq.fill(n)(rnd.nextInt(14) match {
    case 0 => null
    case 1 => Double.box(Double.NaN)
    case 2 => Double.box(-0.0)
    case 3 => Double.box(0.0)
    case 4 => Double.box(Double.NegativeInfinity)
    case 5 => Double.box(Double.PositiveInfinity)
    case 6 | 7 => Double.box(1.0) // ties
    case _ => Double.box(math.round(rnd.nextGaussian() * 100) / 10.0)
  })

  test("rrf kernel equals the HOF form bit-for-bit: padding, nulls, ties") {
    val rows = (1 to 400).map(i => (i.toLong,
      if (i % 50 == 0) null else ids(), ids(), ids()))
    val df = rows.toDF("id", "a", "b", "c")
    for (k <- Seq(60.0, 0.0, 2.5); sides <- Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "c")))
      assertSame(df, SearchResultOps.rrf(sides.map(col), k), HofForms.rrf(sides.map(col), k))
    // a zero divisor raises under ANSI, like Spark's Divide
    val z = Seq((1L, Seq(3L, 4L))).toDF("id", "a")
    intercept[Exception](z.select(SearchResultOps.rrf(Seq(col("a")), -2.0)._1).collect())
    intercept[Exception](z.select(HofForms.rrf(Seq(col("a")), -2.0)._1).collect())
  }

  test("min-max fusion kernel equals the HOF form bit-for-bit: NaN, +-0, nulls, lengths") {
    val rows = (1 to 400).map { i =>
      val (a, b) = (ids(), ids())
      // mostly equal lengths; sometimes the zip pads either side
      val (as, bs) = (scores(a.size + (if (i % 7 == 0) 1 else 0)),
        scores(math.max(0, b.size - (if (i % 11 == 0) 1 else 0))))
      (i.toLong, a, if (i % 60 == 0) null else as, b, bs)
    }
    val df = rows.toDF("id", "ai", "as", "bi", "bs")
    for (ws <- Seq(Seq(0.7, 0.3), Seq(1.0, -2.0), Seq(0.0, 1.0))) {
      val sides = Seq((col("ai"), col("as"), ws(0)), (col("bi"), col("bs"), ws(1)))
      assertSame(df, SearchResultOps.minMaxFuse(sides), HofForms.minMaxFuse(sides))
      assertSame(df, SearchResultOps.minMaxFuse(sides.take(1)), HofForms.minMaxFuse(sides.take(1)))
    }
  }

  test("RRFFusionPipe runs the fusion kernel in one projection, not once per use") {
    val df = Seq((1L, Seq(1L, 2L), Seq(2L, 3L))).toDF("qid", "a", "b").localCheckpoint()
    val fused = Fusion.output(df, SearchResultOps.rrfFused(Seq(col("a"), col("b")), 60.0),
      SearchConfig(k = 3), None, Seq("a", "b"))
    val plan = fused.queryExecution.optimizedPlan.toString
    assert("rrf\\(".r.findAllIn(plan).size == 1, plan)
    assert(fused.select(graft.core.Pipe.qcol("index.idx")).head().getSeq[Long](0) ==
      Seq(2L, 1L, 3L))
  }
}

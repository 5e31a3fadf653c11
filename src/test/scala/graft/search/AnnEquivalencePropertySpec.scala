package graft.search

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties: an inverted-file engine that probes every list
  * (`nprobe = nlist`) answers exactly like its flat counterpart over the
  * same pinned quantizer — non-residual IVF-PQ like flat PQ, IVF-SQ like
  * flat SQ — and the flat engine answers exactly like a plain-Scala ADC
  * scan over its own codes. Generated corpora (1–30 vectors of width 4 or
  * 8 on a coarse grid, so scores tie often), 1–5 queries, 1–5 lists, and
  * for PQ 1–4 subspaces of 2–8 codewords.
  */
class AnnEquivalencePropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Case(dim: Int, m: Int, ks: Int, nlist: Int, k: Int,
      corpus: Seq[Seq[Double]], queries: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], cents: Seq[Seq[Double]])

  private def vec(dim: Int): Gen[Seq[Double]] =
    Gen.listOfN(dim, Gen.choose(-4, 4).map(_ * 0.25))

  private val genCase: Gen[Case] = for {
    dim <- Gen.oneOf(4, 8)
    m <- Gen.oneOf(Seq(1, 2, 4).filter(dim % _ == 0))
    ks <- Gen.oneOf(2, 3, 8)
    nlist <- Gen.choose(1, 5)
    k <- Gen.oneOf(1, 3, 10)
    n <- Gen.choose(1, 30)
    nq <- Gen.choose(1, 5)
    corpus <- Gen.listOfN(n, vec(dim))
    queries <- Gen.listOfN(nq, vec(dim))
    books <- Gen.listOfN(m, Gen.listOfN(ks, vec(dim / m)))
    cents <- Gen.listOfN(nlist, vec(dim))
  } yield Case(dim, m, ks, nlist, k, corpus, queries, books, cents)

  private val cases = (0 until 100).flatMap(i =>
    genCase(Gen.Parameters.default, Seed(800L + i)))

  private def frames(c: Case): (DataFrame, DataFrame) = (
    c.corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("idx", "vector"),
    c.queries.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("qid", "query.vector"))

  private def cfg(c: Case) = SearchConfig(k = c.k, fillMaskedIndices = false,
    queryIdCol = Some("qid"))

  private type Answers = Seq[(Long, List[Long], List[Long])]

  /** Per query: ids and the scores' bit patterns (so -0.0 and 0.0 differ). */
  private def answers(e: SearchEngine, q: DataFrame): Answers =
    e(q).select(col("qid"), col("`index.idx`"), col("`index.score`")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getSeq[Double](2).map(java.lang.Double.doubleToLongBits).toList))
      .sortBy(_._1).toSeq

  /** Left fold from 0d, as the engines' dot kernel sums. */
  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0d) { case (acc, (x, y)) => acc + x * y }

  /** Top-k of `(idx, score)` by score desc (Spark's double order), idx
    * asc, padded with -1 / -Infinity.
    */
  private def topK(scored: Seq[(Long, Double)], k: Int): (List[Long], List[Long]) = {
    val top = scored.sortWith { case ((i1, s1), (i2, s2)) =>
      val c = SQLOrderingUtil.compareDoubles(s1, s2)
      c > 0 || (c == 0 && i1 < i2)
    }.take(k) ++ Seq.fill(math.max(0, k - scored.size))((-1L, Double.NegativeInfinity))
    (top.map(_._1).toList, top.map(s => java.lang.Double.doubleToLongBits(s._2)).toList)
  }

  test("IVF-PQ at nprobe = nlist equals flat PQ, and flat PQ a Scala ADC scan (100 corpora)") {
    assert(cases.size == 100, "generator should not fail")
    cases.zipWithIndex.foreach { case (c, i) =>
      val (corpus, q) = frames(c)
      val flat = PQDenseEngine(corpus, c.m, c.ks, cfg(c), fixedCodebooks = Some(c.books))
      val ivf = IVFPQDenseEngine(corpus, c.nlist, c.nlist, c.m, c.ks, cfg(c),
        fixedCodebooks = Some(c.books), fixedCentroids = Some(c.cents))
      val got = answers(flat, q)
      assert(answers(ivf, q) == got, s"case $i: IVF-PQ differs from flat PQ")
      val codeRows = flat.codes.collect().map(r =>
        (r.getLong(0), (1 to c.m).map(j => r.getInt(j))))
      val dsub = c.dim / c.m
      val want = c.queries.zipWithIndex.map { case (qv, qi) =>
        val tables = (0 until c.m).map(j =>
          c.books(j).map(w => dot(qv.slice(j * dsub, (j + 1) * dsub), w)))
        val scored = codeRows.map { case (idx, cs) =>
          (idx, (0 until c.m).map(j => tables(j)(cs(j))).reduce(_ + _)) }
        val (ids, scores) = topK(scored.toSeq, c.k)
        (qi.toLong, ids, scores)
      }
      assert(got == want, s"case $i: flat PQ differs from the Scala ADC scan")
    }
  }

  test("IVF-SQ at nprobe = nlist equals flat SQ, and flat SQ a Scala ADC scan (100 corpora)") {
    cases.zipWithIndex.foreach { case (c, i) =>
      val (corpus, q) = frames(c)
      val flat = SQDenseEngine(corpus, cfg(c))
      val ivf = IVFSQDenseEngine(corpus, c.nlist, c.nlist, cfg(c),
        fixedCentroids = Some(c.cents))
      val got = answers(flat, q)
      assert(answers(ivf, q) == got, s"case $i: IVF-SQ differs from flat SQ")
      val st = flat.stats.head()
      val (vmin, vdiff) = (st.getSeq[Double](0), st.getSeq[Double](1))
      val codeRows = flat.codes.collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
      val want = c.queries.zipWithIndex.map { case (qv, qi) =>
        val qmin = dot(qv, vmin)
        val qd = qv.zip(vdiff).map { case (x, d) => x * d / 255d }
        val scored = codeRows.map { case (idx, cs) => (idx, qmin + dot(qd, cs.map(_.toDouble))) }
        val (ids, scores) = topK(scored.toSeq, c.k)
        (qi.toLong, ids, scores)
      }
      assert(got == want, s"case $i: flat SQ differs from the Scala ADC scan")
    }
  }
}

package perfbench

import scala.math.BigDecimal.RoundingMode

/** Reference answers computed in plain Scala, without graft. */
object Refs {
  /** Spark's `round(x, p)` on a double: HALF_UP over the decimal form. */
  def round(x: Double, p: Int): Double =
    if (x.isInfinite || x.isNaN) x else BigDecimal(x).setScale(p, RoundingMode.HALF_UP).toDouble

  /** Exact cosine top-k, ties by ascending id. */
  def cosineTopK(vs: Map[Long, Array[Double]], q: Array[Double], k: Int): Seq[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qn = norm(q)
    vs.toSeq.map { case (id, v) =>
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * q(i); i += 1 }
      (id, dot / (norm(v) * qn))
    }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }

  /** Reciprocal-rank fusion: Σ 1/(60 + rank) over the lists holding an id,
    * sorted by score then id, cut to k, padded with -1 / -inf, scores
    * rounded to 6 places.
    */
  def rrf(sides: Seq[Seq[Long]], k: Int, rrfK: Double = 60.0): (Seq[Long], Seq[Double]) = {
    val contribs = sides.flatMap(_.zipWithIndex.collect {
      case (id, pos) if id != -1L => id -> 1d / (rrfK + pos + 1) })
    val fused = contribs.map(_._1).distinct.map { id =>
      id -> contribs.filter(_._1 == id).map(_._2).foldLeft(0d)(_ + _) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
    val pad = k - fused.size
    (fused.map(_._1) ++ Seq.fill(pad)(-1L),
      fused.map(x => round(x._2, 6)) ++ Seq.fill(pad)(Double.NegativeInfinity))
  }
}

/** BM25 (k1 = 1.2, b = 0.75, Lucene idf) over whitespace tokens with ASCII
  * punctuation stripped, scores rounded to 4 places, ties by ascending id.
  */
final class Bm25Ref(docs: Map[Long, String], k1: Double = 1.2, b: Double = 0.75) {
  private def toks(s: String): Seq[String] =
    s.trim.split("\\s+").toSeq.map(_.filterNot(c => c < 128 && "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".indexOf(c) >= 0))
      .filter(_.nonEmpty)
  private val docToks = docs.map { case (id, t) => id -> toks(t) }
  private val tf = docToks.map { case (id, ts) => id -> ts.groupBy(identity).map { case (w, o) => w -> o.size } }
  private val df = docToks.values.flatMap(_.distinct).groupBy(identity).map { case (w, o) => w -> o.size }
  private val n = docs.size.toDouble
  private val avgdl = docToks.values.map(_.size.toLong).sum.toDouble / docs.size

  def scores(query: String): Map[Long, Double] = {
    val qt = toks(query)
    tf.flatMap { case (id, tfs) =>
      val len = docToks(id).size
      val parts = qt.flatMap { t => tfs.get(t).map { f =>
        val idf = math.log(1d + (n - df(t) + 0.5) / (df(t) + 0.5))
        idf * (f * (k1 + 1)) / (f + k1 * ((1 - b) + b * len / avgdl))
      } }
      if (parts.isEmpty) None else Some(id -> Refs.round(parts.sum, 4))
    }
  }

  /** Errors when graft's top-k for `query` is not the reference's. Scores
    * may differ by one rounding step where float summation order moves a
    * value across a rounding boundary; ids must then still be a valid
    * ranking of the reference scores.
    */
  def check(qid: Long, query: String, got: (Seq[Long], Seq[Double]), k: Int): Seq[String] = {
    val s = scores(query)
    val want = s.toSeq.sortBy { case (id, v) => (-v, id) }.take(k)
    val (gi, gs) = got.zipped.filter((id, _) => id != -1L)
    val tol = 1.5e-4
    val ok = gi.size == want.size &&
      gi.zip(gs).forall { case (id, v) => s.get(id).exists(r => math.abs(r - v) <= tol) } &&
      gs.zip(want.map(_._2)).forall { case (x, y) => math.abs(x - y) <= tol } &&
      gi.distinct.size == gi.size &&
      gi.zip(gs).sliding(2).forall {
        case Seq((a, x), (c, y)) => x > y || (x == y && a < c)
        case _ => true
      }
    if (ok) Nil else Seq(s"BM25 top-$k of query $qid differs from the plain-Scala reference: " +
      s"graft ${gi.zip(gs).mkString(",")} reference ${want.mkString(",")}")
  }
}

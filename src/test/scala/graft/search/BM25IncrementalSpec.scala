package graft.search

import graft.SparkSpec
import graft.core.Pipe.qcol
import org.apache.spark.sql.functions._

class BM25IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "spark scales out"), (1L, "duck scales up"),
    (2L, "spark spark joins"), (3L, "late night joins"))
    .toDF("idx", "text")

  private val cfg = SearchConfig(k = 4, fillMaskedIndices = false,
    queryIdCol = Some("qid"))

  test("a corpus with no token (all-null or empty texts) builds; a query finds no document") {
    val allNull = Seq((0L, null: String), (1L, null: String)).toDF("idx", "text")
    val qs = Seq((100L, "spark joins")).toDF("qid", "q")
      .select(col("qid"), col("q").as("query.text"))
    for ((name, docs) <- Seq("all-null" -> allNull, "empty" -> allNull.limit(0))) {
      val e = BM25Engine(docs, cfg)
      assert(e.stats.avgdl == 0d, name)
      // nothing but the masked padding to k: idx -1, score -Infinity
      val got = e(qs).select(qcol("index.idx"), qcol("index.score")).collect()
      assert(got.map(r => (r.getSeq[Long](0), r.getSeq[Double](1))).toSeq ==
        Seq((Seq.fill(cfg.k)(-1L), Seq.fill(cfg.k)(Double.NegativeInfinity))), name)
    }
  }

  test("merged halves reproduce the full-rebuild statistics exactly") {
    val full = BM25Engine(corpus, cfg).stats
    val merged = BM25Stats.merge(
      BM25Engine(corpus.filter(col("idx") % 2 === 0), cfg).stats,
      BM25Engine(corpus.filter(col("idx") % 2 === 1), cfg).stats)
    assert(merged.n == full.n && merged.avgdl == full.avgdl)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged.postings) == rows(full.postings))
    assert(rows(merged.dfreq) == rows(full.dfreq))
    assert(rows(merged.docs) == rows(full.docs))
  }

  test("an engine over merged stats ranks identically to a full rebuild") {
    val qs = Seq((100L, "spark joins")).toDF("qid", "q")
      .select(col("qid"), col("q").as("query.text"))
    def ranked(e: BM25Engine) = e(qs)
      .select(qcol("index.idx").as("i"), qcol("index.score").as("s")).head()
    val full = ranked(BM25Engine(corpus, cfg, roundScores = Some(4)))
    val merged = BM25Stats.merge(
      BM25Engine(corpus.filter(col("idx") % 2 === 0), cfg).stats,
      BM25Engine(corpus.filter(col("idx") % 2 === 1), cfg).stats)
    val inc = ranked(BM25Engine(corpus, cfg, roundScores = Some(4),
      fixedStats = Some(merged)))
    assert(inc.getSeq[Long](0) == full.getSeq[Long](0))
    assert(inc.getSeq[Double](1) == full.getSeq[Double](1))
  }

  test("delta-only terms and overlapping terms both merge document counts") {
    val merged = BM25Stats.merge(
      BM25Engine(corpus.filter(col("idx") < 2), cfg).stats, // spark x1, scales x2
      BM25Engine(corpus.filter(col("idx") >= 2), cfg).stats) // spark x1, joins x2
    val df = merged.dfreq.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("spark") == 2L) // one doc each side
    assert(df("scales") == 2L) // base only
    assert(df("joins") == 2L) // delta only
  }

  test("removed docs reproduce the survivors' full-rebuild statistics exactly") {
    val removed = BM25Stats.remove(
      BM25Engine(corpus, cfg).stats, col("docId") >= 2)
    val rebuilt = BM25Engine(corpus.filter(col("idx") < 2), cfg).stats
    assert(removed.n == rebuilt.n && removed.avgdl == rebuilt.avgdl)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(removed.postings) == rows(rebuilt.postings))
    assert(rows(removed.docs) == rows(rebuilt.docs))
    // df decrements exactly — and terms whose last doc died drop out
    // entirely ("joins"/"late"/"night" lived only in docs 2 and 3)
    assert(rows(removed.dfreq) == rows(rebuilt.dfreq))
    assert(!removed.dfreq.collect().map(_.getString(0)).contains("joins"))
  }

  test("an engine after removeDocuments ranks identically to a survivors rebuild") {
    val qs = Seq((100L, "spark scales")).toDF("qid", "q")
      .select(col("qid"), col("q").as("query.text"))
    def ranked(e: BM25Engine) = e(qs)
      .select(qcol("index.idx").as("i"), qcol("index.score").as("s")).head()
    val a = ranked(BM25Engine(corpus, cfg, roundScores = Some(4))
      .removeDocuments(col("docId") % 2 === 1))
    val b = ranked(BM25Engine(corpus.filter(col("idx") % 2 === 0), cfg,
      roundScores = Some(4)))
    assert(a.getSeq[Long](0) == b.getSeq[Long](0))
    assert(a.getSeq[Double](1) == b.getSeq[Double](1))
  }

  test("removing every document leaves empty, n=0 statistics (no crash)") {
    val gone = BM25Stats.remove(BM25Engine(corpus, cfg).stats, lit(true))
    assert(gone.n == 0L && gone.avgdl == 0d)
    assert(gone.postings.count() == 0 && gone.dfreq.count() == 0)
  }
}

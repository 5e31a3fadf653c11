package graft.search

import graft.SparkSpec
import graft.core.Pipe.qcol
import org.apache.spark.sql.functions._

class MaxSimSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 aligns with the query tokens; doc 2 is anti-aligned; doc 3 is
  // aligned on one token only
  private def corpus = Seq(
    (1L, Seq(Seq(1f, 0f), Seq(0f, 1f))),
    (2L, Seq(Seq(-1f, 0f), Seq(0f, -1f))),
    (3L, Seq(Seq(1f, 0f), Seq(-1f, 0f))))
    .toDF("idx", "vectors")

  private def queries = Seq((10L, Seq(Seq(1f, 0f), Seq(0f, 1f))))
    .toDF("qid", "qvs")
    .select(col("qid"), col("qvs").as("query.vectors"))

  private val cfg = SearchConfig(k = 3, fillMaskedIndices = false,
    queryIdCol = Some("qid"))

  test("maxsim = sum over query tokens of best doc-token dot") {
    val out = MaxSimEngine(corpus, cfg)(queries)
      .select(qcol("index.idx").as("i"), qcol("index.score").as("s")).head()
    // doc1: 1 + 1 = 2; doc3: 1 + 0 = 1; doc2: 0 + 0 = 0
    assert(out.getSeq[Long](0) == Seq(1L, 3L, 2L))
    assert(out.getSeq[Double](1) == Seq(2.0, 1.0, 0.0))
  }

  test("re-rank mode scores ONLY the previous engine's candidates") {
    val withPrev = queries
      .withColumn("index.idx", typedLit(Seq(3L, 2L, -1L)))
      .withColumn("index.score", typedLit(Seq(9.0, 8.0, Double.NegativeInfinity)))
    val out = MaxSimEngine(corpus, cfg)(withPrev)
      .select(qcol("index.idx").as("i"), qcol("index.score").as("s")).head()
    // doc 1 would win but was not proposed; -1 padding is skipped
    assert(out.getSeq[Long](0) == Seq(3L, 2L, -1L))
    assert(out.getSeq[Double](1).take(2) == Seq(1.0, 0.0))
  }

  test("full scan past the broadcast cap is refused without a recall stage") {
    val big = spark.range(BruteForceDenseEngine.BroadcastRowCap + 1)
      .select(col("id").as("idx"),
        array(array(lit(1f))).as("vectors"))
    val e = intercept[IllegalStateException] {
      MaxSimEngine(big, cfg)(queries)
    }
    assert(e.getMessage.contains("recall engine"))
  }

  test("cascade: dense recall then maxsim re-rank (the gate shape)") {
    val flat = corpus.select(col("idx"),
      element_at(col("vectors"), 1).as("vector"))
    val qs = queries.withColumn("query.vector", typedLit(Seq(1f, 0f)))
    val dense = BruteForceDenseEngine(flat, cfg.copy(k = 2))
    val out = IndexPipe(Seq(dense, MaxSimEngine(corpus, cfg.copy(k = 2))))(qs)
      .select(qcol("index.idx").as("i")).head()
    // dense top-2 on [1,0]: docs 1 and 3 (dot 1) beat doc 2 (dot -1);
    // maxsim keeps that candidate set and orders 1 (score 2) over 3 (1)
    assert(out.getSeq[Long](0) == Seq(1L, 3L))
  }

  test("dense recall then maxsim re-rank on real embeddings: self on top, no UDF") {
    def shl(c: org.apache.spark.sql.Column, p: Int) =
      concat(slice(c, lit(p + 1), size(c) - p), slice(c, lit(1), lit(p)))
    val emb = spark.read.parquet(sf("embeddings"))
    val dense = emb.select(col("vec_id").cast("long").as("idx"),
      col("embedding").as("vector"))
    val multi = emb.select(col("vec_id").cast("long").as("idx"),
      array(col("embedding"), shl(col("embedding"), 1)).as("vectors"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("long").as("qid"),
        col("embedding").as("query.vector"),
        array(col("embedding"), shl(col("embedding"), 1)).as("query.vectors"))
    val c = SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val out = IndexPipe(Seq(BruteForceDenseEngine(dense, c.copy(k = 10)),
      MaxSimEngine(multi, c)))(qs)
    val rows = out.select(col("qid"), qcol("index.idx")).collect()
    assert(rows.forall(r => r.getSeq[Long](1).head == r.getLong(0)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") &&
      !plan.toLowerCase.contains("scalaudf"), plan)
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FoldAccentsSpec extends SparkSpec {
  import spark.implicits._

  test("scalar fold: accents stripped, non-decomposables kept, ascii identity") {
    assert(FoldAccents.fold("café Zürich niño") == "cafe Zurich nino")
    assert(FoldAccents.fold("àéîõü ÀÉÎÕÜ ç") == "aeiou AEIOU c")
    // ø and œ have no NFD decomposition — kept, matching strip_accents
    assert(FoldAccents.fold("søme œuvre") == "søme œuvre")
    // ASCII fast path returns the SAME object (no normalizer pass)
    val s = "plain ascii text 123"
    assert(FoldAccents.fold(s) eq s)
  }

  test("expression: codegen'd projection, null-safe, matches scalar fold") {
    val df = Seq(
      (1L, "café au lait"),
      (2L, "Ünïcodé"),
      (3L, null.asInstanceOf[String]),
      (4L, "plain")).toDF("id", "s")
    val out = df.select(col("id"), FoldAccents.expr(col("s")).as("f"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getString(1) == "cafe au lait")
    assert(rows(1).getString(1) == "Unicode")
    assert(rows(2).isNullAt(1)) // generated null check, not ours
    assert(rows(3).getString(1) == "plain")
    // (the local relation above folds at optimize time — that exercised
    // the interpreted eval path; the parquet-backed plan below exercises
    // doGenCode inside a WholeStageCodegen span)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val gen = docs.select(col("doc_id"),
      FoldAccents.expr(concat(col("text"), lit(" café"))).as("f"))
    // `*(n)` marks a WholeStageCodegen span in the simple plan string —
    // the fold_accents projection must sit INSIDE one
    val plan = gen.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("fold_accents") && l.trim.startsWith("*(")), plan)
    val r = gen.orderBy("doc_id").limit(1).collect()(0)
    assert(r.getString(1).endsWith(" cafe"))
  }

  test("sql registration: SELECT fold_accents(...) resolves to the expression") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val out = spark.sql("SELECT fold_accents('café Zürich') AS f").head()
    assert(out.getString(0) == "cafe Zurich")
    // arity is enforced at resolution
    val e = intercept[Exception] {
      spark.sql("SELECT fold_accents('a', 'b')").collect()
    }
    assert(e.getMessage.contains("one argument") ||
      Option(e.getCause).exists(_.getMessage.contains("one argument")))
  }

  test("sql registration: composite kernels resolve and match their pipes") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT html_extract('<p>Hi <b>there</b></p><script>x<y</script>') AS h,
        |  graft_langid('the cat and the dog in the house') AS l,
        |  graft_fingerprint('hello world') AS f,
        |  graft_fingerprint('world hello') AS g""".stripMargin).head()
    assert(r.getString(0) == "Hi there")
    assert(r.getString(1) == "en")
    // order-sensitive: same tokens, different order, different prints
    assert(r.getLong(2) != r.getLong(3))
    // the SQL surface and the Column kernel are the same expression tree
    val df = Seq("the quick brown fox").toDF("text")
    df.createOrReplaceTempView("fa_spec_t")
    val viaSql = spark.sql(
      "SELECT graft_fingerprint(text) AS f FROM fa_spec_t").head().getLong(0)
    val viaCol = df.select(
      graft.llm.TextAnalysisOps.fingerprint(col("text")).as("f"))
      .head().getLong(0)
    assert(viaSql == viaCol)
  }

  test("sql kernel twins equal their column forms on real docs; html_extract stays codegen'd and map-only") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    docs.createOrReplaceTempView("fa_spec_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_langid(text) AS l, graft_fingerprint(text) AS f,
        |  html_extract('<p>' || text || '</p><!--x-->') AS h
        |FROM fa_spec_docs""".stripMargin)
    val viaCol = docs.select(col("doc_id"),
      graft.llm.TextAnalysisOps.languageId(col("text")).as("l"),
      graft.llm.TextAnalysisOps.fingerprint(col("text")).as("f"),
      graft.llm.TextExtractOps.htmlExtract(
        concat(lit("<p>"), col("text"), lit("</p><!--x-->"))).as("h"))
    assert(viaSql.join(viaCol, Seq("doc_id", "l", "f", "h")).count() == docs.count())
    assert(!viaSql.queryExecution.executedPlan.toString.contains("Exchange"))
    // langid/fingerprint are interpreted HOF kernels; the pure-string
    // html_extract chain projected alone stays in a WholeStageCodegen span
    val htmlPlan = spark.sql("SELECT doc_id, html_extract(text) AS h FROM fa_spec_docs")
      .queryExecution.executedPlan.toString
    assert(htmlPlan.linesIterator.exists(_.trim.startsWith("*(")), htmlPlan)
  }
}

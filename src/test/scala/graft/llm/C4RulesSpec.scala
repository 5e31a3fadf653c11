package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class C4RulesSpec extends SparkSpec {
  import spark.implicits._

  private def run(texts: (Long, String)*) =
    C4CleanPipe("text")(texts.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap

  test("c4 line rules: hand-computed survivors, counts, and page flags") {
    val good = "This line has exactly six words.\n" +
      "Short line.\n" + // 2 words -> dropped
      "no terminal punctuation on this line\n" + // dropped
      "Enable javascript to view this page now.\n" + // dropped
      "Another fully valid sentence line right here!\n" +
      "Is this a valid question line?" // kept: ends in ?
    val rows = run(
      1L -> good,
      2L -> "Lorem Ipsum dolor sit amet here today.", // flag, 1 sentence
      3L -> "var x = { a: 1 }; This config page has braces rendered.",
      4L -> "", 5L -> null,
      6L -> "Trailing spaces survive the rtrim rule fine.   ")

    val g = rows(1L)
    assert(g.getAs[Long]("n_lines") == 6L)
    assert(g.getAs[Long]("kept_lines") == 3L)
    assert(g.getAs[String]("text") ==
      "This line has exactly six words.\n" +
        "Another fully valid sentence line right here!\n" +
        "Is this a valid question line?")
    assert(g.getAs[Long]("n_sentences") == 3L)
    assert(g.getAs[Boolean]("rule_min_sentences"))
    assert(!g.getAs[Boolean]("flag_lorem_ipsum"))
    assert(!g.getAs[Boolean]("flag_curly_brace"))
    assert(g.getAs[Boolean]("c4_keep"))

    val l = rows(2L)
    assert(l.getAs[Boolean]("flag_lorem_ipsum")) // case-insensitive
    assert(l.getAs[Long]("n_sentences") == 1L)
    assert(!l.getAs[Boolean]("c4_keep"))

    val b = rows(3L)
    assert(b.getAs[Boolean]("flag_curly_brace"))
    assert(!b.getAs[Boolean]("c4_keep"))

    for (id <- Seq(4L, 5L)) {
      val e = rows(id)
      assert(e.getAs[String]("text") == "")
      assert(e.getAs[Long]("kept_lines") == 0L)
      assert(!e.getAs[Boolean]("c4_keep"))
    }

    // rtrim before the terminal-punct test: trailing blanks don't kill
    assert(rows(6L).getAs[Long]("kept_lines") == 1L)
  }

  test("c4 over real docs: rows preserved, map-only plan, sql twin equal") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val docs = spark.read.parquet(sf("documents"))
    val out = C4CleanPipe("text")(docs)
    assert(out.count() == docs.count())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "c4 clean must be map-only")

    docs.createOrReplaceTempView("c4_sql_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_c4_clean(text) AS t FROM c4_sql_docs")
    val viaPipe = out.select(col("doc_id"), col("text").as("t"))
    assert(viaSql.except(viaPipe).count() == 0)
    assert(viaPipe.except(viaSql).count() == 0)
  }

  test("crawl preset over real docs plans one fused scan with its filters in the scan") {
    val docs = spark.read.parquet(sf("documents"))
      .withColumn("text", regexp_replace(col("text"), " (fast|data) ", ".\n"))
    val pipe = graft.pipes.SequentialPipe(Seq(
      IntraDocLineDedupPipe("text"),
      C4CleanPipe("text"),
      graft.pipes.LambdaPipe(_.filter(col("c4_keep")), "c4_floor"),
      GopherQualityPipe("text")))
    val plan = pipe(docs).select("doc_id", "text", "n_sentences")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && plan.contains("DataFilters"), plan)
  }
}

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  test("span dedup: global first occurrence survives, text rebuilt exactly") {
    val boiler = "One two three. Four five six! Seven eight nine?"
    val df = Seq(
      (1L, s"Unique alpha. $boiler"),
      (2L, s"$boiler Unique beta here. And more. Again."),
      (3L, boiler),
      (4L, "No duplicate content at all. Second sentence. Third one.")
    ).toDF("doc_id", "text")
    val out = SpanDedupPipe("text", "doc_id")(df)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r).toMap

    // doc 1 spans: ["Unique alpha. One two three. Four five six!",
    //               " Seven eight nine?"] — neither matches the full
    // boiler span elsewhere, so doc 1 keeps everything.
    assert(out(1L).getAs[Long]("n_spans_removed") == 0L)
    assert(out(1L).getAs[String]("text") == s"Unique alpha. $boiler")

    // doc 2 span0 == boiler (trimmed key) -> loses to doc 3? No: winner
    // is min (id, pos) and doc 2 < doc 3, so doc 2 KEEPS it, doc 3 loses.
    assert(out(2L).getAs[Long]("n_spans_removed") == 0L)
    assert(out(2L).getAs[String]("text") startsWith boiler)
    assert(out(3L).getAs[Long]("n_spans_removed") == 1L)
    assert(out(3L).getAs[String]("text") == "")

    assert(out(4L).getAs[Long]("n_spans_removed") == 0L)
    assert(out(4L).getAs[String]("text") ==
      "No duplicate content at all. Second sentence. Third one.")
  }

  test("span dedup: hash and exact keys agree; trailing fragment drops") {
    val df = Seq(
      (1L, "A b c. D e f. G h i. Trailing fragment without punct"),
      (2L, "Solo doc. Two sentences here. Third now. Tail")
    ).toDF("doc_id", "text")
    val hashed = SpanDedupPipe("text", "doc_id", hashKey = true)(df)
    val exact = SpanDedupPipe("text", "doc_id", hashKey = false)(df)
    assert(hashed.except(exact).count() == 0)
    assert(exact.except(hashed).count() == 0)
    val r = hashed.orderBy("doc_id").collect()
    assert(r(0).getAs[String]("text") == "A b c. D e f. G h i.")
    assert(r(1).getAs[String]("text") ==
      "Solo doc. Two sentences here. Third now.")
  }

  test("span dedup: empty/null text and no-sentence docs survive as empty") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String]),
      (3L, "no punctuation anywhere")).toDF("doc_id", "text")
    val out = SpanDedupPipe("text", "doc_id")(df)
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[String]("text") == "")
      assert(r.getAs[Long]("n_spans_removed") == 0L)
    }
    assert(out.length == 3)
  }
}

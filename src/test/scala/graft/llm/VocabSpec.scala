package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class VocabSpec extends SparkSpec {
  import spark.implicits._

  test("vocab build: frequency rank with alphabetical tie-break") {
    val df = Seq((1L, "b b b a a c c d")).toDF("doc_id", "text")
    val v = VocabOps.build(df, "text", 3)
      .select("token", "id").orderBy("id").collect()
    // b:3, then a/c tie at 2 -> alphabetical
    assert(v.toSeq == Seq(Row("b", 0), Row("a", 1), Row("c", 2)))
  }

  test("encode: ids in token order, OOV marked, empty docs safe") {
    val df = Seq((1L, "b a b z"), (2L, "a")).toDF("doc_id", "text")
    val vocab = VocabOps.build(df, "text", 2) // b:2 -> 0, a:2 -> 1 (tie: a<b!)
    val out = VocabEncodePipe("text", "doc_id", 2)(df)
      .select("doc_id", "token_ids", "n_oov").orderBy("doc_id").collect()
    // counts: b=2, a=2 -> tie broken alphabetically: a->0, b->1; z OOV
    assert(out(0) == Row(1L, Seq(1L, 0L, 1L, -1L), 1))
    assert(out(1) == Row(2L, Seq(0L), 0))
  }

  test("frozen prebuilt vocab encodes a different corpus") {
    val train = Seq((1L, "a a b")).toDF("doc_id", "text")
    val vocab = VocabOps.build(train, "text", 2) // a->0, b->1
    val fresh = Seq((9L, "b q a")).toDF("doc_id", "text")
    val out = VocabEncodePipe("text", "doc_id", 2,
      prebuilt = Some(vocab))(fresh)
      .select("token_ids").as[Seq[Long]].head()
    assert(out == Seq(1L, -1L, 0L))
  }

  test("round trip on real docs: id decode reproduces in-vocab tokens") {
    val docs = spark.read.parquet(sf("documents"))
    val vocab = VocabOps.build(docs, "text", 25)
    val idToTok = vocab.select("id", "token").as[(Int, String)]
      .collect().toMap
    val enc = VocabEncodePipe("text", "doc_id", 25)(docs)
    val row = enc.filter(col("n_oov") === 0).select("doc_id", "text", "token_ids")
      .orderBy("doc_id").as[(Long, String, Seq[Long])].head()
    val decoded = row._3.map(i => idToTok(i.toInt)).mkString(" ")
    assert(decoded == row._2.trim.split("\\s+").mkString(" "))
  }

  test("encode on real docs: zero-OOV docs decode exactly, vocab probe is broadcast") {
    val docs = spark.read.parquet(sf("documents"))
    val enc = VocabEncodePipe("text", "doc_id", 25)(docs)
    val vocab = VocabOps.build(docs, "text", 25).select("id", "token").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val bad = enc.filter(col("n_oov") === 0).select("text", "token_ids")
      .collect().count { r =>
        r.getSeq[Long](1).map(i => vocab(i.toInt)).mkString(" ") !=
          r.getString(0).trim.split("\\s+").mkString(" ")
      }
    assert(bad == 0)
    assert(enc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }
}

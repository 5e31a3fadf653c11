package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE learn + encode: hand-computed merges, losslessness, and a full
  * differential run against an independent scalar Scala oracle on real
  * docs (the reference's naive-oracle test pattern, SURVEY §5.3 — an
  * iterative fold has no SQL twin, so this surface is spec-verified).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent scalar reimplementation of the pinned semantics: merges
    * in list order, one left-to-right greedy pass each.
    */
  private def scalarEncode(text: String, merges: Seq[(String, String)]): Seq[String] = {
    def onePass(sym: List[String], a: String, b: String): List[String] =
      sym match {
        case x :: y :: rest if x == a && y == b => (a + b) :: onePass(rest, a, b)
        case x :: rest => x :: onePass(rest, a, b)
        case Nil => Nil
      }
    text.trim.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
      merges.foldLeft(w.split("").filter(_.nonEmpty).toList) {
        case (sym, (a, b)) => onePass(sym, a, b)
      }
    }
  }

  test("learn recovers the classic low/lower merges") {
    val corpus = Seq.fill(5)("low").mkString(" ") + " lower lower newest newest"
    val df = Seq((1L, corpus)).toDF("doc_id", "text")
    val merges = BpeOps.learn(df, "text", numMerges = 2)
    // (l,o) appears 7x (tie with (o,w) broken by (a,b) asc), then (lo,w)
    assert(merges == Seq(("l", "o"), ("lo", "w")))
    val out = BpeEncodePipe("text", merges)(Seq((1L, "lowest low"))
      .toDF("doc_id", "text"))
      .select("bpe_tokens").as[Seq[String]].head()
    assert(out == Seq("low", "e", "s", "t", "low"))
  }

  test("greedy left-to-right pass on self-overlapping repeats") {
    val out = BpeEncodePipe("text", Seq(("a", "a")))(
      Seq((1L, "aaa aaaa")).toDF("doc_id", "text"))
      .select("bpe_tokens").as[Seq[String]].head()
    assert(out == Seq("aa", "a", "aa", "aa"))
  }

  test("pretrained merges import: file round-trip, encode identical to learned") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val merges = BpeOps.learn(docs, "text", numMerges = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    val path = s"$dir/merges.txt"
    PretrainedVocab.saveMerges(spark, path, merges)
    // the file is the public shape: #version header + "a b" lines in order
    val lines = scala.io.Source.fromFile(path).getLines().toList
    assert(lines.head.startsWith("#version"))
    assert(lines.tail == merges.map { case (a, b) => s"$a $b" })
    val imported = PretrainedVocab.loadMerges(spark, path)
    assert(imported == merges)
    // byte-identical encode: learned table vs imported table
    val learned = BpeEncodePipe("text", merges)(docs)
      .select("doc_id", "bpe_tokens").collect().map(_.toString).sorted.toSeq
    val frozen = BpeEncodePipe.fromPretrained(spark, "text", path)(docs)
      .select("doc_id", "bpe_tokens").collect().map(_.toString).sorted.toSeq
    assert(learned == frozen)
    // malformed line fails loudly, not by silent mis-split
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.txt"), "a b c\n")
    intercept[IllegalArgumentException] {
      PretrainedVocab.loadMerges(spark, s"$dir/bad.txt")
    }
    // only a LEADING #version line is a header: a '#'-symbol merge (byte-
    // level BPE tables learned on code contain them) must survive
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/hash.txt"),
      "#version: 0.2\n# #\na b\n")
    assert(PretrainedVocab.loadMerges(spark, s"$dir/hash.txt") ==
      Seq(("#", "#"), ("a", "b")))
  }

  test("pretrained vocab import: json + jsonl, frozen ids override the hash") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vocab").toString
    val vocab = Map("the" -> 0, "cat" -> 1, "sat" -> 2)
    // JSONL round-trip through our writer
    PretrainedVocab.saveVocab(spark, s"$dir/vocab.jsonl", vocab)
    assert(PretrainedVocab.loadVocab(spark, s"$dir/vocab.jsonl") == vocab)
    // classic single-object vocab.json
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/vocab.json"),
      """{"the": 0, "cat": 1, "sat": 2}""")
    assert(PretrainedVocab.loadVocab(spark, s"$dir/vocab.json") == vocab)
    // a near-miss JSONL row (space after the brace) still parses as JSONL
    // by content, not by string prefix
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spaced.jsonl"),
      """{ "token": "the", "id": 0 }""" + "\n" +
        """{ "token": "cat", "id": 1 }""" + "\n")
    assert(PretrainedVocab.loadVocab(spark, s"$dir/spaced.jsonl") ==
      Map("the" -> 0, "cat" -> 1))
    // a minified SINGLE-LINE vocab.json whose tokens include the literal
    // words "token" and "id" (true of real GPT-2/RoBERTa vocabs) must go
    // through the single-object parse, not masquerade as one JSONL row
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/minified.json"),
      """{"the": 0, "token": 1, "id": 2, "cat": 3}""")
    assert(PretrainedVocab.loadVocab(spark, s"$dir/minified.json") ==
      Map("the" -> 0, "token" -> 1, "id" -> 2, "cat" -> 3))
    // ...while a legitimate one-row JSONL file (textual `token`) still
    // takes the JSONL branch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/onerow.jsonl"),
      """{"token": "the", "id": 0}""" + "\n")
    assert(PretrainedVocab.loadVocab(spark, s"$dir/onerow.jsonl") ==
      Map("the" -> 0))
    // concatenated objects and non-integer ids raise instead of silently
    // mis-parsing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/concat.json"),
      """{"a": 1}{"b": 2}""")
    intercept[IllegalArgumentException] {
      PretrainedVocab.loadVocab(spark, s"$dir/concat.json")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/badid.json"),
      """{"a": "x"}""")
    intercept[IllegalArgumentException] {
      PretrainedVocab.loadVocab(spark, s"$dir/badid.json")
    }
    // frozen ids apply; unknown tokens fall back to the hash space
    val df = Seq((1L, "the cat sat quickly")).toDF("doc_id", "text")
    val ids = TokenizerPipe.fromPretrained(spark, s"$dir/vocab.jsonl")(df)
      .select("input_ids").as[Seq[Int]].head()
    assert(ids.take(3) == Seq(0, 1, 2))
    val hashId = TokenizerPipe()(df).select("input_ids").as[Seq[Int]].head()(3)
    assert(ids(3) == hashId, "unknown token keeps the rolling-hash id")
  }

  test("special tokens wrap ids/mask/types/offsets with the maxLength budget") {
    val df = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    val base = TokenizerPipe(returnTokenTypeIds = true)(df)
      .select("input_ids").as[Seq[Int]].head()
    val out = TokenizerPipe(returnTokenTypeIds = true, maxLength = Some(5),
      specialTokens = Some((101, 102)))(df)
      .select("input_ids", "attention_mask", "token_type_ids", "offset_mapping")
      .head()
    val ids = out.getSeq[Int](0)
    // budget 5 = bos + 3 tokens + eos (4th word truncated, HF semantics)
    assert(ids == 101 +: base.take(3) :+ 102, s"ids=$ids")
    assert(out.getSeq[Int](1) == Seq.fill(5)(1))
    assert(out.getSeq[Int](2) == Seq.fill(5)(0))
    val offs = out.getSeq[scala.collection.Seq[Int]](3).map(_.toSeq)
    assert(offs.head == Seq(0, 0) && offs.last == Seq(0, 0))
    assert(offs(1) == Seq(0, 2) && offs(3) == Seq(6, 8))
    // a total budget that cannot hold bos+eos is a loud contract error,
    // not 2 silently-emitted tokens
    intercept[IllegalArgumentException] {
      TokenizerPipe(maxLength = Some(1), specialTokens = Some((101, 102)))
    }
  }

  test("encode matches the scalar oracle and is lossless on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val merges = BpeOps.learn(docs, "text", numMerges = 8)
    assert(merges.size == 8) // real text has >= 8 frequent pairs
    val out = BpeEncodePipe("text", merges)(docs)
      .select("doc_id", "text", "bpe_tokens", "n_bpe_tokens")
      .collect()
    out.foreach { r =>
      val expected = scalarEncode(r.getString(1), merges)
      assert(r.getSeq[String](2) == expected, s"doc ${r.getLong(0)}")
      assert(r.getInt(3) == expected.size)
      // lossless: concatenated subwords reproduce the words
      assert(r.getSeq[String](2).mkString ==
        r.getString(1).trim.split("\\s+").filter(_.nonEmpty).mkString)
    }
  }

  test("encode on real docs: 6 merges, lossless, no keyed shuffle") {
    val docs = spark.read.parquet(sf("documents"))
    val merges = BpeOps.learn(docs, "text", numMerges = 6)
    val bp = BpeEncodePipe("text", merges)(docs)
    assert(merges.size == 6)
    assert(bp.filter(concat_ws("", col("bpe_tokens")) =!=
      concat_ws("", split(trim(col("text")), "\\s+"))).count() == 0)
    // the round-robin widen is allowed; a hash or range shuffle is not
    val plan = bp.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning"), plan)
  }

  test("maxLength = 2 with specials emits exactly [bos, eos] on real docs") {
    val ids = TokenizerPipe(maxLength = Some(2), specialTokens = Some((101, 102)))(
      spark.read.parquet(sf("documents")).limit(5))
      .select("input_ids").collect().map(_.getSeq[Int](0).toSeq)
    assert(ids.nonEmpty && ids.forall(_ == Seq(101, 102)))
  }
}

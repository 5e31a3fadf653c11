package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: [[IncrementalMinHashDedupPipe]]'s served form (the band
  * index and shingle sets collected, pairs decided on the driver) returns
  * exactly the pairs of its join form, Jaccard bits included. Generated
  * (corpus, batch) pairs over a small vocabulary: near-duplicates of
  * corpus pages and of other batch pages, pairs whose Jaccard is exactly
  * the threshold, empty, blank and short (no 3-word shingle) texts, null
  * texts and null ids; and caps below the corpus's or the batch's band
  * rows, under which the served form declines and the join form answers.
  * One bucket shared by many templated pages is decided served up to the
  * candidate cap and by the join form above it.
  */
class ServedDedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private val words = (0 until 9).map(i => s"w$i")

  private case class Case(corpus: Seq[(Option[Long], Option[String])],
      batch: Seq[(Option[Long], Option[String])], threshold: Double)

  private val genText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.oneOf(None, Some(""), Some("  "), Some("w1"), Some("w1 w2")),
    6 -> Gen.choose(3, 9).flatMap(Gen.listOfN(_, Gen.oneOf(words))).map(ws => Some(ws.mkString(" "))))

  /** A copy of `t` with its last word replaced (5 words: Jaccard 2/4 =
    * 0.5 against `t` when the shingles are distinct), or dropped.
    */
  private def nearDup(t: Option[String]): Gen[Option[String]] = t match {
    case Some(s) if s.split(" ").length >= 3 => Gen.oneOf(
      Some(s.split(" ").dropRight(1).mkString(" ") + " zz"),
      Some(s.split(" ").dropRight(1).mkString(" ")))
    case other => Gen.const(other)
  }

  /** A 5-word text of distinct words: its near-duplicate ties at 0.5. */
  private val tieText: Gen[Option[String]] = Gen.pick(5, words).map(ws => Some(ws.mkString(" ")))

  private def withIds(texts: Seq[Option[String]], from: Long, nullId: Boolean) =
    texts.zipWithIndex.map { case (t, i) => (if (nullId && i == 0) None else Some(from + i), t) }

  private val genCase: Gen[Case] = for {
    nc <- Gen.choose(0, 12)
    corpusTexts <- Gen.listOfN(nc, Gen.frequency(4 -> genText, 1 -> tieText))
    nb <- Gen.choose(0, 10)
    fresh <- Gen.listOfN(nb, Gen.frequency(4 -> genText, 1 -> tieText))
    // near-duplicates of corpus pages and of the batch's own pages
    crossDups <- Gen.sequence[List[Option[String]], Option[String]](
      corpusTexts.take(3).map(nearDup))
    withinDups <- Gen.sequence[List[Option[String]], Option[String]](fresh.take(3).map(nearDup))
    nullIds <- Gen.oneOf(false, true)
    threshold <- Gen.frequency(4 -> Gen.const(0.5), 1 -> Gen.oneOf(0.3, 0.8))
  } yield Case(withIds(corpusTexts, 0L, nullIds),
    withIds(fresh ++ crossDups ++ withinDups, 1000L, nullIds), threshold)

  /** (id_a, id_b, jaccard bits, pair_src), sorted. */
  private def rows(pairs: Seq[Row]): Seq[String] = pairs.map(r =>
    Seq(r.get(0), r.get(1), java.lang.Double.doubleToLongBits(r.getDouble(2)), r.get(3))
      .mkString("|")).sorted

  test("served dedup equals the join form on 100 generated corpus and batch pairs") {
    val cache = java.nio.file.Files.createTempDirectory("graft-served-dedup").toString
    val cases = (0 until 100).map(i => genCase.pureApply(Gen.Parameters.default, Seed(4200L + i)))
    var ties, within, cross = 0
    cases.zipWithIndex.foreach { case (c, i) =>
      val corpus = c.corpus.toDF("doc_id", "text")
      val batch = c.batch.toDF("doc_id", "text")
      val pipe = IncrementalMinHashDedupPipe("text", "doc_id", corpus, "text", "doc_id",
        jaccardThreshold = c.threshold, cacheDir = Some(s"$cache/$i"))
      val want = rows(pipe.joined(batch).collect().toSeq)
      val got = pipe.servedPairs(batch).map(rows)
      assert(got.contains(want), s"case $i: $c\nserved $got\njoined $want")
      ties += want.count(_.contains(s"|${java.lang.Double.doubleToLongBits(c.threshold)}|"))
      within += want.count(_.endsWith("|batch"))
      cross += want.count(_.endsWith("|cross"))
      // the pipe answers with the served pairs
      assert(rows(pipe(batch).collect().toSeq) == want, s"case $i")
      // under caps below either side's band rows the served form declines
      // (every text has a shingle: a short or null one hashes whole)
      val corpusBands = c.corpus.size * 32L
      if (corpusBands > 0) assert(pipe.servedPairs(batch, cap = corpusBands - 1).isEmpty, s"case $i")
      val batchBands = c.batch.count(_._1.isDefined) * 32L
      if (batchBands > corpusBands)
        assert(pipe.servedPairs(batch, cap = batchBands - 1).isEmpty, s"case $i")
    }
    assert(ties > 0 && within > 0 && cross > 0, s"ties $ties, within $within, cross $cross")
  }

  test("one bucket shared by many documents: served pairs equal the join form's up to the candidate cap, the join form answers above it") {
    val cache = java.nio.file.Files.createTempDirectory("graft-served-skew").toString
    val template = (0 until 40).map(i => s"t$i").mkString(" ")
    // templated pages: every band puts all copies in one bucket
    val corpus = ((0 until 30).map(i => (i.toLong, template)) ++
      (30 until 40).map(i => (i.toLong, s"other page $i with words of its own"))).toDF("doc_id", "text")
    val pipe = IncrementalMinHashDedupPipe("text", "doc_id", corpus, "text", "doc_id",
      cacheDir = Some(cache))
    val batch = ((0 until 40).map(i => (1000L + i, template)) :+ (5000L, "a fresh page here"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val want = rows(pipe.joined(batch).collect().toSeq)
    assert(want.size == 40 * 30 + 40 * 39 / 2)
    // 32 bands: 40 copies against a 30-page corpus bucket, 40² within
    // the batch's bucket, and the fresh page alone in its own
    val checks = 40L * 30 * 32 + 40L * 40 * 32 + 32
    assert(pipe.servedPairs(batch, candidateCap = checks).map(rows).contains(want))
    assert(pipe.servedPairs(batch, candidateCap = checks - 1).isEmpty)
    assert(checks <= IncrementalMinHashDedupPipe.ServedCandidateCap)
    assert(rows(pipe(batch).collect().toSeq) == want)
  }

  test("without a signature cache the join form answers") {
    val corpus = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d x")).toDF("doc_id", "text")
    val pipe = IncrementalMinHashDedupPipe("text", "doc_id", corpus, "text", "doc_id")
    assert(pipe.servedPairs(batch).isEmpty)
    assert(pipe(batch).collect().toSeq == Seq(Row(10L, 1L, 0.5, "cross")))
  }
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: [[DedupOps.minhashBanded]]'s map-only signatures equal the
  * relational explode + `groupBy(id)` + `min` form they replaced, bit for
  * bit, on both the checkpointed and the cached path. Generated corpora
  * (0 to 14 docs) with unique ids, at most one of them null, and empty,
  * blank, short (< k words), null and repetitive texts, over several
  * (numHashes, bands, k) layouts.
  */
class MinhashBandedSpec extends SparkSpec {
  import spark.implicits._

  /** The relational form `minhashBanded` used before its signatures went
    * map-only: one row per shingle, 64 `min` aggregates per id.
    */
  private def groupedBanded(src: DataFrame, numHashes: Int, bands: Int,
      k: Int): (DataFrame, DataFrame) = {
    val r = numHashes / bands
    val base = src.select(col("id").cast("long").as("id"),
      DedupOps.shingleHashes(col("text"), k).as("sh"))
    val p = DedupOps.MinhashPrime
    val perms = DedupOps.minhashCoeffs(numHashes).map { case (a, b) =>
      pmod(pmod(col("h"), lit(p)) * lit(a) + lit(b), lit(p))
    }
    val sigs = base.select(col("id"), explode(col("sh")).as("h"))
      .groupBy("id")
      .agg(min(perms.head).as("__m0"),
        (perms.tail.zipWithIndex.map { case (c, i) => min(c).as(s"__m${i + 1}") } :+
          count(lit(1)).as("n")): _*)
    val banded = sigs.select(col("id"), col("n"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b) +: (0 until r).map(j => col(s"__m${b * r + j}")): _*)): _*))
        .as(Seq("band", "bh")))
    (base, banded)
  }

  private case class Case(docs: Seq[(Option[Long], Option[String])],
      numHashes: Int, bands: Int, k: Int)

  private val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "a")
  private val genText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf(Some(""), Some("   "), Some("alpha")),
    6 -> Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(words)))
      .map(ws => Some(ws.mkString(" "))))
  private val genCase: Gen[Case] = for {
    n <- Gen.choose(0, 14)
    ids <- Gen.pick(n, 0L until 40L)
    nullId <- Gen.frequency(3 -> false, 1 -> true)
    texts <- Gen.listOfN(n, genText)
    layout <- Gen.oneOf((64, 32), (16, 4), (12, 3), (8, 8))
    k <- Gen.choose(1, 4)
  } yield Case(ids.toSeq.sorted.map(Option(_)).zip(texts).zipWithIndex.map {
    case ((id, t), 0) if nullId => (None, t)
    case ((id, t), _) => (id, t)
  }, layout._1, layout._2, k)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).sorted.toSeq

  test("map-only base and banded frames equal the groupBy form on 100 generated corpora") {
    val cache = java.nio.file.Files.createTempDirectory("graft-minhash-prop").toString
    (0 until 100).foreach { i =>
      val c = genCase.pureApply(Gen.Parameters.default, Seed(9100L + i))
      val src = c.docs.toDF("id", "text")
      val (wantBase, wantBanded) = groupedBanded(src, c.numHashes, c.bands, c.k)
      val cacheDir = if (i % 10 == 0) Some(s"$cache/$i") else None
      val (base, banded) = DedupOps.minhashBanded(src, "text", "id",
        c.numHashes, c.bands, c.k, cacheDir)
      assert(rows(base) == rows(wantBase), s"case $i base: $c")
      assert(rows(banded) == rows(wantBanded), s"case $i banded: $c")
    }
  }

  test("duplicate ids: each row gets its own signature; null ids pair with nothing") {
    val a = "alpha beta gamma delta eps zeta"
    val b = "zeta eps delta gamma beta alpha"
    val src = Seq((Option(1L), a), (Option(1L), b), (Option(2L), a),
      (None, a), (None, a)).toDF("doc_id", "text")
    val (_, banded) = DedupOps.minhashBanded(src, "text", "doc_id", 64, 32, 3)
    // five rows, 32 band rows each — the grouped form gave one signature
    // per id (null included) over the union of that id's shingles
    assert(banded.count() == 5 * 32)
    assert(banded.filter(col("id") === 1L).select("bh").distinct().count() >
      banded.filter(col("id") === 2L).select("bh").distinct().count())
    val pairs = MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.5)(src)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)), pairs)
  }
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("bigram nll: hand-computed conditional scores") {
    // corpus: "a b", "a c", "x" -> V=4, c(a)=2
    // nll(a,b) = nll(a,c) = -ln((1+1)/(2+4)) = ln(3); fp = round(ln(3)*1e4)
    val df = Seq((1L, "a b"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    val out = BigramLogProbPipe("text", "doc_id")(df)
      .select("doc_id", "bigram_nll").orderBy("doc_id").collect()
    val expected = math.round(math.log(3.0) * 10000) / 10000.0
    assert(out(0) == Row(1L, expected))
    assert(out(1) == Row(2L, expected))
    assert(out(2) == Row(3L, 0.0)) // no predecessor positions
  }

  test("bigram nll equals a scalar oracle on random tiny-vocab corpora") {
    def scalarOracle(docs: Seq[(Long, String)]): Map[Long, Double] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val uni = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      val bi = toks.flatMap(_._2.sliding(2).filter(_.size == 2))
        .groupBy(identity).view.mapValues(_.size)
      val v = uni.size
      toks.map { case (id, ws) =>
        val terms = ws.sliding(2).filter(_.size == 2).toSeq.map { p =>
          math.round(-math.log((bi(p) + 1.0) / (uni(p.head) + v)) * 10000)
        }
        id -> (if (terms.isEmpty) 0.0
               else terms.sum.toDouble / terms.size / 10000)
      }.toMap
    }
    val vocab = Vector("aa", "bb", "cc", "dd")
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(200 + seed)
      val docs = (0L until 10L).map { id =>
        val n = 1 + rnd.nextInt(7)
        id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val expected = scalarOracle(docs)
      val out = BigramLogProbPipe("text", "doc_id")(docs.toDF("doc_id", "text"))
        .select("doc_id", "bigram_nll").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // pipe output is rounded to 4 decimals; the unrounded scalar value
      // must sit within half a rounding step of it
      expected.foreach { case (id, raw) =>
        assert(math.abs(out(id) - raw) <= 0.00005 + 1e-12,
          s"seed=$seed doc=$id out=${out(id)} raw=$raw")
      }
    }
  }

  test("bigram nll: implausible word order scores worse, same vocabulary") {
    // ordered corpus with strong bigram structure + one word-salad doc
    // built from the SAME vocabulary: a unigram score cannot separate
    // them, the conditional bigram score must
    val ordered = (1L to 40L).map(i => (i, "the cat sat on the mat"))
    val salad = Seq((100L, "mat the on sat cat the"))
    val out = BigramLogProbPipe("text", "doc_id")(
      (ordered ++ salad).toDF("doc_id", "text"))
      .select("doc_id", "bigram_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(100L) > out(1L) + 0.5,
      s"salad ${out(100L)} vs ordered ${out(1L)}")
  }

  test("temperature mix: heads downsampled toward n^alpha, tail kept whole") {
    val df = (0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 125).map(i => (i.toLong, "small"))
    val out = TemperatureMixPipe("id", "g", alpha = 0.5)(df.toDF("id", "g"))
    val kept = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // small: rate (25/25)^0.5 = 1.0 -> all survive; big: rate
    // sqrt(25/100) = 0.5 -> exactly the ids whose hash slot < 5000
    // (surviving counts ~ n^0.5: 100 -> ~50 vs 25 -> 25, ratio 2 = sqrt(4))
    assert(kept("small") == 25L)
    val expectedBig = (0 until 100).count(i =>
      ((i.toLong * 131 + 7) % 1000003) % 10000 < 5000)
    assert(kept("big") == expectedBig.toLong)
    // alpha = 1 keeps the natural distribution untouched
    val nat = TemperatureMixPipe("id", "g", alpha = 1.0)(df.toDF("id", "g"))
    assert(nat.count() == 125L)
    // deterministic under relayout
    val re = TemperatureMixPipe("id", "g", alpha = 0.5)(
      df.toDF("id", "g").repartition(7))
    assert(out.select("id").except(re.select("id")).count() == 0)
  }

  test("repetition stats: hand-computed fractions on known texts") {
    val df = Seq((1L, "a a b"), (2L, "x y x y x"), (3L, "solo")).toDF("doc_id", "text")
    val out = RepetitionStatsPipe("text")(df).orderBy("doc_id")
      .select("doc_id", "dup_token_frac", "top_bigram_frac", "dup_bigram_frac")
      .collect()
    // "a a b": 3 toks 2 distinct -> 0.3333; bigrams [a a, a b] runs 1,1
    assert(out(0) == Row(1L, 0.3333, 0.5, 0.0))
    // "x y x y x": 5 toks 2 distinct; bigrams {x y:2, y x:2} -> top 0.5, dup 1.0
    assert(out(1) == Row(2L, 0.6, 0.5, 1.0))
    // single token: no bigrams, all zero
    assert(out(2) == Row(3L, 0.0, 0.0, 0.0))
  }

  test("decontaminate flags shared n-grams and drop mode removes them") {
    val eval = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "entirely different content here now")).toDF("doc_id", "text")
    val flagged = DecontaminatePipe(eval, "text", "doc_id", ngramSize = 3)(train)
      .orderBy("doc_id").select("doc_id", "contaminated").collect()
    assert(flagged.toSeq == Seq(Row(1L, true), Row(2L, false)))
    val dropped = DecontaminatePipe(eval, "text", "doc_id", ngramSize = 3,
      flagOnly = false)(train)
    assert(dropped.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("pii redaction counts and masks all three default families") {
    val df = Seq((1L, "mail a@b.co or x.y@mail.org call 555-1234 ip 10.1.2.3"),
      (2L, "clean text")).toDF("doc_id", "text")
    val out = PiiRedactPipe("text")(df).orderBy("doc_id")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted").collect()
    assert(out(0) == Row(1L, 2, 1, 1,
      "mail <EMAIL> or <EMAIL> call <PHONE> ip <IP>"))
    assert(out(1) == Row(2L, 0, 0, 0, "clean text"))
  }

  test("url filter: apex + subdomain blocking, drop mode, no false hits") {
    val df = Seq(
      (1L, "go to http://example.com now"),
      (2L, "go to https://ads.tracker.example.com/p?x=1 now"),
      (3L, "fine: https://notexample.com and http://example.company"),
      (4L, "no urls at all")).toDF("doc_id", "text")
    val out = UrlFilterPipe("text", Seq("example.com"))(df)
      .select("doc_id", "n_urls", "url_blocked").orderBy("doc_id").collect()
    assert(out.toSeq == Seq(
      Row(1L, 1, true), // apex match
      Row(2L, 1, true), // subdomain suffix match
      Row(3L, 2, false), // notexample.com / example.company must NOT match
      Row(4L, 0, false)))
    val kept = UrlFilterPipe("text", Seq("example.com"), flagOnly = false)(df)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("line dedup removes cross-doc boilerplate, keeps order, counts") {
    val df = Seq(
      (1L, "COOKIE BANNER\nunique one\nfooter"),
      (2L, "COOKIE BANNER\nunique two\nfooter"),
      (3L, "all original\nlines here")).toDF("doc_id", "text")
    val out = LineDedupPipe("text", "doc_id")(df)
      .select("doc_id", "text", "n_lines_removed").orderBy("doc_id").collect()
    assert(out(0) == Row(1L, "unique one", 2L))
    assert(out(1) == Row(2L, "unique two", 2L))
    assert(out(2) == Row(3L, "all original\nlines here", 0L))
    // maxOccurrences=2 tolerates pairs, still kills nothing here >2
    val out2 = LineDedupPipe("text", "doc_id", maxOccurrences = 2)(df)
      .select("doc_id", "n_lines_removed").orderBy("doc_id")
      .collect().map(_.getLong(1)).toSeq
    assert(out2 == Seq(0L, 0L, 0L))
    // a doc that loses every line becomes empty, not null
    val all = Seq((1L, "same\nsame2"), (2L, "same\nsame2")).toDF("doc_id", "text")
    val wiped = LineDedupPipe("text", "doc_id")(all)
      .select("text", "n_lines_removed").distinct().collect()
    assert(wiped.toSeq == Seq(Row("", 2L)))
    // non-text columns survive the round trip
    val extra = Seq((1L, "a\nb", "keep")).toDF("doc_id", "text", "tag")
    assert(LineDedupPipe("text", "doc_id")(extra).columns.toSeq ==
      Seq("doc_id", "text", "tag", "n_lines_removed"))
  }

  test("line dedup equals a scalar oracle on random tiny-vocab corpora") {
    // tiny line vocabulary forces heavy cross-doc repeats, empty lines,
    // and whole-doc wipes — the hot-key regimes the AQE-split join handles
    def scalarOracle(docs: Seq[(Long, String)], max: Long): Map[Long, (String, Long)] = {
      val lines = docs.map { case (id, t) => id -> t.split("\n", -1).toSeq }
      val counts = lines.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      lines.map { case (id, ls) =>
        val kept = ls.filter(l => counts(l) <= max)
        id -> (kept.mkString("\n"), (ls.size - kept.size).toLong)
      }.toMap
    }
    val lineVocab = Vector("alpha beta", "gamma", "", "delta eps zeta")
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(100 + seed)
      val docs = (0L until 10L).map { id =>
        val n = 1 + rnd.nextInt(5)
        id -> Seq.fill(n)(lineVocab(rnd.nextInt(lineVocab.size))).mkString("\n")
      }
      val expected = scalarOracle(docs, max = 1)
      for (hashed <- Seq(false, true)) {
        val out = LineDedupPipe("text", "doc_id", hashKey = hashed)(
          docs.toDF("doc_id", "text"))
          .select("doc_id", "text", "n_lines_removed").collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
        assert(out == expected, s"seed=$seed hashed=$hashed")
      }
    }
  }

  test("line dedup hashKey mode (8-byte shuffle key) equals exact mode") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val exact = LineDedupPipe("text", "doc_id")(docs)
      .select("doc_id", "text", "n_lines_removed")
    val hashed = LineDedupPipe("text", "doc_id", hashKey = true)(docs)
      .select("doc_id", "text", "n_lines_removed")
    assert(exact.exceptAll(hashed).isEmpty && hashed.exceptAll(exact).isEmpty)
  }

  test("unigram nll: rare tokens score higher; partition-invariant") {
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2")).toDF("doc_id", "text")
    val out = UnigramLogProbPipe("text", "doc_id")(df)
      .select("doc_id", "unigram_nll").orderBy("doc_id").collect()
    // doc 1: all tokens are 'common' (6/8 of corpus) -> low nll
    // doc 2: two singleton tokens -> strictly higher mean nll
    assert(out(0).getDouble(1) < out(1).getDouble(1))
    // hand-check doc 1: -ln(6/8) = 0.2877
    assert(out(0).getDouble(1) == 0.2877)
    // bit-identical across layouts (fixed-point order-free sums)
    val docs = spark.read.parquet(sf("documents"))
    val a = UnigramLogProbPipe("text", "doc_id")(docs)
      .select("doc_id", "unigram_nll")
    val b = UnigramLogProbPipe("text", "doc_id")(docs.repartition(17))
      .select("doc_id", "unigram_nll")
    assert(a.except(b).count() == 0)
  }

  test("stratified sample: rate bounds, determinism, and group isolation") {
    val docs = spark.read.parquet(sf("documents"))
    val p = StratifiedSamplePipe("doc_id", "lang", Seq("en" -> 0.0), defaultRate = 1.0)
    val out = p(docs)
    assert(out.filter(col("lang") === "en").count() == 0)
    // groups not named keep the default rate (here: everything survives)
    assert(out.count() == docs.filter(col("lang") =!= "en").count())
    // engine-reproducible: two runs select the identical row set
    val a = StratifiedSamplePipe("doc_id", "lang", Seq("en" -> 0.4), 0.5)(docs)
    val b = StratifiedSamplePipe("doc_id", "lang", Seq("en" -> 0.4), 0.5)(docs)
    assert(a.select("doc_id").except(b.select("doc_id")).count() == 0)
    assert(a.count() == b.count())
    assertThrows[IllegalArgumentException] {
      StratifiedSamplePipe("doc_id", "lang", Seq("en" -> 1.5))
    }
  }

  private def docs = spark.read.parquet(sf("documents"))

  test("repetition stats on real docs: fractions in [0,1], bounded wall-clock") {
    // the index-based runLengths formulation hung >200 s at sf0.01
    val t0 = System.nanoTime()
    val rows = RepetitionStatsPipe("text")(docs)
      .select("doc_id", "dup_token_frac", "top_bigram_frac", "dup_bigram_frac")
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.nonEmpty && secs < 30, s"${rows.length} rows in $secs s")
    assert(rows.forall(r =>
      (1 to 3).forall(i => r.getDouble(i) >= 0 && r.getDouble(i) <= 1)))
  }

  test("decontaminate broadcasts the eval n-grams over real docs") {
    val flagged = DecontaminatePipe(docs.filter(col("doc_id") < 10),
      "text", "doc_id", 4)(docs)
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("stratified sample on real docs: realized rate near the nominal 0.3") {
    val samp = StratifiedSamplePipe("doc_id", "lang", Seq("en" -> 0.3),
      defaultRate = 0.7)(docs)
    val rate = samp.filter(col("lang") === "en").count().toDouble /
      docs.filter(col("lang") === "en").count()
    assert(rate > 0.15 && rate < 0.45, s"rate=$rate")
  }

  test("pp_curate_v2 runs end to end on real docs and every stage bites") {
    val v2 = graft.SparkEntry.queries("pp_curate_v2")(spark,
      "/root/testdata/sf0.001")
    val n = v2.count()
    assert(n > 0 && n < docs.count(), s"$n survivors")
    assert(v2.filter(col("n_lines_removed") > 0).count() > 0)
  }

  test("unigram nll on real docs: positive and finite, broadcast vocab probe") {
    val ug = UnigramLogProbPipe("text", "doc_id")(docs)
    assert(ug.filter(col("unigram_nll") <= 0 || col("unigram_nll").isNull ||
      col("unigram_nll") > 50).count() == 0)
    assert(ug.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("line dedup on wrapped real docs: hashKey equals exact, shuffles on xxhash64") {
    val wrapped = docs.withColumn("text",
      regexp_replace(trim(col("text")), "((?:\\S+\\s+){7}\\S+)\\s+", "$1\n"))
    val cols = Seq("doc_id", "text", "n_lines_removed").map(col)
    val exact = LineDedupPipe("text", "doc_id")(wrapped)
    val hashed = LineDedupPipe("text", "doc_id", hashKey = true)(wrapped)
    assert(exact.select(cols: _*).except(hashed.select(cols: _*)).count() == 0 &&
      hashed.count() == exact.count())
    assert(hashed.queryExecution.executedPlan.toString.contains("xxhash64"))
  }

  test("temperature mix on real docs: smallest group whole, largest downsampled, rates broadcast") {
    val out = TemperatureMixPipe("doc_id", "lang")(docs)
    val counts = docs.groupBy("lang").count().withColumnRenamed("count", "n0")
      .join(out.groupBy("lang").count(), Seq("lang"), "left")
      .select(col("lang"), col("n0"), coalesce(col("count"), lit(0L)).as("n1"))
      .collect()
    val small = counts.minBy(_.getLong(1))
    val big = counts.maxBy(_.getLong(1))
    assert(small.getLong(2) == small.getLong(1))
    assert(big.getLong(2) < big.getLong(1))
    assert(counts.forall(r => r.getLong(2) > 0 && r.getLong(2) <= r.getLong(1)))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("temperature mix rate-filters a NULL group like any other group") {
    val withNull = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("lang")).as("lang"))
    val nullIn = withNull.filter(col("lang").isNull).count()
    val nullKept = TemperatureMixPipe("doc_id", "lang")(withNull)
      .filter(col("lang").isNull).count()
    assert(nullKept > 0 && nullKept < nullIn, s"$nullKept/$nullIn kept")
  }

  test("bigram nll on real docs: finite, non-negative, broadcast conditional table") {
    val bg = BigramLogProbPipe("text", "doc_id")(docs)
    assert(bg.filter(col("bigram_nll") < 0 || col("bigram_nll").isNull ||
      isnan(col("bigram_nll"))).count() == 0)
    assert(bg.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }
}

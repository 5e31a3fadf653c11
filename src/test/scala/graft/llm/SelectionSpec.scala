package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Data-selection + substring/cross-corpus dedup operators (round 6). */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  test("feature buckets: hand-computed unigram+bigram hashes") {
    // tokHash("a") = (7*31+97) % 1000003 = 314; tokHash("b") = 315
    // uni: 314%64=58, 315%64=59; bi: (314*131+315) % 1000003 % 64 = 41
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val out = FeatureHashOps.stageTokenHashes(df, "text", "th")
      .select(FeatureHashOps.featureBuckets(col("th"), 64).as("f"))
      .as[Seq[Long]].head()
    assert(out == Seq(58L, 59L, 41L))
    // single token -> no bigram
    val one = FeatureHashOps.stageTokenHashes(
      Seq((1L, "a")).toDF("doc_id", "text"), "text", "th")
      .select(FeatureHashOps.featureBuckets(col("th"), 64).as("f"))
      .as[Seq[Long]].head()
    assert(one == Seq(58L))
  }

  test("dsir importance weight: target-domain docs score higher") {
    val raw = Seq(
      (1L, "market stocks trading finance market stocks"),
      (2L, "market finance trading stocks economy growth"),
      (3L, "cats purr softly on warm windowsills"),
      (4L, "dogs bark loudly at passing strangers")).toDF("doc_id", "text")
    val target = Seq(
      (1L, "stocks finance market trading dividends"),
      (2L, "trading economy finance market stocks")).toDF("doc_id", "text")
    val out = ImportanceWeightPipe("text", "doc_id", target, "text",
      numBuckets = 1024)(raw)
      .select("doc_id", "dsir_logweight").orderBy("doc_id")
      .as[(Long, Double)].collect().toMap
    assert(out.size == 4)
    // finance docs must outscore the pet docs under a finance target
    assert(math.min(out(1L), out(2L)) > math.max(out(3L), out(4L)))
    // deterministic: re-running yields identical fixed-point scores
    val again = ImportanceWeightPipe("text", "doc_id", target, "text",
      numBuckets = 1024)(raw)
      .select("doc_id", "dsir_logweight").orderBy("doc_id")
      .as[(Long, Double)].collect().toMap
    assert(again == out)
  }

  test("hashed linear scorer: uniform weights give exact closed form") {
    val df = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    // all weights 0.1: logit = bias + 0.1 * n_features (uni + bi)
    val pos = HashedLinearScorerPipe("text", Seq.fill(64)(0.1), bias = 0.05)(df)
      .select("doc_id", "quality_logit", "quality_keep").orderBy("doc_id")
      .collect()
    assert(pos(0) == Row(1L, 0.35, true)) // 3 features
    assert(pos(1) == Row(2L, 0.15, true)) // 1 feature
    val neg = HashedLinearScorerPipe("text", Seq.fill(64)(-0.1), bias = 0.05)(df)
      .select("quality_logit", "quality_keep").orderBy("doc_id").collect()
    assert(neg(0) == Row(-0.25, false))
    assert(neg(1) == Row(-0.05, false))
  }

  test("trained log-odds classifier separates a two-vocabulary corpus") {
    // (the testdata documents draw every lang from ONE shared vocabulary,
    // so nothing is learnable there — build a separable corpus instead)
    val posV = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val negV = Vector("uno", "dos", "tres", "cuatro", "cinco")
    val docs = (0 until 60).map { i =>
      val v = if (i % 2 == 0) posV else negV
      val words = (0 until 12).map(j => v((i * 7 + j * 3) % v.size)) :+ "shared"
      (i.toLong, words.mkString(" "), i % 2 == 0)
    }.toDF("doc_id", "text", "label")
    val (w, b) = HashedLinearScorerPipe.trainLogOdds(
      docs, "text", "label", numBuckets = 1024)
    val scored = HashedLinearScorerPipe("text", w, b)(docs)
    val wrong = scored.filter(col("quality_keep") =!= col("label")).count()
    assert(wrong == 0, s"$wrong of 60 misclassified")
  }

  test("substring dedup: cross-doc and self-repeat coverage, k=5") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon unique1 tail1"),
      (2L, "prefix2 alpha beta gamma delta epsilon tail2"),
      (3L, "totally separate words only here"),
      (4L, "x1 x2 x3 x4 x5 mid x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    val out = SubstringDedupPipe("text", "doc_id", k = 5,
      hashShingles = false)(df)
      .select("doc_id", "text", "n_tokens_removed").orderBy("doc_id").collect()
    // the shared 5-gram is deleted from BOTH docs (no canonical survivor —
    // that is ExactSubstr semantics), private tokens survive in order
    assert(out(0) == Row(1L, "unique1 tail1", 5L))
    assert(out(1) == Row(2L, "prefix2 tail2", 5L))
    assert(out(2) == Row(3L, "totally separate words only here", 0L))
    // a doc repeating its own 5-gram loses both occurrences
    assert(out(3) == Row(4L, "mid", 10L))
  }

  test("substring dedup: hashed shingles produce identical output") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val exact = SubstringDedupPipe("text", "doc_id", k = 5,
      hashShingles = false)(docs)
      .select("doc_id", "text", "n_tokens_removed")
    val hashed = SubstringDedupPipe("text", "doc_id", k = 5,
      hashShingles = true)(docs)
      .select("doc_id", "text", "n_tokens_removed")
    assert(exact.exceptAll(hashed).isEmpty && hashed.exceptAll(exact).isEmpty)
  }

  test("substring dedup equals a scalar oracle on random tiny-vocab corpora") {
    // tiny vocab + short docs force dense shingle collisions, self-repeats
    // and whole-doc wipes — the regimes where coverage logic breaks
    def scalarOracle(docs: Seq[(Long, String)], k: Int): Map[Long, (String, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val counts = scala.collection.mutable.Map.empty[Seq[String], Int]
      toks.foreach { case (_, ws) =>
        ws.sliding(k).filter(_.size == k).foreach { sh =>
          counts(sh) = counts.getOrElse(sh, 0) + 1
        }
      }
      toks.map { case (id, ws) =>
        val starts = ws.indices.dropRight(k - 1)
          .filter(s => counts(ws.slice(s, s + k)) >= 2)
        val covered = starts.flatMap(s => s until s + k).toSet
        val kept = ws.zipWithIndex.collect { case (w, p) if !covered(p) => w }
        id -> (kept.mkString(" "), (ws.size - kept.size).toLong)
      }.toMap
    }
    val vocab = Vector("aa", "bb", "cc")
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 12L).map { id =>
        val n = rnd.nextInt(9) // 0 tokens -> "" edge case included
        id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val expected = scalarOracle(docs, k = 3)
      for (hashed <- Seq(false, true)) {
        val out = SubstringDedupPipe("text", "doc_id", k = 3,
          hashShingles = hashed)(docs.toDF("doc_id", "text"))
          .select("doc_id", "text", "n_tokens_removed").collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
        assert(out == expected, s"seed=$seed hashed=$hashed")
      }
    }
  }

  test("minhash signature cache: second run reads parquet, equal output") {
    val dir = java.nio.file.Files.createTempDirectory("mh_cache").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val pipe = MinHashLSHDedupPipe("text", "doc_id",
      jaccardThreshold = 0.3, cacheDir = Some(dir))
    val plain = MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.3)
    val first = pipe(docs).collect().toSet
    // the cache dir now holds both materialized stages (base + banded)
    val caches = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_tmp"))
    assert(caches.length == 2, caches.mkString(","))
    // second run hits the cache and agrees with both the first run and
    // the uncached pipe. A hit never rewrites content — the files INSIDE
    // each entry stay byte-identical (apply() only touches the entry
    // DIR's mtime, the TTL-refresh contract) — so the proof of "read,
    // not recomputed" is the contained files' (path, mtime) set
    // (full path: same-named files across entries — every entry has a
    // _SUCCESS — must not collapse into one set element)
    def entryFiles() = caches.flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toSet
    val files = entryFiles()
    val second = pipe(docs).collect().toSet
    assert(entryFiles() == files)
    assert(second == first)
    assert(plain(docs).collect().toSet == first)
    // simhash signature cache: cached run == uncached run
    val shCached = SimHashDedupPipe("text", "doc_id",
      cacheDir = Some(dir))(docs).collect().toSet
    assert(shCached == SimHashDedupPipe("text", "doc_id")(docs).collect().toSet)
    assert(SimHashDedupPipe("text", "doc_id", cacheDir = Some(dir))(docs)
      .collect().toSet == shCached)
  }

  test("triplet mining: deterministic negatives, collision fallback") {
    val corpus = (0L until 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 3L), (0L, 1L)).toDF("id_a", "id_b")
    val out = TripletMiningPipe(corpus, "doc_id")(pairs)
      .orderBy("anchor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (0,1): s0 = (0+31+7) % 5 = 3 -> c0=3, free -> neg 3
    assert(out(0) == ((0L, 1L, 3L)))
    // (2,3): s0 = (262+93+7) % 5 = 2 -> c0=2==anchor, c1=3==pos -> c2=4
    assert(out(1) == ((2L, 3L, 4L)))
    // negatives never equal anchor or positive, layout-invariant
    val re = TripletMiningPipe(corpus.repartition(4), "doc_id")(
      pairs.repartition(3)).orderBy("anchor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.toSeq == out.toSeq)
    // a 2-row corpus cannot yield a negative — loud lazy failure
    val tiny2 = Seq((0L, "a"), (1L, "b")).toDF("doc_id", "text")
    val err = intercept[Exception] {
      TripletMiningPipe(tiny2, "doc_id")(Seq((0L, 1L)).toDF("id_a", "id_b"))
        .collect()
    }
    assert(err.getMessage.contains("no valid negative") ||
      Option(err.getCause).exists(_.getMessage.contains("no valid negative")))
  }

  test("edge cases: empty frames, empty targets, degenerate groups") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val some = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    // empty input flows through (no crash, zero rows, schema intact)
    assert(SubstringDedupPipe("text", "doc_id")(empty).count() == 0)
    assert(ImportanceWeightPipe("text", "doc_id", some, "text")(empty)
      .count() == 0)
    // empty TARGET: every bucket smooths to (0+1)/(0+B) — finite scores
    val wEmptyTgt = ImportanceWeightPipe("text", "doc_id", empty, "text",
      numBuckets = 64)(some).select("dsir_logweight").as[Double].collect()
    assert(wEmptyTgt.length == 2 && wEmptyTgt.forall(v => !v.isNaN))
    // empty eval corpus: no contamination pairs, no crash
    assert(CrossCorpusMinHashPipe("text", "doc_id", empty, "text", "doc_id")(
      some).count() == 0)
    // single group: rate (n/n)^x = 1 -> everything kept at any alpha
    assert(TemperatureMixPipe("doc_id", "g", alpha = 0.3)(
      some.withColumn("g", lit("only"))).count() == 2)
    // BPE learn stops early when no pair reaches minCount
    val merges = graft.text.BpeOps.learn(
      Seq((1L, "ab cd")).toDF("doc_id", "text"), "text", numMerges = 50)
    assert(merges.isEmpty) // every adjacent pair occurs once
  }

  test("cross-corpus minhash finds the planted leak with exact jaccard") {
    val train = Seq(
      (1L, "one two three four five six"),
      (2L, "totally different content with no overlap at all"),
      (3L, "yet another unrelated document about gardens")).toDF("doc_id", "text")
    val evalDf = Seq(
      (101L, "one two three four five"), // leak: j = 3/4 vs doc 1
      (102L, "completely novel benchmark question here")).toDF("eval_id", "text")
    val out = CrossCorpusMinHashPipe("text", "doc_id", evalDf, "text",
      "eval_id", jaccardThreshold = 0.5)(train)
      .select("id_a", "id_b", "jaccard").collect()
    assert(out.toSeq == Seq(Row(1L, 101L, 0.75)))
  }

  test("incremental dedup equals full-union LSH restricted to batch pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val toks = split(col("text"), " ")
    def dropLast(n: Int) = array_join(
      slice(toks, lit(1), greatest(size(toks) - n, lit(1))), " ")
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), dropLast(2).as("text"))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), dropLast(1).as("text")))
    val inc = IncrementalMinHashDedupPipe("text", "doc_id",
      docs, "text", "doc_id", jaccardThreshold = 0.5)(batch)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("j"),
        col("pair_src"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSet
    // ground truth: single-corpus LSH over the UNION, keeping only pairs
    // that touch the batch (ids >= 200000); mixed pairs re-oriented to
    // the incremental pipe's batch-id-first convention
    val full = MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.5)(
      docs.unionByName(batch))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.flatMap { case (a, b, j) =>
      (a >= 200000, b >= 200000) match {
        case (true, true)   => Some((a, b, j, "batch"))
        case (false, true)  => Some((b, a, j, "cross")) // batch id first
        case (true, false)  => Some((a, b, j, "cross"))
        case (false, false) => None // corpus-vs-corpus: excluded by design
      }
    }.toSet
    assert(inc == expected && inc.nonEmpty)
    // both pair kinds are actually present in the scenario
    assert(inc.exists(_._4 == "cross") && inc.exists(_._4 == "batch"))
  }

  test("cross-corpus signature cache: per-corpus keys, hit on second run") {
    val dir = java.nio.file.Files.createTempDirectory("xc_cache").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val evalDf = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("eval_id"), col("text"))
    val pipe = CrossCorpusMinHashPipe("text", "doc_id", evalDf, "text",
      "eval_id", jaccardThreshold = 0.5, cacheDir = Some(dir))
    val first = pipe(docs).collect().toSet
    // base + banded per corpus, keyed on EACH side's own fingerprint —
    // four distinct stage dirs, so a fixed eval corpus's signatures
    // survive across evolving train batches
    val caches = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_tmp"))
    assert(caches.length == 4, caches.mkString(","))
    // a hit never rewrites content (apply() only TTL-touches the entry
    // dir): the contained files' (path, mtime) set proves the read
    def entryFiles() = caches.flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toSet
    val files = entryFiles()
    val second = pipe(docs).collect().toSet
    assert(entryFiles() == files)
    assert(second == first)
    // and the cached result equals the uncached pipe's
    assert(CrossCorpusMinHashPipe("text", "doc_id", evalDf, "text",
      "eval_id", jaccardThreshold = 0.5)(docs).collect().toSet == first)
  }

  test("cross-corpus minhash pairs every planted near-copy with its real source") {
    val docs = spark.read.parquet(sf("documents"))
    val toks = split(col("text"), " ")
    val eval = docs.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 100000).as("eval_id"),
      array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(1))), " ")
        .as("text"))
    val pairs = CrossCorpusMinHashPipe("text", "doc_id", eval, "text", "eval_id",
      jaccardThreshold = 0.5)(docs).select("id_a", "id_b").collect()
    assert(pairs.count(r => r.getLong(1) == r.getLong(0) + 100000) ==
      docs.filter(col("doc_id") % 10 === 0).count())
  }

  test("trained log-odds scorer on real docs: 512 weights, finite bias, map-only scoring") {
    val docs = spark.read.parquet(sf("documents"))
    val (w, b) = HashedLinearScorerPipe.trainLogOdds(
      docs.withColumn("y", col("lang") === "en"), "text", "y", 512)
    val scored = HashedLinearScorerPipe("text", w, b)(docs)
    val plan = scored.queryExecution.executedPlan.toString
    assert(w.size == 512 && !b.isNaN)
    // the only exchange allowed is Pipe.widen's round-robin past a narrow scan
    assert("Exchange".r.findAllIn(plan).size ==
      "Exchange RoundRobinPartitioning".r.findAllIn(plan).size, plan)
    assert(scored.count() == docs.count())
  }

  test("trainLogOdds on an empty real-docs frame returns finite weights") {
    val empty = spark.read.parquet(sf("documents")).filter(col("doc_id") < 0)
      .select(col("text"), (col("doc_id") > 2).as("y"))
    val (w, b) = HashedLinearScorerPipe.trainLogOdds(empty, "text", "y",
      numBuckets = 64)
    assert(w.size == 64 && !b.isNaN && !b.isInfinite)
  }

  test("incremental dedup on real docs plans band equi-joins only and finds cross pairs") {
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    val toks = split(col("text"), " ")
    val batch = docs.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 200000).as("doc_id"),
      array_join(slice(toks, lit(1), greatest(size(toks) - 2, lit(1))), " ")
        .as("text"))
    val out = IncrementalMinHashDedupPipe("text", "doc_id",
      docs, "text", "doc_id", jaccardThreshold = 0.5)(batch)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(out.select("pair_src").distinct().collect().map(_.getString(0))
      .contains("cross"))
  }
}

package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQ8 scalar-quantization engines: encode/ADC mechanics, recall under
  * 8-bit distortion, IVF pruning equivalence at nprobe = nlist, and the
  * persisted-state lifecycle.
  */
class SQSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.read.parquet(sf("embeddings"))
    .select(col("vec_id").as("idx"), col("embedding").as("vector"))

  private def queries(n: Int) = spark.read.parquet(sf("embeddings"))
    .filter(col("vec_id") < n)
    .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))

  private val cfg = SearchConfig(k = 10, fillMaskedIndices = false,
    queryIdCol = Some("qid"))

  private def topIdx(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select(col("qid").cast("long"), col("`index.idx`"))
      .as[(Long, Seq[Long])].collect().toMap

  test("SQ8 codes are in [0,255] and self-match scores stay near 1") {
    val eng = SQDenseEngine(corpus, cfg)
    val range = eng.codes
      .select(min(array_min(col("codes"))), max(array_max(col("codes"))))
      .head
    assert(range.getInt(0) >= 0 && range.getInt(1) <= 255)
    // unit-normalized embeddings: the quantized self-dot must stay close
    // to 1 (8-bit per-dim error is ~vdiff/510 per component)
    val self = eng(queries(5))
      .select(col("qid").cast("long"), element_at(col("`index.idx`"), 1),
        element_at(col("`index.score`"), 1))
      .as[(Long, Long, Double)].collect()
    self.foreach { case (qid, top, score) =>
      assert(top == qid, s"query $qid should self-match, got $top")
      assert(math.abs(score - 1.0) < 0.05, s"self score $score far from 1")
    }
  }

  test("SQ8 recall@10 vs brute force is high on real embeddings") {
    val exact = topIdx(BruteForceDenseEngine(corpus, cfg)(queries(10)))
    val sq = topIdx(SQDenseEngine(corpus, cfg)(queries(10)))
    val recalls = exact.keys.toSeq.map { qid =>
      sq(qid).toSet.intersect(exact(qid).toSet).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@10 $mean below 0.8: $recalls")
  }

  test("IVF,SQ8 with nprobe = nlist equals flat SQ8 exactly") {
    val flat = SQDenseEngine(corpus, cfg)(queries(8))
      .select(col("qid"), col("`index.idx`"),
        transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq
    val ivf = IVFSQDenseEngine(corpus, nlist = 6, nprobe = 6, cfg)(queries(8))
      .select(col("qid"), col("`index.idx`"),
        transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq
    assert(ivf == flat)
  }

  test("SQ addVectors equals a pinned-stats build over the union (saturation included)") {
    val base = SQDenseEngine(corpus.filter(col("idx") % 3 =!= 0), cfg)
    val grown = base.addVectors(corpus.filter(col("idx") % 3 === 0))
    // union build with the SAME pinned stats (collected from the base) —
    // per-row encoding independence makes the two engines identical even
    // where added components saturate at code 0/255
    val row = base.stats.head()
    val pinned = SQDenseEngine(corpus, cfg,
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))))
    def out(e: SearchEngine) = e(queries(8))
      .select(col("qid"), col("`index.idx`"),
        transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq
    assert(out(grown) == out(pinned))
    // the add genuinely saturates somewhere: some full-corpus code hits
    // 0/255 where the FULL-trained engine (whose stats cover the range)
    // gives interior codes — i.e. grown differs from a plain full build
    assert(out(grown) != out(SQDenseEngine(corpus, cfg)),
      "expected the pinned ⅔-trained quantizer to differ from a full train")
  }

  test("IVF,SQ8 addVectors equals a pinned build over the union") {
    val cents = IVFDenseEngine.formulaCentroids(4, 64)
    val base = IVFSQDenseEngine(corpus.filter(col("idx") % 3 =!= 0),
      nlist = 4, nprobe = 2, cfg, fixedCentroids = Some(cents))
    val grown = base.addVectors(corpus.filter(col("idx") % 3 === 0))
    val row = base.sq.stats.head()
    val pinned = IVFSQDenseEngine(corpus, nlist = 4, nprobe = 2, cfg,
      fixedCentroids = Some(cents),
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))))
    def out(e: SearchEngine) = e(queries(8))
      .select(col("qid"), col("`index.idx`"),
        transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq
    assert(out(grown) == out(pinned))
  }

  test("incremental SQ refusals: baseCodes needs fixedStats; stateDir add needs a fingerprint") {
    intercept[IllegalArgumentException] {
      SQDenseEngine(corpus, cfg, baseCodes = Some(corpus.limit(1)))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-sq-addfp").toString
    val withState = SQDenseEngine(corpus.filter(col("idx") % 3 =!= 0), cfg,
      stateDir = Some(dir), corpusFingerprint = "sq-add-base")
    withState(queries(3)).collect()
    intercept[IllegalArgumentException] {
      withState.addVectors(corpus.filter(col("idx") % 3 === 0))
    }
  }

  test("filtered IVF,SQ8 returns only predicate rows and equals the pinned pre-filtered build") {
    val payload = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").as("idx"), col("embedding").as("vector"),
        col("label"))
    val pred = col("label") % 3 === 1
    val cents = IVFDenseEngine.formulaCentroids(4, 64)
    val full = IVFSQDenseEngine(payload, nlist = 4, nprobe = 2, cfg,
      fixedCentroids = Some(cents),
      carryCols = Seq("label"), memberFilter = Some(pred))
    val fullStats = full.sq.stats.head()
    val pre = IVFSQDenseEngine(payload.filter(pred), nlist = 4, nprobe = 2,
      cfg, fixedCentroids = Some(cents),
      fixedStats = Some((fullStats.getSeq[Double](0),
        fullStats.getSeq[Double](1))))
    def out(e: SearchEngine) = e(queries(6))
      .select(col("qid"), col("`index.idx`"),
        transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq
    assert(out(full) == out(pre))
  }

  test("persisted SQ state reloads into a fresh engine with equal results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sq-state").toString
    val fp = "sqspec-corpus"
    val a = SQDenseEngine(corpus, cfg, stateDir = Some(dir),
      corpusFingerprint = fp)
    val ra = topIdx(a(queries(5)))
    // fresh instance over the same dir: build() must find both parquet
    // frames (stats + codes) and answer without recomputing
    val b = SQDenseEngine(corpus, cfg, stateDir = Some(dir),
      corpusFingerprint = fp)
    assert(topIdx(b(queries(5))) == ra)
    val persisted = new java.io.File(dir).listFiles()
    assert(persisted != null && persisted.length >= 2,
      s"expected stats+codes state dirs under $dir")
  }

  test("SQ and IVF,SQ8 removeVectors equal pinned builds over the survivors") {
    def out(e: SearchEngine) = e(queries(8))
      .select(col("qid"), col("`index.idx`"),
        transform(col("`index.score`"), v => round(v, 9)).as("s"))
      .orderBy("qid").collect().map(_.toString).toSeq
    // flat: stats pinned from the FULL build, codes filtered
    val full = SQDenseEngine(corpus, cfg)
    val row = full.stats.head()
    val removed = full.removeVectors(col("idx") % 4 === 1)
    val survivors = SQDenseEngine(corpus.filter(col("idx") % 4 =!= 1), cfg,
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))))
    assert(out(removed) == out(survivors))
    assert(removed.codes.count() ==
      corpus.filter(col("idx") % 4 =!= 1).count())
    // composed: tagged and codes shrink together, no orphans
    val cents = IVFDenseEngine.formulaCentroids(4, 64)
    val ivfFull = IVFSQDenseEngine(corpus, nlist = 4, nprobe = 2, cfg,
      fixedCentroids = Some(cents))
    val ivfRemoved = ivfFull.removeVectors(col("idx") % 4 === 1)
    val ivfSurvivors = IVFSQDenseEngine(corpus.filter(col("idx") % 4 =!= 1),
      nlist = 4, nprobe = 2, cfg, fixedCentroids = Some(cents),
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))))
    assert(out(ivfRemoved) == out(ivfSurvivors))
    assert(ivfRemoved.sq.codes.count() == ivfRemoved.ivf.tagged.count())
    // stateDir removal demands a fresh fingerprint
    val dir2 = java.nio.file.Files.createTempDirectory("graft-sq-rmfp").toString
    val withState = SQDenseEngine(corpus, cfg, stateDir = Some(dir2),
      corpusFingerprint = "sq-rm-base")
    intercept[IllegalArgumentException] {
      withState.removeVectors(col("idx") === 0)
    }
  }

  test("SQ8 under the code-row cap broadcasts the codes; stats train with a partial aggregate") {
    val eng = SQDenseEngine(corpus,
      SearchConfig(k = 5, fillMaskedIndices = false, queryIdCol = Some("qid")))
    val searchPlan = eng(queries(4)).queryExecution.executedPlan.toString
    assert(searchPlan.contains("BroadcastNestedLoopJoin") &&
      !searchPlan.contains("CartesianProduct"), searchPlan)
    val statsPlan = eng.stats.queryExecution.executedPlan.toString
    assert(statsPlan.contains("partial_min") ||
      statsPlan.contains("HashAggregate"), statsPlan)
  }
}

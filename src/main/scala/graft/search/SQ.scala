package graft.search

import graft.core.Pipe.qcol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{transform => arrTransform, _}

/** SQ8 scalar-quantization dense search (FAISS `IndexScalarQuantizer`
  * QT_8bit — factory string "SQ8"; reference configs reach dense indexes
  * through FAISS factory strings, vector_base/utils/faiss.py:30-87).
  *
  * Train: per-dimension `(vmin, vdiff = max − min)` over the corpus — a
  * posexplode + per-position aggregation whose map-side partial combine
  * shuffles only `dim` rows per upstream partition, at any corpus size.
  * Encode: `code[d] = round((x[d] − vmin[d]) / vdiff[d] · 255)` clamped to
  * [0, 255] — one small int per dimension (1 byte of information: 4× less
  * index traffic than float32, 8× less than the double-precision scan).
  * Search: ADC with no per-candidate reconstruction —
  * `score(q, x̂) = q·vmin + Σ_d (q[d]·vdiff[d]/255)·code[d]` — the
  * query-side table `q[d]·vdiff[d]/255` is computed once per query ROW,
  * so per-candidate work is one integer-weighted dot product.
  *
  * Fully DETERMINISTIC (min/max training has no seed, unlike the KMeans
  * engines), so the DuckDB gate replays train → encode → ADC → top-k
  * value-for-value with no fixed-state injection (gate s15). Quantization
  * is per-dim uniform: recall under the distortion is the recall spec's
  * job, exactness of the machinery is the gate's.
  */
case class SQDenseEngine(
    corpus: DataFrame,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    /** Persist train stats + codes under fingerprint-keyed parquet (the
      * same lifecycle as the other engines; reference engine state dirs,
      * pipes/index.py:65-99).
      */
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    /** Caller-pinned `(vmin, vdiff)` — the incremental-add path (see
      * [[addVectors]]): new vectors encode against the STANDING
      * quantizer. A new component outside the trained range CLAMPS to
      * code 0/255 (the honest saturation semantics of any pinned uniform
      * quantizer — FAISS behaves the same after `add` without retrain);
      * watch for drift and RETRAIN by rebuilding from the source corpus
      * when it bites — codes are lossy, so unlike [[IVFDenseEngine
      * .rebalance]] a retrain cannot be derived from the index itself.
      */
    fixedStats: Option[(Seq[Double], Seq[Double])] = None,
    /** Already-encoded base codes `(idx, codes)` appended verbatim after
      * the encode — only `corpus` (the NEW vectors) is encoded. Requires
      * `fixedStats`: re-training min/max on only the new rows would
      * silently move the quantizer.
      */
    baseCodes: Option[DataFrame] = None,
    /** True once [[removeVectors]] ran (survives further copies): the id
      * space is holed, so masked-index fill is disabled — a pmod(hash, n)
      * fill id could be a REMOVED row. See
      * [[IVFDenseEngine.carriesDelete]].
      */
    carriesDelete: Boolean = false) extends SearchEngine {
  require(baseCodes.isEmpty || fixedStats.isDefined,
    "baseCodes (incremental add) requires fixedStats — the base index's " +
      "quantizer must be pinned, not re-trained")

  override def params = Map("k" -> config.k.toString, "engine" -> "dense_sq",
    "fixedStats" -> fixedStats.map(s =>
      graft.core.Fingerprint.hash(s.toString)).getOrElse(""),
    "incremental" -> baseCodes.isDefined.toString) ++
    (if (carriesDelete) Map("carriesDelete" -> "true") else Map.empty)

  private lazy val n: Long =
    corpus.count() + baseCodes.map(_.count()).getOrElse(0L)
  protected def fillRange: Option[Long] =
    if (carriesDelete) None else Some(n)

  /** Incremental index maintenance — the [[IVFDenseEngine.addVectors]]
    * contract for the scalar quantizer: a new engine over `extra` whose
    * per-dim stats are THIS engine's (collected — 2·dim doubles), with
    * the standing codes appended verbatim. Only the new vectors are
    * encoded — O(|extra|), never O(index) — and per-row encoding is
    * independent, so search equals a pinned-stats build over
    * base ∪ extra exactly. Out-of-range new components saturate (see
    * [[fixedStats]]).
    */
  def addVectors(extra: DataFrame, fingerprint: String = ""): SQDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "addVectors with stateDir requires a fingerprint covering base+extra " +
        "— an unchanged state key would serve a previous add's cache")
    val row = stats.head()
    copy(corpus = extra,
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))),
      baseCodes = Some(codes),
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Deletion — [[IVFDenseEngine.removeVectors]] for the scalar
    * quantizer: drop every standing code row matching `removed` (a
    * predicate over `idx`); per-dim stats stay pinned, nothing
    * re-encodes, and per-row encoding independence makes the result
    * exactly a pinned-stats build over the survivors. Map-side filter,
    * zero shuffle. Retrain (fresh min/max) = rebuild from the source
    * corpus, same as the add path's documented contract.
    */
  def removeVectors(
      removed: org.apache.spark.sql.Column,
      fingerprint: String = ""): SQDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "removeVectors with stateDir requires a fresh fingerprint covering " +
        "the surviving corpus — an unchanged state key would serve the " +
        "pre-delete cache")
    val row = stats.head()
    // DELETE-WHERE null semantics: NULL = not removed (SearchEngine
    // .isRemoved) — a bare filter(!removed) would drop NULL rows
    copy(corpus = corpus.limit(0),
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))),
      baseCodes = Some(codes.filter(!SearchEngine.isRemoved(removed))),
      carriesDelete = true,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** `stats`: ONE row `(vmin array<double>, vdiff array<double>)`;
    * `codes`: `(idx, codes array<int>)`.
    */
  lazy val (stats: DataFrame, codes: DataFrame) = build()

  def build(): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    def persisted(frame: String)(compute: => DataFrame): DataFrame =
      stateDir match {
        case Some(dir) =>
          graft.core.CachedStage(spark, dir,
            buildStateKey(corpusFingerprint, frame))(compute)
        case None => compute
      }
    val statsDf = persisted("sqstats") {
      fixedStats match {
        case Some((mn, df)) =>
          spark.createDataFrame(Seq((mn, df))).toDF("vmin", "vdiff")
        case None =>
          corpus
            .select(posexplode(arrTransform(qcol(corpusVecCol), _.cast("double")))
              .as(Seq("p", "x")))
            .groupBy("p").agg(min("x").as("mn"), max("x").as("mx"))
            .agg(sort_array(collect_list(struct(col("p"), col("mn"), col("mx"))))
              .as("e"))
            .select(
              arrTransform(col("e"), _.getField("mn")).as("vmin"),
              arrTransform(col("e"), e => e.getField("mx") - e.getField("mn"))
                .as("vdiff"))
      }
    }
    val codesDf = persisted("codes") {
      // constant dims (vdiff <= 0) encode as 0 and reconstruct to vmin
      corpus.crossJoin(broadcast(statsDf))
        .select(qcol(corpusIdxCol).cast("long").as("idx"),
          zip_with(
            zip_with(arrTransform(qcol(corpusVecCol), _.cast("double")),
              col("vmin"), (x, mn) => x - mn),
            col("vdiff"),
            (s, d) => when(d <= 0d, lit(0d))
              .otherwise(least(greatest(round(s / d * 255d, 0), lit(0d)),
                lit(255d)))
              .cast("int"))
            .as("codes"))
    }
    // incremental add: base codes append OUTSIDE the persisted stage, so
    // the cache (and the encode) covers only the new rows
    val withBase = baseCodes match {
      case Some(base) => base.select(col("idx"), col("codes"))
        .unionByName(codesDf.select(col("idx"), col("codes")))
      case None => codesDf
    }
    (statsDf, withBase)
  }

  /** `(rowId, __qmin__, __qd__)` — the per-query ADC table, reusable by
    * [[IVFSQDenseEngine]].
    */
  private[search] def queryTables(stamped: DataFrame, rowId: String): DataFrame = {
    val qv = qcol(s"${config.queryField}.vector")
    stamped.select(col(rowId), qv.as("__qv0__"))
      .crossJoin(broadcast(stats))
      .select(col(rowId),
        SearchEngine.dot(col("__qv0__"), col("vmin")).as("__qmin__"),
        zip_with(arrTransform(col("__qv0__"), _.cast("double")), col("vdiff"),
          (q, d) => q * d / 255d).as("__qd__"))
  }

  private[search] def adcScore: org.apache.spark.sql.Column =
    col("__qmin__") + aggregate(
      zip_with(col("__qd__"), col("codes"), (a, b) => a * b.cast("double")),
      lit(0d), (acc, v) => acc + v)

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame = {
    // codes are small; broadcast under the shared code-row cap, partitioned
    // cross join above it (same policy as the PQ scan)
    val c =
      if (n <= PQDenseEngine.BroadcastCodeRowCap) broadcast(codes) else codes
    val scored = queryTables(stamped, rowId).crossJoin(c)
      .select(col(rowId), col("idx"), adcScore.as("score"))
    SearchEngine.collapseTopK(stamped, scored, rowId, config.k)
  }
}

/** IVF coarse pruning over SQ8 codes (FAISS `IndexIVFScalarQuantizer` —
  * factory "IVF<n>,SQ8"): the [[IVFDenseEngine]] coarse quantizer prunes
  * candidates to the probed inverted lists, then [[SQDenseEngine]]-encoded
  * members ADC-score against the query table. Codes encode RAW vectors
  * against the GLOBAL per-dim stats (not per-list residuals) — the same
  * documented divergence as the non-residual IVF-PQ path: simpler, same
  * asymptotics, recall covered by the spec.
  *
  * Candidate volume is |queries| · n · nprobe/nlist rows of dim small ints
  * — pruned AND compressed, the cluster-resident shape for a 100 TB
  * corpus's vector index.
  */
case class IVFSQDenseEngine(
    corpus: DataFrame,
    nlist: Int = 16,
    nprobe: Int = 4,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    kmeansSeed: Long = 42L,
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    fixedCentroids: Option[Seq[Seq[Double]]] = None,
    /** Pinned per-dim stats — required by the incremental path; see
      * [[SQDenseEngine.fixedStats]] (saturation semantics included).
      */
    fixedStats: Option[(Seq[Double], Seq[Double])] = None,
    /** Incremental add (see [[addVectors]]): the standing tagged rows
      * and codes, appended verbatim; only `corpus` (the NEW vectors) is
      * tagged and encoded. Both or neither.
      */
    baseTagged: Option[DataFrame] = None,
    baseCodes: Option[DataFrame] = None,
    /** Payload columns carried into the coarse tagged state — see
      * [[IVFDenseEngine.carryCols]]. */
    carryCols: Seq[String] = Nil,
    /** Filtered search — see [[IVFDenseEngine.memberFilter]]: query-time
      * predicate pruning code rows BEFORE the ADC scan; same honest-ANN
      * short-result caveat and fill-disabled rule.
      */
    memberFilter: Option[org.apache.spark.sql.Column] = None,
    /** True once [[removeVectors]] ran — masked-index fill disabled; see
      * [[IVFDenseEngine.carriesDelete]]. */
    carriesDelete: Boolean = false)
  extends SearchEngine {
  require(baseTagged.isDefined == baseCodes.isDefined,
    "incremental add needs BOTH baseTagged and baseCodes (or neither)")

  override def params = Map("k" -> config.k.toString,
    "nlist" -> nlist.toString, "nprobe" -> nprobe.toString,
    "engine" -> "ivf_sq", "seed" -> kmeansSeed.toString,
    "fixedCents" -> fixedCentroids.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "fixedStats" -> fixedStats.map(s =>
      graft.core.Fingerprint.hash(s.toString)).getOrElse(""),
    "incremental" -> baseTagged.isDefined.toString,
    "carryCols" -> carryCols.mkString(","),
    "filter" -> memberFilter.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse("")) ++
    (if (carriesDelete) Map("carriesDelete" -> "true") else Map.empty)

  override protected def queryTimeParams: Set[String] =
    super.queryTimeParams + "filter"

  /** Coarse quantizer (centroids + list assignment). */
  lazy val ivf: IVFDenseEngine = IVFDenseEngine(corpus, nlist, nprobe,
    config, corpusIdxCol, corpusVecCol, kmeansSeed,
    stateDir = stateDir, corpusFingerprint = corpusFingerprint,
    fixedCentroids = fixedCentroids, baseTagged = baseTagged,
    carryCols = carryCols)

  /** Fine quantizer (per-dim stats + codes). */
  lazy val sq: SQDenseEngine = SQDenseEngine(corpus, config,
    corpusIdxCol, corpusVecCol,
    stateDir = stateDir, corpusFingerprint = corpusFingerprint,
    fixedStats = fixedStats, baseCodes = baseCodes)

  /** Incremental index maintenance — [[IVFDenseEngine.addVectors]]
    * extended to the scalar fine quantizer: coarse centroids AND per-dim
    * stats pinned from this engine, standing tagged rows + codes
    * appended verbatim, only the new vectors tagged and encoded —
    * O(|extra|), never O(index); search ≡ a pinned-state build over
    * base ∪ extra exactly (per-row independence on both quantizers).
    */
  def addVectors(extra: DataFrame, fingerprint: String = ""): IVFSQDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "addVectors with stateDir requires a fingerprint covering base+extra " +
        "— an unchanged state key would serve a previous add's cache")
    val row = sq.stats.head()
    copy(corpus = extra,
      fixedCentroids = Some(ivf.centroidSeq),
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))),
      baseTagged = Some(ivf.tagged.select(
        (Seq("idx", "__cv__", "cid") ++ carryCols).map(col): _*)),
      baseCodes = Some(sq.codes),
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Deletion for the composed engine — [[IVFPQDenseEngine
    * .removeVectors]] over IVF-SQ: the tagged lists map-side filter on
    * the predicate (over `idx` + carried payload columns) and the
    * payload-free codes anti-join against the removed ids; centroids
    * and per-dim stats stay pinned, nothing re-encodes.
    */
  def removeVectors(
      removed: org.apache.spark.sql.Column,
      fingerprint: String = ""): IVFSQDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "removeVectors with stateDir requires a fresh fingerprint covering " +
        "the surviving corpus — an unchanged state key would serve the " +
        "pre-delete cache")
    val row = sq.stats.head()
    // DELETE-WHERE null semantics: NULL = not removed on BOTH sides
    val rm = SearchEngine.isRemoved(removed)
    val removedIds = ivf.tagged.filter(rm).select("idx")
    copy(corpus = corpus.limit(0),
      fixedCentroids = Some(ivf.centroidSeq),
      fixedStats = Some((row.getSeq[Double](0), row.getSeq[Double](1))),
      baseTagged = Some(ivf.tagged.filter(!rm).select(
        (Seq("idx", "__cv__", "cid") ++ carryCols).map(col): _*)),
      baseCodes = Some(sq.codes.join(removedIds, Seq("idx"), "left_anti")),
      carriesDelete = true,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  private lazy val n: Long =
    corpus.count() + baseCodes.map(_.count()).getOrElse(0L)
  protected def fillRange: Option[Long] =
    if (memberFilter.isDefined || carriesDelete) None else Some(n)

  /** Codes tagged with their inverted-list id (+ carried payload):
    * (cid, idx, codes, carryCols*).
    */
  lazy val taggedCodes: DataFrame =
    sq.codes.join(ivf.tagged.select(
      (Seq("idx", "cid") ++ carryCols).map(col): _*), Seq("idx"))

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame = {
    val probed = ivf.probes(stamped, rowId)
      .join(sq.queryTables(stamped, rowId), Seq(rowId))
      .select(col(rowId), col("cid"), col("__qmin__"), col("__qd__"))
    // payload filter prunes code rows BEFORE broadcast and the ADC scan
    val filteredCodes =
      memberFilter.map(taggedCodes.filter).getOrElse(taggedCodes)
    val c =
      if (n <= PQDenseEngine.BroadcastCodeRowCap) broadcast(filteredCodes)
      else filteredCodes
    val scored = probed.join(c, Seq("cid"))
      .select(col(rowId), col("idx"), sq.adcScore.as("score"))
    SearchEngine.collapseTopK(stamped, scored, rowId, config.k)
  }
}

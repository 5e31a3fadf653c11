package graft.search

import graft.core.Pipe.qcol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** S2 brute-force dense search (reference `TorchVectorBase`,
  * warp_pipes/search/vector_base/torch.py:20-111: `scores = q @ V.T; topk`).
  *
  * The corpus `(idx, vector)` is cross-joined against the query frame —
  * broadcast only while the corpus is under [[BruteForceDenseEngine
  * .BroadcastRowCap]] rows (an explicit broadcast() hint is honored
  * regardless of size, so an unconditional hint would OOM the driver on a
  * large corpus; above the cap the plan degrades to a partitioned
  * cartesian, which is correct but quadratic — use [[IVFDenseEngine]]
  * there). Scored with a double-precision dot product and collapsed to
  * top-k per query. This is the exactness oracle for [[IVFDenseEngine]] —
  * mirroring the reference, where the torch matmul path is the
  * correctness oracle for FAISS (tests/search/test_dense.py:27-34).
  *
  * Query vectors ride in column `{queryField}.vector` (the reference
  * fetches them from the vector cache by row idx; the Spark-first
  * equivalent is a column materialized by the Predict pipe).
  */
object BruteForceDenseEngine {
  /** Max corpus rows to broadcast (~tens of MB at typical embedding dims).
    * Above the cap the cross join would run partitioned — correct but
    * quadratic — so the engine refuses unless `allowCartesian` is set;
    * use [[IVFDenseEngine]] for large corpora.
    */
  val BroadcastRowCap: Long = 500000L
}

case class BruteForceDenseEngine(
    corpus: DataFrame,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    /** Above [[BruteForceDenseEngine.BroadcastRowCap]] corpus rows the
      * plan degrades to a partitioned cartesian — correct but quadratic,
      * a scale trap for configs ported from the reference (where `dense`
      * IS the ANN engine, search/dense.py:28). The engine REFUSES to plan
      * it unless explicitly opted in here (registry name `dense_exact`);
      * use `dense_ivf` / `ivf_pq` for large corpora instead.
      */
    allowCartesian: Boolean = false,
    /** Filtered search (FAISS `IDSelector` / vector-DB payload-filter
      * capability): a predicate over the CORPUS frame's columns; only
      * matching rows are scored. Applied BEFORE the cross join, so at
      * scale the predicate reaches the corpus scan (parquet pushdown) and
      * selectivity directly cuts the quadratic scoring work. Exact: the
      * result is exactly brute-force search over the filtered corpus.
      * Masked-index fill is disabled under a filter — a pseudo-random
      * id from [0, n) could violate the predicate, which would be a
      * silent correctness trap for the caller's downstream filter logic.
      */
    corpusFilter: Option[org.apache.spark.sql.Column] = None)
  extends SearchEngine {

  override def params = Map("k" -> config.k.toString,
    "indexField" -> config.indexField, "engine" -> "dense_bruteforce",
    "allowCartesian" -> allowCartesian.toString,
    // content hash of the predicate expression: engines differing only
    // in filter must not share a pipe fingerprint (results differ)
    "filter" -> corpusFilter.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""))

  /** Corpus restricted to the filter (identity when none). */
  private lazy val searchable: DataFrame =
    corpusFilter.map(corpus.filter).getOrElse(corpus)

  private lazy val n: Long = searchable.count()
  protected def fillRange: Option[Long] =
    if (corpusFilter.isDefined) None else Some(n)

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame = {
    if (n > BruteForceDenseEngine.BroadcastRowCap && !allowCartesian)
      throw new IllegalStateException(
        s"BruteForceDenseEngine over $n corpus rows (> broadcast cap " +
          s"${BruteForceDenseEngine.BroadcastRowCap}) would plan a partitioned " +
          "cartesian product. Use an ANN engine ('dense_ivf', 'ivf_pq') at " +
          "this scale, or opt into the exact quadratic scan explicitly with " +
          "allowCartesian=true (registry name 'dense_exact').")
    val qv = qcol(s"${config.queryField}.vector")
    val cSel = searchable.select(
      col(corpusIdxCol).cast("long").as("idx"),
      col(corpusVecCol).as("__cv__"))
    val c =
      if (n <= BruteForceDenseEngine.BroadcastRowCap) broadcast(cSel) else cSel
    val exploded = stamped
      .select(col(rowId), qv.as("__qv__"))
      .crossJoin(c)
      .select(col(rowId), col("idx"),
        SearchEngine.dot(col("__qv__"), col("__cv__")).as("score"))
    SearchEngine.collapseTopK(stamped, exploded, rowId, config.k)
  }
}

/** S1 IVF-style approximate dense search (reference `DenseSearch` over
  * FAISS IVF, warp_pipes/search/dense.py:28-129 + vector_base/utils/
  * faiss.py:204-410 — GPU k-means + inverted lists + nprobe).
  *
  * Spark-first lowering: a seeded `spark.ml.clustering.KMeans` fit
  * trains `nlist` centroids; the corpus is tagged with its nearest
  * centroid id by an argmin-L2 expression against the (persisted)
  * centroids (the inverted lists, materialized as a cluster-partitioned
  * frame);
  * a query probes its `nprobe` nearest centroids and equi-joins the
  * matching clusters only — pruning the scored candidates by
  * ~nprobe/nlist. PQ compression is out of scope (documented, SURVEY S1).
  *
  * Call [[build]] once per corpus; the tagged corpus and centroid table
  * are small state DataFrames that persist across queries.
  */
case class IVFDenseEngine(
    corpus: DataFrame,
    nlist: Int = 16,
    nprobe: Int = 4,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusVecCol: String = "vector",
    kmeansSeed: Long = 42L,
    /** Persist centroids + tagged corpus under `stateDir` keyed by
      * (corpusFingerprint, engine fingerprint) — reference engine state
      * dirs (pipes/index.py:65-99). Cache hits skip the KMeans fit.
      */
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    /** Caller-supplied centroids (nlist x dim) instead of a KMeans fit,
      * making the whole engine DETERMINISTIC and externally replayable —
      * the coarse-quantizer analogue of [[PQDenseEngine]]'s
      * `fixedCodebooks`.
      */
    fixedCentroids: Option[Seq[Seq[Double]]] = None,
    /** Already-tagged base index rows `(idx, __cv__, cid)` appended
      * verbatim after the tag step — the incremental-add path (see
      * [[addVectors]]): only `corpus` (the NEW vectors) is tagged and,
      * with `stateDir`, cached; the base index rides along untouched.
      * Requires `fixedCentroids` (re-fitting KMeans on only the new
      * rows would silently move the coarse quantizer).
      */
    baseTagged: Option[DataFrame] = None,
    /** Payload columns carried from the corpus INTO the tagged index
      * (and its persisted state) — the filterable attributes of the
      * vector-DB payload-filter capability. BUILD-affecting: different
      * carried columns fork the persisted state key. `baseTagged` frames
      * (incremental add) must carry the same columns.
      */
    carryCols: Seq[String] = Nil,
    /** Filtered search (FAISS `IDSelector` / vector-DB payload filter):
      * a predicate over `idx` and the carried payload columns, applied
      * to the inverted-list members AFTER probe pruning — selectivity
      * multiplies with nprobe/nlist, and the expensive dot products run
      * only on rows passing both. QUERY-TIME: the predicate does not
      * fork the persisted index state (same `buildStateKey`), exactly
      * like `nprobe`. Honest ANN caveat (FAISS has the same): under a
      * selective filter the probed lists may hold fewer than k matches —
      * the result is the exact top-k of (probed ∩ filtered), which can
      * be SHORT; raise nprobe for recall. Masked-index fill is disabled
      * under a filter (a random fill id could violate the predicate).
      */
    memberFilter: Option[org.apache.spark.sql.Column] = None,
    /** True on every engine descended from a [[removeVectors]] call
      * (survives copy through add/rebalance — the id space stays holed).
      * Masked-index fill is DISABLED while set: fill draws pmod(hash, n)
      * over [0, n), and after a delete those ids can be exactly the
      * REMOVED (takedown) rows — the same silent correctness trap the
      * memberFilter rule guards against.
      */
    carriesDelete: Boolean = false)
  extends SearchEngine {
  require(baseTagged.isEmpty || fixedCentroids.isDefined,
    "baseTagged (incremental add) requires fixedCentroids — the base " +
      "index's coarse quantizer must be pinned, not re-fit")

  override def params = Map("k" -> config.k.toString, "nlist" -> nlist.toString,
    "nprobe" -> nprobe.toString, "engine" -> "dense_ivf",
    // seed participates in the state-cache key: engines differing only in
    // seed must not share persisted centroids
    "seed" -> kmeansSeed.toString,
    // content hash: different fixed centroids must not share a state key
    "fixedCents" -> fixedCentroids.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse(""),
    "incremental" -> baseTagged.isDefined.toString,
    // build-affecting: carried payload columns live in the tagged state
    "carryCols" -> carryCols.mkString(","),
    // pipe-fingerprint-affecting but QUERY-TIME for the state key
    "filter" -> memberFilter.map(c =>
      graft.core.Fingerprint.hash(c.toString)).getOrElse("")) ++
    // only when set, so pre-existing engines keep their keys; fill
    // behavior differs on a delete-carrying engine, so the pipe
    // fingerprint must differ
    (if (carriesDelete) Map("carriesDelete" -> "true") else Map.empty)

  /** The member predicate selects which already-built lists' rows score —
    * like `nprobe` it must hit the SAME persisted index, not fork it.
    */
  override protected def queryTimeParams: Set[String] =
    super.queryTimeParams + "filter"

  private lazy val n: Long =
    corpus.count() + baseTagged.map(_.count()).getOrElse(0L)

  /** Incremental index maintenance: a new engine over `extra` whose
    * coarse quantizer is THIS engine's (already built) centroids —
    * [[centroidSeq]]: nlist×dim doubles, bounded by config not data,
    * collected only when trained — and whose base index is THIS engine's
    * tagged frame, appended verbatim. Only the new vectors are tagged (argmin-L2, the same
    * deterministic tie-break as `fixedCentroids` tagging), so the add
    * costs O(|extra|), not O(index): at 100 TB the standing index is
    * never re-shuffled, re-tagged, or re-fit. Search over the result is
    * EXACTLY the search of a fixed-centroid engine built over
    * base ∪ extra (per-row tagging is independent), which is what
    * [[IVFIncrementalSpec]] and the s25 gate assert. When persisting,
    * pass a `fingerprint` covering base+extra so state keys stay
    * content-addressed.
    */
  def addVectors(extra: DataFrame, fingerprint: String = ""): IVFDenseEngine = {
    // With a stateDir, successive adds with an unchanged fingerprint
    // would produce IDENTICAL persisted-state keys (params + fixedCents
    // hash + corpusFingerprint don't see `extra`), so a second add would
    // silently read the first add's cached tagged frame.
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "addVectors with stateDir requires a fingerprint covering base+extra " +
        "— an unchanged state key would serve a previous add's cache")
    copy(corpus = extra, fixedCentroids = Some(centroidSeq),
      baseTagged = Some(tagged.select(
        (Seq("idx", "__cv__", "cid") ++ carryCols).map(col): _*)),
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Deletion — the third index-maintenance verb next to [[addVectors]]
    * (O(new)) and [[rebalance]] (O(index)): drop every standing row
    * matching `removed` (a predicate over `idx` and the carried payload
    * columns — FAISS `remove_ids` generalized to attribute deletes:
    * takedowns, dedup purges, retention windows). Because per-row
    * tagging is independent, filtering the TAGGED frame is exactly
    * equivalent to a pinned-centroid build over the surviving corpus —
    * nothing re-fits, nothing re-tags, and the filter is a map-side
    * predicate fused into the standing index scan (zero shuffle; with
    * `stateDir` the surviving frame persists once under the fresh
    * fingerprint). At 100 TB a delete costs one filtered pass, not an
    * index rebuild. Centroids stay pinned — deletes that empty a list
    * just make that probe cheap; reclaim balance with [[rebalance]].
    */
  def removeVectors(removed: org.apache.spark.sql.Column, fingerprint: String = ""): IVFDenseEngine = {
    // Same state-key hazard as addVectors: params don't see `removed`'s
    // row effect, so an unchanged fingerprint would serve the pre-delete
    // tagged cache — resurrecting the removed rows.
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "removeVectors with stateDir requires a fresh fingerprint covering " +
        "the surviving corpus — an unchanged state key would serve the " +
        "pre-delete cache")
    // DELETE-WHERE null semantics (SearchEngine.isRemoved): a NULL
    // predicate row is NOT removed — a bare filter(!removed) would
    // silently drop it from the survivors
    copy(corpus = corpus.limit(0), fixedCentroids = Some(centroidSeq),
      baseTagged = Some(tagged.filter(!SearchEngine.isRemoved(removed)).select(
        (Seq("idx", "__cv__", "cid") ++ carryCols).map(col): _*)),
      carriesDelete = true,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Coarse-quantizer maintenance for LIST SKEW: [[addVectors]] pins the
    * centroids, so a drifting ingest grows hot lists (probe cost follows
    * the largest probed list, not n/nlist — watch [[listSizes]]). Returns
    * a fresh NON-incremental engine over the full standing index rows
    * with the quantizer retrained — a seeded KMeans fit over the full
    * corpus by default, or `newFixedCentroids` for an externally
    * replayable quantizer — and every row re-tagged. O(index) by design
    * (a re-tag is a full pass): run it as a periodic maintenance job,
    * not per batch; the O(new) add path stays [[addVectors]]. Search at
    * nprobe = nlist is exactly invariant (total probe ≡ brute force for
    * ANY quantizer); partial-probe recall follows the new balanced lists.
    */
  def rebalance(
      fingerprint: String = "",
      newNlist: Option[Int] = None,
      newFixedCentroids: Option[Seq[Seq[Double]]] = None): IVFDenseEngine = {
    require(fingerprint.nonEmpty || stateDir.isEmpty,
      "rebalance with stateDir requires a fresh fingerprint — an unchanged " +
        "state key would serve the pre-rebalance tags")
    copy(
      corpus = tagged.select(
        col("idx").as(corpusIdxCol) +: col("__cv__").as(corpusVecCol) +:
          carryCols.map(col): _*),
      nlist = newNlist.getOrElse(nlist),
      fixedCentroids = newFixedCentroids,
      baseTagged = None,
      corpusFingerprint =
        if (fingerprint.nonEmpty) fingerprint else corpusFingerprint)
  }

  /** Inverted-list occupancy `(cid, count)` — the skew monitor
    * [[rebalance]] acts on.
    */
  def listSizes: DataFrame = tagged.groupBy("cid").count()

  protected def fillRange: Option[Long] =
    if (memberFilter.isDefined || carriesDelete) None else Some(n)

  /** `centroids` = (cid, centroid array<double>); `taggedOwn` = the tag
    * of THIS engine's `corpus` only (what the incremental fine quantizer
    * of [[IVFPQDenseEngine]] encodes); `tagged` = taggedOwn plus any
    * `baseTagged` — the full index. With `stateDir` each frame is
    * fingerprint-cached parquet, and the KMeans fit runs only on a
    * centroids cache miss (`trained` is lazy and only forced inside that
    * compute closure).
    */
  lazy val (centroids: DataFrame, taggedOwn: DataFrame, tagged: DataFrame) =
    build()

  /** The centroids in cid order — nlist×dim doubles, bounded by config,
    * not data. What the maintenance verbs pin. Pinned centroids are
    * returned as given (no Spark job); trained ones are collected from the
    * centroids frame. Both come back as `ArraySeq`s, the type a collect
    * yields: `params` hashes `toString`, so an added engine's state key
    * stays the same whichever way its centroids were obtained.
    */
  private[search] lazy val centroidSeq: Seq[Seq[Double]] =
    fixedCentroids.map(c => ArraySeq.from(c.map(v => ArraySeq.from(v))))
      .getOrElse(IVFDenseEngine.collectCentroids(centroids))

  private lazy val prepared: DataFrame = corpus.select(
    col(corpusIdxCol).cast("long").as("idx") +:
      col(corpusVecCol).as("__cv__") +:
      carryCols.map(col): _*)

  /** The coarse quantizer stays on `spark.ml` KMeans, unlike the PQ
    * codebooks ([[Lloyd]]): `SearchSpec`'s IVF recall bound was measured
    * on this fit's seed-42 centroids, and an equally good Lloyd fit
    * (lower inertia) lands under it.
    */
  private lazy val trained: Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    new KMeans().setK(nlist).setSeed(kmeansSeed).setMaxIter(20)
      .fit(prepared.select(array_to_vector(org.apache.spark.sql.functions
        .transform(col("__cv__"), _.cast("double"))).as("features")))
      .clusterCenters.map(_.toArray.toSeq).toSeq
  }

  def build(): (DataFrame, DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    def persisted(frame: String)(compute: => DataFrame): DataFrame =
      stateDir match {
        case Some(dir) =>
          graft.core.CachedStage(spark, dir,
            buildStateKey(corpusFingerprint, frame))(compute)
        case None => compute
      }
    val centsDf = persisted("centroids") {
      val cents = fixedCentroids match {
        case Some(c) =>
          require(c.size == nlist,
            s"fixedCentroids must have nlist=$nlist rows (got ${c.size})")
          c
        case None => trained
      }
      spark.createDataFrame(
        cents.zipWithIndex.map { case (v, i) => (i, v) }).toDF("cid", "centroid")
    }
    val taggedDf = persisted("tagged") {
      // argmin-L2 tagging as pure expressions, lowest-cid tie-break —
      // externally replayable. Trained centroids are read back from the
      // (possibly persisted) centroids frame (one small collect job), so
      // a half-warm state dir re-tags against the cached centroids and
      // never re-trains. Cost: O(nlist·d) per row, and the higher-order
      // functions run interpreted (CodegenFallback), unlike spark.ml's
      // compiled `predict`.
      val cents = fixedCentroids.getOrElse(IVFDenseEngine.collectCentroids(centsDf))
      val v = org.apache.spark.sql.functions.transform(
        col("__cv__"), _.cast("double"))
      val dists = org.apache.spark.sql.functions.transform(
        typedLit(cents), c =>
          aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
            lit(0d), (acc, d) => acc + d))
      prepared.select(col("idx") +: col("__cv__") +:
        (array_position(dists, array_min(dists)) - 1).cast("int").as("cid") +:
        carryCols.map(col): _*)
    }
    // incremental add: the base index is appended OUTSIDE the persisted
    // stage, so the cache (and the tag computation) covers only the new
    // rows — O(|extra|) maintenance, never O(index)
    val idxCols = Seq("idx", "__cv__", "cid") ++ carryCols
    val withBase = baseTagged match {
      case Some(base) => base.select(idxCols.map(col): _*)
        .unionByName(taggedDf.select(idxCols.map(col): _*))
      case None => taggedDf
    }
    (centsDf, taggedDf, withBase)
  }

  /** `(rowId, __qv__, cid, __cscore__)` — each query row paired with its
    * `nprobe` nearest centroid ids and the query·centroid score (the
    * probe step, reusable by [[IVFPQDenseEngine]]; `__cscore__` is the
    * exact coarse term of the residual-ADC decomposition
    * `q·x = q·centroid + q·residual`).
    */
  def probes(stamped: DataFrame, rowId: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = qcol(s"${config.queryField}.vector")
    // probe: nprobe nearest centroids per query (centroid table is tiny)
    val probeW = Window.partitionBy(col(rowId)).orderBy(desc("__cscore__"), asc("cid"))
    stamped.select(col(rowId), qv.as("__qv__"))
      .crossJoin(broadcast(centroids))
      .withColumn("__cscore__", SearchEngine.dot(col("__qv__"), col("centroid")))
      .withColumn("__crank__", row_number().over(probeW))
      .filter(col("__crank__") <= nprobe)
      .select(col(rowId), col("__qv__"), col("cid"), col("__cscore__"))
  }

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame = {
    // score only the probed clusters' members; the payload filter prunes
    // members BEFORE the dot products, composing multiplicatively with
    // the nprobe/nlist pruning
    val members = memberFilter.map(tagged.filter).getOrElse(tagged)
    val exploded = probes(stamped, rowId).join(members, Seq("cid"))
      .select(col(rowId), col("idx"),
        SearchEngine.dot(col("__qv__"), col("__cv__")).as("score"))
    SearchEngine.collapseTopK(stamped, exploded, rowId, config.k)
  }
}

object IVFDenseEngine {
  private def collectCentroids(centroids: DataFrame): Seq[Seq[Double]] =
    centroids.orderBy("cid").collect()
      .map(r => r.getSeq[Double](1).toIndexedSeq: Seq[Double]).toIndexedSeq

  /** Deterministic formula centroids for gates/specs: component t of
    * centroid c is `(((c*29 + t*13) mod 17) - 8) * 0.05` — integer
    * arithmetic then one multiply, replayable in any engine (the coarse
    * analogue of [[PQDenseEngine.formulaCodebooks]]).
    */
  def formulaCentroids(nlist: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nlist).map(c => (0 until dim).map(t =>
      (((c * 29 + t * 13) % 17) - 8) * 0.05))
}

package graft.search

import graft.core.Pipe.qcol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bm25Index, Bm25Serve, Bm25ServeExpr, ColumnBridge, ServeKernels}

/** S3 native BM25 lexical search (reference `ElasticSearch` engine,
  * warp_pipes/search/elasticsearch.py:44-341 — rebuilt Spark-native:
  * no external service, the postings statistics are DataFrames).
  *
  * Build: tokenize the corpus text (whitespace split, punctuation
  * stripped — reference `_tokenize`, support/elasticsearch.py:374-381) →
  *   postings (term, docId, tf), doc lengths, document frequencies,
  *   N and avgdl.
  * Scoring: per (query, doc), the sum over query-term OCCURRENCES of
  *     idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))
  *   with Lucene idf = ln(1 + (N - df + 0.5)/(df + 0.5)) and ES defaults
  *   k1=1.2, b=0.75 (SURVEY §7.4 risk 4), ranked best-first by
  *   [[SearchEngine.collapseTopK]]'s order.
  *
  * Query shape, chosen once per engine instance from the statistics'
  * token count `n * avgdl`, an upper bound on the posting rows (no job):
  *   - at most [[BM25Engine.BroadcastPostingRowCap]]: on the first query
  *     the rows of `postings ⋈ dfreq ⋈ docs`, with their idf and tf parts
  *     computed by Spark, are collected once (job description `BM25Engine
  *     serve <fingerprint prefix>`), packed into per-term arrays on the
  *     executors, and shipped as a broadcast variable; a query batch is
  *     then one narrow projection calling
  *     [[org.apache.spark.sql.graft.Bm25ServeExpr]] per row — one Spark
  *     job per batch, no per-batch state broadcast, no exchange. Near
  *     the cap the collect costs more than one join-plan batch (at the
  *     cap on 4 cores, a first batch took 10.5 s against 7.0 s, a later
  *     one 0.20 s against 1.81 s); on small indexes (the sf0.1 gates) a
  *     first batch is already faster than the join plan;
  *   - above the cap: the partitioned join plan — explode query-term
  *     occurrences → equi-join postings on term → dfreq → docs → sum per
  *     (query, doc) → heap top-k, the sum and the top-k sharing one
  *     exchange on the query row id. It is the plan that runs an index
  *     larger than executor memory.
  * Both paths read the same frames (a `maxDfFraction` cut or
  * [[removeDocuments]] lands in the index) and return the same ids; the
  * join plan's sum order is unspecified, so scores match exactly once
  * `roundScores` is set.
  *
  * Options mirrored from the reference:
  *   - auxiliary query field scored with weight
  *     `1 + max(w * ln(max(len_q/len_aux, 1)), 0)` when
  *     `scaleAuxWeightByLengths` (support/elasticsearch.py:384-398);
  *   - score temperature division (elasticsearch.py:289-292);
  *   - term filter: equi-join on a corpus column (filterKey), applied to
  *     the main field's contributions.
  *
  * The postings join shuffles by term — even at 100 TB the term space
  * hashes uniformly; stopword-heavy terms are bounded by per-doc tf
  * aggregation happening corpus-side before the join.
  */
case class BM25Engine(
    corpus: DataFrame,
    config: SearchConfig = SearchConfig(),
    corpusIdxCol: String = "idx",
    corpusTextCol: String = "text",
    k1: Double = 1.2,
    b: Double = 0.75,
    auxWeight: Double = 0.0,
    scaleAuxWeightByLengths: Boolean = true,
    temperature: Option[Double] = None,
    filterKey: Option[String] = None,
    /** Round scores to this many decimals BEFORE ranking. BM25 sums
      * per-term contributions whose float addition order is engine-
      * dependent; ulp-level divergence reorders candidates whose scores
      * tie at any sane precision. Rounding makes the ranking (and an
      * external oracle's) deterministic; tie-break is by ascending idx.
      */
    roundScores: Option[Int] = None,
    /** Drop terms whose document frequency exceeds this fraction of the
      * corpus from the postings/scoring join (standard Lucene-style
      * stopword elision). Ultra-common terms contribute near-zero idf but
      * create the one join-skew hazard at scale: their posting lists hash
      * to a single partition. Pruning them at stats-build removes the hot
      * keys from every downstream join. Opt-in; None scores all terms.
      */
    maxDfFraction: Option[Double] = None,
    /** When set, build-side statistics persist as parquet under
      * `stateDir/<hash(corpusFingerprint, engine fingerprint, frame)>`
      * and later engine instances load instead of recomputing — the
      * reference's engine state dirs
      * (`cache_dir/fz-index-<corpus_fp>/search-<cfg_fp>`,
      * pipes/index.py:65-99), rebuilt on [[graft.core.CachedStage]].
      */
    stateDir: Option[String] = None,
    corpusFingerprint: String = "",
    /** Inject pre-built statistics instead of building from `corpus` —
      * the incremental-maintenance path: [[BM25Stats.merge]] of a
      * persisted base index with a freshly-built delta yields EXACTLY the
      * full-rebuild statistics, so a 100 TB corpus is never re-tokenized
      * to add a day's documents. `corpus` is ignored when set.
      */
    fixedStats: Option[BM25Stats] = None,
    /** True once [[removeDocuments]] ran — masked-index fill disabled:
      * fill draws pmod(hash, n) over [0, n) and after a delete those ids
      * can be exactly the REMOVED docs. See
      * [[IVFDenseEngine.carriesDelete]].
      */
    carriesDelete: Boolean = false) extends SearchEngine {

  override def params = Map("k" -> config.k.toString, "k1" -> k1.toString,
    "b" -> b.toString, "auxWeight" -> auxWeight.toString,
    "temperature" -> temperature.mkString, "filterKey" -> filterKey.mkString,
    "roundScores" -> roundScores.mkString,
    "maxDfFraction" -> maxDfFraction.mkString, "engine" -> "bm25",
    "fixedStats" -> fixedStats.isDefined.toString) ++
    (if (carriesDelete) Map("carriesDelete" -> "true") else Map.empty)

  /** The persisted frames are raw postings/dfreq/docs statistics — every
    * scoring knob (k1/b/aux/temperature/rounding) and even maxDfFraction
    * (applied on LOAD, after the persisted frames) is query-time: none of
    * them may fork the persisted index. filterKey stays build-affecting
    * (the docs frame carries the `__filter__` column).
    */
  override protected def queryTimeParams: Set[String] = Set(
    "k", "k1", "b", "auxWeight", "temperature", "roundScores",
    "maxDfFraction")

  /** Whitespace tokens with punctuation stripped (reference `_tokenize`).
    * One-pass codegen kernel — bit-identical to the former HOF chain
    * `filter(transform(split(trim(text),"\\s+"), regexp_replace(punct)),
    * length>0)`, which ran interpreted with a regex match per token (the
    * dominant CPU of every fresh stats build; parity: MinhashExprsSpec).
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.PunctStripTokensExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  // fillRange reuses the stats totals (docs count == corpus rows) so the
  // masked-fill path costs no extra corpus scan; disabled once a delete
  // holed the doc-id space (see carriesDelete)
  protected def fillRange: Option[Long] =
    if (carriesDelete) None else Some(stats.n)

  /** Build-side statistics; small relative to the corpus, reusable across
    * query batches, and (with `stateDir`) persisted across engine
    * instances.
    */
  lazy val stats: BM25Stats = fixedStats.getOrElse(builtStats)

  private lazy val builtStats: BM25Stats = {
    lazy val base = corpus.select(
      Seq(col(corpusIdxCol).cast("long").as("docId"),
        tokens(qcol(corpusTextCol)).as("toks")) ++
        filterKey.map(fk => qcol(fk).as("__filter__")): _*)
    lazy val docsRaw = base.select(
      Seq(col("docId"), size(col("toks")).as("len")) ++
        filterKey.map(_ => col("__filter__")).toSeq: _*)
    lazy val postingsRaw = base
      .select(Seq(col("docId"), posexplode(col("toks")).as(Seq("pos", "term"))): _*)
      .groupBy("term", "docId").agg(count(lit(1)).as("tf"))
    // Without a stateDir the stats frames are still the engine's
    // build-once/query-many index: the totals action, the dfreq
    // aggregation, and every score join would otherwise re-tokenize the
    // corpus per action. MEMORY_AND_DISK keeps one materialization (and
    // spills, never OOMs, when postings outgrow executor memory at scale).
    def persisted(frame: String)(compute: => DataFrame): DataFrame =
      stateDir match {
        case Some(dir) =>
          graft.core.CachedStage(corpus.sparkSession, dir,
            buildStateKey(corpusFingerprint, frame))(compute)
        case None =>
          compute.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    val docs = persisted("docs")(docsRaw)
    val postingsAll = persisted("postings")(postingsRaw)
    val dfreqAll = persisted("dfreq")(
      postingsAll.groupBy("term").agg(countDistinct("docId").as("df")))
    val totals = docs.agg(count(lit(1)).as("n"), avg("len").as("avgdl"))
      .collect()(0)
    val (postings, dfreq) = maxDfFraction match {
      case Some(frac) =>
        val cut = frac * totals.getLong(0)
        val kept = dfreqAll.filter(col("df") <= cut)
        (postingsAll.join(kept.select("term"), Seq("term"), "left_semi"), kept)
      case None => (postingsAll, dfreqAll)
    }
    BM25Stats(postings, dfreq, docs, totals.getLong(0), totals.getDouble(1))
  }

  /** Deletion on the standing index: a new engine whose statistics are
    * [[BM25Stats.remove]] of this engine's — docs matching `removed`
    * stop being retrievable AND stop counting in df/n/avgdl, exactly as
    * a rebuild over the surviving corpus (the s36 gate replays that
    * rebuild). The corpus is never re-tokenized. The predicate may
    * reference `docId` alone (map-side filters everywhere) or any docs
    * column (`len`, `__filter__`) — see [[BM25Stats.remove]] for the
    * two shapes. NULL predicate rows are NOT removed (SQL DELETE-WHERE
    * semantics).
    */
  def removeDocuments(removed: Column): BM25Engine =
    copy(fixedStats = Some(BM25Stats.remove(stats, removed)),
      carriesDelete = true)

  /** Lucene idf of the `df` column against the statistics' totals. */
  private def idf(s: BM25Stats): Column =
    log(lit(1d) + (lit(s.n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))

  /** The tf part of a posting row against its doc's `len`. */
  private def tfPart(s: BM25Stats): Column =
    (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / lit(s.avgdl)))

  /** The aux field's weight: `1 + max(w * ln(max(len_q/len_aux, 1)), 0)`
    * when scaled (0 for an empty aux text), plain `w` otherwise.
    */
  private def auxWeightOf(qText: Column, auxText: Column): Column =
    if (scaleAuxWeightByLengths) {
      val lenQ = size(tokens(qText)).cast("double")
      val lenA = size(tokens(auxText)).cast("double")
      when(lenA > 0,
        lit(1d) + greatest(lit(auxWeight) * log(greatest(lenQ / lenA, lit(1d))), lit(0d)))
        .otherwise(lit(0d))
    } else lit(auxWeight)

  /** Temperature division, then rounding, of a summed score. */
  private def finishScore(score: Column): Column = {
    val tempered = temperature.fold(score)(t => score / t)
    roundScores.fold(tempered)(p => round(tempered, p))
  }

  private def hasAux(stamped: DataFrame): Boolean =
    auxWeight > 0 && stamped.columns.contains(s"${config.queryField}.aux_text")

  private def scoreJoin(
      queries: DataFrame, rowId: String, termCol: Column, weight: Column): DataFrame = {
    val s = stats
    val hasFilter = filterKey.isDefined && queries.columns.contains("__qfilter__")
    val qTerms = queries.select(
      col(rowId) +: weight.as("__w__") +:
        (if (hasFilter) Seq(col("__qfilter__")) else Nil) :+
        posexplode(termCol).as(Seq("__qpos__", "term")): _*)
    val docCols = Seq("docId", "len") ++ (if (hasFilter) Seq("__filter__") else Nil)
    val joined = qTerms
      .join(s.postings, Seq("term"))
      .join(s.dfreq, Seq("term"))
      .join(s.docs.select(docCols.map(col): _*), Seq("docId"))
    val filtered =
      if (hasFilter) joined.filter(col("__filter__") === col("__qfilter__"))
      else joined
    filtered.select(col(rowId), col("docId").as("idx"),
      (col("__w__") * idf(s) * tfPart(s)).as("score"))
  }

  protected def searchRanked(stamped: DataFrame, rowId: String): DataFrame =
    if (served.isDefined) searchServed(stamped, rowId) else searchJoined(stamped, rowId)

  /** The index a query batch is served from, with its key (see
    * [[SearchEngine.serveKey]]): every row of `postings ⋈ dfreq ⋈ docs`
    * (the join plan's candidate rows) with its idf and tf parts, collected
    * once per engine instance, packed per partition on the executors, and
    * broadcast (`sc.broadcast` runs no job). None — the join plan serves —
    * when the statistics' token count `n * avgdl`, which bounds the
    * posting rows (a doc has at most `len` distinct terms), exceeds
    * [[BM25Engine.BroadcastPostingRowCap]]: an index above the cap is
    * never collected. Doc ids repeated in the corpus can multiply the
    * joined rows past that bound; the collected count is checked too.
    */
  @transient private lazy val served
      : Option[(org.apache.spark.broadcast.Broadcast[Bm25Index], String)] = {
    val s = stats
    val cap = BM25Engine.BroadcastPostingRowCap
    if (s.n * s.avgdl > cap) None
    else {
      val filter = filterKey.map(_ => col("__filter__")).toSeq
      val rows = s.postings.join(s.dfreq, Seq("term"))
        .join(s.docs.select(Seq(col("docId"), col("len")) ++ filter: _*), Seq("docId"))
        .select(Seq(col("term"), col("docId"), idf(s).as("idf"), tfPart(s).as("tfPart")) ++
          filter: _*)
      val filterType = filterKey.map(_ => rows.schema("__filter__").dataType)
      val spark = rows.sparkSession
      val index = Bm25Index.merge(SearchEngine.serveCollect(this, spark)(
        ServeKernels.collectPacked(rows)(Bm25Index.pack(filterType))).toSeq)
      if (index.rows > cap) None
      else Some((spark.sparkContext.broadcast(index), SearchEngine.serveKey(this, rows)))
    }
  }

  /** The served query plan: one [[Bm25ServeExpr]] call per query row. */
  private[search] def searchServed(stamped: DataFrame, rowId: String): DataFrame = {
    val (index, key) = served.getOrElse(throw new IllegalStateException(
      s"BM25 postings exceed the broadcast cap ${BM25Engine.BroadcastPostingRowCap}"))
    val spark = stamped.sparkSession
    val qText = qcol(s"${config.queryField}.text")
    val aux = hasAux(stamped)
    val auxText = qcol(s"${config.queryField}.aux_text")
    val qFilter = filterKey.map(fk => qcol(s"${config.queryField}.${stripField(fk)}"))
    val post =
      if (temperature.isEmpty && roundScores.isEmpty) None
      else Some(ServeKernels.bound(spark, Bm25ServeExpr.scoreSchema, finishScore(col("score"))))
    val filterEq = qFilter.map { q =>
      val schema = Bm25ServeExpr.filterSchema(stats.docs.schema("__filter__").dataType,
        stamped.select(q).schema.head.dataType)
      ServeKernels.bound(spark, schema, col("filter") === col("qfilter"))
    }
    val inputs = Seq(tokens(qText)) ++
      (if (aux) Seq(tokens(auxText), auxWeightOf(qText, auxText)) else Nil) ++ qFilter
    val kernel = Bm25ServeExpr(inputs.map(ColumnBridge.expression),
      new Bm25Serve(index, key, config.k, aux, post, filterEq))
    SearchEngine.attachServed(stamped, rowId, ColumnBridge.column(kernel))
  }

  /** The partitioned join plan: query-term occurrences ⋈ postings ⋈
    * dfreq ⋈ docs, summed per (query, doc), heap top-k per query.
    */
  private[search] def searchJoined(stamped: DataFrame, rowId: String): DataFrame = {
    val qText = qcol(s"${config.queryField}.text")
    val base = stamped.select(col(rowId) +: qText.as("__qt__") +:
      filterKey.map(fk =>
        qcol(s"${config.queryField}.${stripField(fk)}").as("__qfilter__")).toSeq: _*)
    val mainScores = scoreJoin(base, rowId, tokens(col("__qt__")), lit(1d))

    val scored =
      if (hasAux(stamped)) {
        val auxBase = stamped.select(col(rowId), qText.as("__qt__"),
          qcol(s"${config.queryField}.aux_text").as("__at__"))
        val auxScores = scoreJoin(auxBase, rowId, tokens(col("__at__")),
          auxWeightOf(col("__qt__"), col("__at__")))
        mainScores.unionByName(auxScores)
      } else mainScores

    // partitioned by the row id alone, the (row, doc) sum needs no
    // exchange of its own and hands the top-k its rows in place
    val summed = scored.repartition(col(rowId)).groupBy(col(rowId), col("idx"))
      .agg(sum("score").as("score"))
    SearchEngine.collapseTopK(stamped,
      summed.withColumn("score", finishScore(col("score"))), rowId, config.k)
  }

  private def stripField(fk: String): String =
    fk.split("\\.").last
}

object BM25Engine {
  /** Max posting rows (bounded by the token count `n * avgdl`) served
    * from a broadcast: the memory envelope of
    * [[PQDenseEngine.BroadcastCodeRowCap]]. A row costs 24 bytes in the
    * index (doc id, idf and tf parts; plus the filter value with a filter
    * key), so 4M rows ≈ 100 MB on every executor. Measured at the cap
    * (4M postings over 100k docs, 4 cores, `-Xmx3g`): the index retains
    * 136 MB of driver heap after the build (value plus broadcast blocks);
    * sampled heap use peaked at 0.9–1.3 GB during the first batch, most
    * of it garbage of the per-partition packing. Above the cap the join
    * plan serves, and nothing is collected.
    */
  val BroadcastPostingRowCap: Long = 4000000L
}

case class BM25Stats(
    postings: DataFrame, dfreq: DataFrame, docs: DataFrame,
    n: Long, avgdl: Double)

object BM25Stats {
  import org.apache.spark.sql.functions._

  /** Additive index maintenance: merge two independently-built statistic
    * sets over DISJOINT doc-id sets into the statistics a full rebuild
    * over the union would produce — exactly:
    *   - postings/docs rows are unions (doc ids disjoint ⇒ no regroup);
    *   - per-term document frequencies add (distinct doc counts over
    *     disjoint sets);
    *   - totals are re-aggregated from the merged docs frame, so
    *     n/avgdl are the same count/avg the full build computes (not a
    *     weighted-mean approximation — integer len sum, one division).
    *
    * This is the O(delta) index-update path at 100 TB: the base side's
    * frames come from the persisted state dir, only the delta corpus is
    * tokenized. The docs frames must agree on carrying (or not) the
    * filterKey column.
    */
  def merge(a: BM25Stats, b: BM25Stats): BM25Stats = {
    val postings = a.postings.unionByName(b.postings)
    val dfreq = a.dfreq.withColumnRenamed("df", "__dfa__")
      .join(b.dfreq.withColumnRenamed("df", "__dfb__"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("__dfa__"), lit(0L)) + coalesce(col("__dfb__"), lit(0L))).as("df"))
    val docs = a.docs.unionByName(b.docs)
    val totals = docs.agg(count(lit(1)).as("n"), avg("len").as("avgdl")).collect()(0)
    BM25Stats(postings, dfreq, docs, totals.getLong(0), totals.getDouble(1))
  }

  /** Deletion — the inverse of [[merge]], and exact for the same reason
    * every BM25 statistic is a sum/count: drop every doc matching
    * `removed` and the result statistics are EXACTLY what a full rebuild
    * over the surviving corpus computes —
    *   - per-term df subtracts the distinct removed docs containing the
    *     term (one O(removed-postings) aggregate — at 100 TB a takedown
    *     re-tokenizes nothing and never rescans the standing postings
    *     beyond the fused filter); terms whose df hits 0 drop out, as a
    *     rebuild would drop them;
    *   - n/avgdl re-aggregate from the surviving docs frame (integer len
    *     sum, one division — not a float-delta approximation).
    *
    * Two predicate shapes, picked by the columns the predicate
    * references:
    *   - `docId`-only (the takedown common case): postings and docs both
    *     filter MAP-SIDE — zero shuffle beyond the df aggregate;
    *   - any docs column (`len`, `__filter__` where carried): the
    *     removed doc ids resolve against the DOCS frame first (the only
    *     frame carrying those columns — applying such a predicate to the
    *     postings would throw at plan time), then postings semi/anti-join
    *     on docId. One extra join keyed on docId — unique, evenly
    *     hashed, never skewed.
    * NULL predicate rows are NOT removed on either side (SQL
    * DELETE-WHERE semantics — [[SearchEngine.isRemoved]]), so a nullable
    * payload column cannot silently delete unmatched rows or leave df
    * inflated relative to the surviving postings.
    *
    * Caveat: statistics already pruned by `maxDfFraction` stay pruned —
    * the cut was taken at build against the old n; a shrunken corpus
    * cannot resurrect elided terms without a rebuild.
    */
  def remove(a: BM25Stats, removed: Column): BM25Stats = {
    val rm = SearchEngine.isRemoved(removed)
    val docIdOnly = predicateRefs(removed).forall(_ == "docId")
    val (postings, dfRmBase) =
      if (docIdOnly)
        (a.postings.filter(!rm), a.postings.filter(rm))
      else {
        // predicate references docs-only columns: resolve ids there,
        // then key the postings split on docId
        val removedIds = a.docs.filter(rm).select("docId")
        (a.postings.join(removedIds, Seq("docId"), "left_anti"),
          a.postings.join(removedIds, Seq("docId"), "left_semi"))
      }
    val dfRm = dfRmBase
      .groupBy("term").agg(countDistinct("docId").as("__dfrm__"))
    val dfreq = a.dfreq.join(dfRm, Seq("term"), "left_outer")
      .select(col("term"),
        (col("df") - coalesce(col("__dfrm__"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val docs = a.docs.filter(!rm)
    val totals = docs.agg(count(lit(1)).as("n"), avg("len").as("avgdl")).collect()(0)
    val n = totals.getLong(0)
    BM25Stats(postings, dfreq, docs,
      n, if (n == 0) 0d else totals.getDouble(1))
  }

  /** Unresolved attribute names a predicate references (best-effort:
    * resolved/aliased trees yield their leaf attribute names the same
    * way). An empty set (pure literal predicate) routes to the map-side
    * shape — either frame evaluates it identically.
    */
  private def predicateRefs(p: Column): Set[String] = {
    val expr = org.apache.spark.sql.graft.ColumnBridge.resolvedExpression(p)
    expr.collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.last
      case att: org.apache.spark.sql.catalyst.expressions.Attribute =>
        att.name
    }.toSet
  }
}

package graft.llm

import graft.core.Pipe
import graft.core.Pipe.qcol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{transform => arrTransform, _}

/** Deduplication operators for large-scale training-data pipelines.
  * These extend the reference's capability surface (BASELINE.json north
  * star); every variant is bucketed — candidate generation NEVER scores
  * all pairs:
  *   - exact: content-hash groupBy (one shuffle, map-side combined);
  *   - MinHash-LSH: shingle → signature → band buckets → equi-join within
  *     buckets only → exact-Jaccard verification of candidates;
  *   - SimHash: 64-bit signature → 16-bit band buckets → Hamming check;
  *   - n-gram Jaccard: exact pairwise within caller-provided blocks;
  *   - embedding cosine: exact pairwise within blocks (compose with
  *     [[graft.search.IVFDenseEngine]] cluster ids for the 100 TB path).
  */
object DedupOps {

  /** Word k-shingles of a text column as distinct xxhash64 values. Texts
    * shorter than k words hash whole.
    */
  def shingleHashes(text: Column, k: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val n = size(toks)
    // k-window hashing via the codegen'd one-pass expression: the former
    // HOF chain (transform + slice + concat_ws + array_distinct) ran
    // interpreted with two allocations per WINDOW; hashes and
    // first-occurrence-distinct order are bit-identical (parity argument
    // and MinhashExprsSpec live with the expression). The n < k
    // fallback hashes the raw text as before; distinct over its single
    // element is a no-op, so the former outer array_distinct goes.
    when(n >= k,
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.graft.ShingleWindowHashExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(toks), k,
          "\u0001")))
      .otherwise(array(xxhash64(text)))
  }

  /** Word k-shingles as strings (hash-free — for oracle-matchable exact
    * Jaccard).
    */
  def shingleStrings(text: Column, k: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val n = size(toks)
    array_distinct(
      when(n >= k,
        arrTransform(sequence(lit(0), n - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(text)))
  }

  /** Exact Jaccard similarity of two set-valued (distinct) array columns. */
  /** Jaccard over DISTINCT-element arrays with the union DERIVED, not
    * computed: |A∪B| = |A|+|B|−|A∩B|, so one `array_intersect` replaces
    * the former intersect+union pair — half the per-pair set work on the
    * hot candidate-verify paths (at the r12 sf1 audit the pair volume
    * grew 56× on 10× data; per-pair constants are the lever). The
    * intersect size is staged as its own projection (referenced twice
    * downstream, so CollapseProject cannot inline and re-evaluate it —
    * the §6 HOF hazard). Values are bit-identical to the
    * size(∩)/size(∪) form: all sizes are small exact integers in
    * doubles.
    */
  def withJaccard(df: DataFrame, a: String, b: String,
      out: String = "jaccard"): DataFrame =
    df.withColumn("__jac_i__",
        size(array_intersect(col(a), col(b))).cast("double"))
      .withColumn(out, col("__jac_i__") /
        (size(col(a)).cast("double") + size(col(b)).cast("double") -
          col("__jac_i__")))
      .drop("__jac_i__")

  /** MinHash signature: sig[s] = min over shingles of xxhash64(shingle, s),
    * s = 0..numHashes-1. (HOF form — kept for array-typed callers; the
    * LSH pipe uses the relational [[minhashPermutations]] instead, which
    * whole-stage-codegens.)
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    arrTransform(sequence(lit(0), lit(numHashes - 1)),
      s => array_min(arrTransform(shingles, x => xxhash64(x, s))))

  /** The `numHashes` MinHash re-hashes of one shingle-hash value as plain
    * columns, for feeding through `min(...)` aggregates. Classic linear
    * permutations pi_s(x) = (a_s*x + b_s) mod p over the Mersenne prime
    * p = 2^31-1 (the construction Spark MLlib's MinHashLSH also uses):
    * x is first folded to [0, p) so every product stays below 2^62 —
    * safe under ANSI mode, where a raw mod-2^64 wraparound would raise
    * ARITHMETIC_OVERFLOW. Coefficients come from a fixed-seed PRNG so
    * signatures are deterministic across runs/engines. ~64 mul+add+mod
    * per shingle beats 64 seeded xxhash64 rounds in both codegen and
    * interpreted paths, and keeps the generated aggregate method small.
    */
  /** Fixed-seed (a, b) coefficient pairs shared by every minhash surface
    * (batch relational, streaming array form) so all of them bucket
    * identically.
    */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed5eed)
    (0 until numHashes).map { _ =>
      (1L + rnd.nextInt(Int.MaxValue - 1).toLong,
        rnd.nextInt(Int.MaxValue).toLong)
    }
  }

  val MinhashPrime: Long = 2147483647L // 2^31 - 1

  def minhashPermutations(h: Column, numHashes: Int): Seq[Column] = {
    val p = MinhashPrime
    val hp = pmod(h, lit(p))
    minhashCoeffs(numHashes).map { case (a, b) =>
      pmod(hp * lit(a) + lit(b), lit(p))
    }
  }

  /** Array-form minhash signature over a shingle-hash array, same linear
    * permutations (and therefore the same buckets) as
    * [[minhashPermutations]] — for map-only contexts (a stream row) where
    * the relational explode+groupBy form would be a stateful aggregate.
    */
  def minhashSignatureLinear(sh: Column, numHashes: Int): Column = {
    // one-pass codegen'd signature — same permutations, same min, same
    // null slots as the former array(array_min(transform(...))) chain,
    // which ran interpreted and walked the shingle array once per
    // permutation (the dominant cost of the streaming near-dup map
    // stage: 122 s task time for 35 s CPU at sf0.1 was allocation/GC)
    val (as, bs) = minhashCoeffs(numHashes).unzip
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.MinhashSigExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(sh),
        as.toArray, bs.toArray))
  }

  /** 64-bit SimHash over per-token hash values: bit b is set when the
    * weighted bit-b sum over tokens is positive.
    *
    * Single pass over the tokens: one aggregate carries a 64-counter
    * accumulator, each token contributing ±1 per bit via arithmetic
    * mask tests against the per-bit power table. (The naive per-bit
    * formulation — 64 separate aggregates — duplicates the token-hash
    * array 64 times per row and ran ~4x slower; an earlier
    * split(lpad(bin(h))) string decomposition churned ~70 chars of
    * string per token and was the top remaining cost in dd_simhash.)
    */
  def simhash64(tokens: Column,
      hashFn: Column => Column = xxhash64(_)): Column = {
    val th = arrTransform(tokens, hashFn)
    // codegen'd one-pass vote fold (former form: aggregate over a
    // 64-wide zip_with per TOKEN, interpreted — 64 array allocations per
    // row of overhead; the per-token hash transform above stays
    // relational so the poly61/xxhash choice is unchanged). Integer
    // arithmetic, so parity is exact: null hash elements vote -1 on
    // every bit, empty arrays fold to 0L — VectorExprsSpec.
    simhash64Fold(th)
  }

  /** The codegen'd 64-bit vote fold over an ALREADY-HASHED token array —
    * for callers whose per-token hash is itself a codegen kernel
    * ([[poly61SigArray]]), keeping the whole signature map-only.
    */
  def simhash64Fold(tokenHashes: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.Simhash64Expr(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokenHashes)))

  /** [[polySig61]] applied to every element of a string array in ONE
    * codegen pass — bit-identical to `transform(toks, polySig61)`
    * (parity: MinhashExprsSpec; the HOF form splits each token into
    * per-char strings and folds them interpreted).
    */
  def poly61SigArray(tokens: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.Poly61SigArrayExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens)))

  /** Rotate-left of a 61-bit value by k (integer shifts only — exact in
    * any engine with 64-bit integer arithmetic).
    */
  private def rotl61(x: Column, k: Int): Column =
    shiftleft(x.bitwiseAND(lit((1L << (61 - k)) - 1)), k) +
      shiftrightunsigned(x, 61 - k)

  /** Engine-reproducible 61-bit token signature: the Tokenizer.tokenId
    * polynomial char fold ((h*31+cp) mod 1000003, seed 7) widened by two
    * multiply + rotate-xor mixing steps, all in integer arithmetic a
    * DuckDB lambda replays bit-for-bit (xxhash64 has no DuckDB twin, so
    * gate oracles use this hash; recall properties are equivalent).
    * Bits 61-63 are always zero — their simhash votes are uniformly -1,
    * so they never set, which both engines agree on.
    */
  def polySig61(t: Column): Column = {
    val chars = filter(split(t, ""), c => length(c) > 0)
    val id = aggregate(chars, lit(7L),
      (h, c) => pmod(h * lit(31L) + ascii(c).cast("long"), lit(1000003L)))
    val s0 = id * lit(2097169L) + lit(12345L)
    val s1 = s0.bitwiseXOR(rotl61(s0, 31))
    val s2 = pmod(s1 * lit(3L) + lit(7L), lit((1L << 61) - 1L))
    s2.bitwiseXOR(rotl61(s2, 17))
  }

  /** Connected components over an undirected pair graph `(id_a, id_b)` by
    * iterative min-label propagation: each vertex takes the min of its own
    * and its neighbors' labels until fixpoint (<= graph diameter rounds —
    * near-dup clusters are tiny, so convergence is fast). Labels are
    * localCheckpoint-ed per round to keep the plan linear. Returns
    * `(id, cluster)` with cluster = min member id.
    */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 20,
      failOnNonConvergence: Boolean = true): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .unionByName(pairs.select(col("id_b").cast("long").as("u"),
        col("id_a").cast("long").as("v")))
      .distinct().localCheckpoint(true)
    // Small-graph fast path: below the (conf-parameterized) edge
    // threshold, collect the edge list — bounded at threshold × 16 bytes
    // — and label components with driver-side union-find. Near-dup pair
    // graphs are sparse (edge count ~ duplicate count, FAR below corpus
    // size), so even 100 TB corpora often fit; above the threshold the
    // distributed min-label loop below runs unchanged. Labels are
    // IDENTICAL either way: cluster = min member id, a property of the
    // graph, not of the algorithm. The count is free — edges is already
    // materialized by the eager checkpoint.
    val localMax = spark.conf.getOption("spark.graft.cc.localEdgeThreshold")
      .map(_.toLong).getOrElse(500000L)
    val nDirected = edges.count()
    if (nDirected <= localMax) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      edges.collect().foreach { row =>
        val (u, v) = (row.getLong(0), row.getLong(1))
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
      }
      // min-root invariant: unions always point the larger root at the
      // smaller, so find() already yields the component's min id
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach(id => out += ((id, find(id))))
      import spark.implicits._
      return out.toSeq.toDF("id", "cluster")
    }
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("v"), col("cluster").as("nc")), Seq("v"))
        .groupBy(col("u").as("id")).agg(min("nc").as("nmin"))
      // the convergence count rides the checkpoint's own materialization
      // job via observe() — ONE driver job per round, not checkpoint +
      // a second count() job (the many-small-jobs shape that driver-host
      // latency amplifies; r11 verdict item 2)
      val obs = new org.apache.spark.sql.Observation(s"graft-cc-$i")
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("__old__"))
        .observe(obs, sum(when(col("cluster") =!= col("__old__"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint(true)
      changed = obs.get.get("changed") match {
        case Some(n: Long) => n
        case _ => 0L // all-null comparison column: nothing changed
      }
      labels = next.drop("__old__")
      i += 1
    }
    if (changed > 0) {
      // a component with diameter > maxIter is silently SPLIT — multiple
      // "clusters" for one true component, so keep-best would keep
      // multiple survivors. That is a correctness event, not a log line.
      val msg = s"connectedComponents: NOT converged after $maxIter rounds " +
        s"($changed labels still changing) — a component with diameter > " +
        "maxIter is split; raise maxIter"
      if (failOnNonConvergence) throw new IllegalStateException(s"[graft] $msg")
      else System.err.println(s"[graft] $msg (failOnNonConvergence=false)")
    }
    labels
  }

  /** Duplicate-cluster RESOLUTION policy: after clustering, keep exactly
    * one document per cluster — the one with the best `scoreCol` (quality
    * score, length, recency rank...), ties broken by ascending id so the
    * survivor set is deterministic. Documents absent from `clusters`
    * (never matched any pair) are their own singleton cluster and always
    * survive.
    *
    * Returns `docs` + `cluster` + `kept: boolean` (flagging instead of
    * filtering — the caller chooses to drop, quarantine, or audit). One
    * shuffle on the cluster id; near-dup clusters are small, so no skew.
    */
  def resolveKeepBest(
      docs: DataFrame, clusters: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val joined = docs
      .join(clusters.select(col("id").as("__cid__"), col("cluster")),
        qcol(idCol) === col("__cid__"), "left")
      .withColumn("cluster", coalesce(col("cluster"), qcol(idCol)))
      .drop("__cid__")
    val w = Window.partitionBy("cluster")
      .orderBy(qcol(scoreCol).desc, qcol(idCol).asc)
    joined.withColumn("kept", row_number().over(w) === 1)
  }

  /** MinHash signature base + band buckets of one corpus: returns
    * (base = (id, sh shingle-hash array), banded = (id, band, bh)), both
    * eagerly materialized — base feeds the signature aggregate and the
    * candidate fetch joins; banded feeds both sides of a band join
    * (where a broadcast side defeats ReusedExchange). Permutation
    * coefficients come from a fixed seed, so two calls (e.g. the two
    * corpora of [[CrossCorpusMinHashPipe]]) bucket IDENTICALLY.
    *
    * With `cacheDir` set, both frames persist through [[CachedStage]]
    * keyed by the SOURCE's plan fingerprint + the signature parameters —
    * the reference's cross-run memoization applied to the expensive
    * stage: re-running dedup (or contamination checks against a fixed
    * corpus) skips shingling and signature aggregation entirely.
    */
  def minhashBanded(
      src: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      cacheDir: Option[String] = None): (DataFrame, DataFrame) = {
    val r = numHashes / bands
    def materialize(tag: String, df: => DataFrame): DataFrame = cacheDir match {
      case Some(dir) =>
        // The third component fingerprints the PRODUCING PLAN (shingle /
        // permutation expressions included), so an edit to the kernel —
        // not just the parameters — forks the key instead of silently
        // serving a stale persisted stage (ADVICE r12).
        val frame = df
        val key = graft.core.Fingerprint.combine(
          graft.pipes.DatasetFingerprint.of(src),
          graft.core.Fingerprint.hash(
            s"minhash:$tag:$textCol:$idCol:$numHashes:$bands:$shingleSize"),
          graft.pipes.DatasetFingerprint.of(frame))
        graft.core.CachedStage(src.sparkSession, dir, key)(frame)
      case None => df.localCheckpoint(true)
    }
    val slim = src.select(
      Pipe.qcol(idCol).cast("long").as("id"), Pipe.qcol(textCol).as("__text__"))
    val base = materialize("base", Pipe.widen(slim)
      .select(col("id"), shingleHashes(col("__text__"), shingleSize).as("sh")))
    val perms = minhashPermutations(col("h"), numHashes)
    // `n` (shingle-set size, = count of exploded rows since sh is a set)
    // rides the signature aggregate for free and lets callers prune
    // candidates on the lossless size-ratio bound BEFORE fetching sets
    // (tag bumped to v2: the banded schema gained a column and a stale
    // cache would load without it)
    val sigs = base.select(col("id"), explode(col("sh")).as("h"))
      .groupBy("id")
      .agg(min(perms.head).as("__m0"),
        (perms.tail.zipWithIndex.map { case (p, i) => min(p).as(s"__m${i + 1}") } :+
          count(lit(1)).as("n")): _*)
    val banded = materialize("banded:v2", sigs.select(col("id"), col("n"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b) +: (0 until r).map(j => col(s"__m${b * r + j}")): _*)): _*))
        .as(Seq("band", "bh"))))
    (base, banded)
  }

  /** Cosine similarity in double precision (sequential accumulation). */
  def cosine(a: Column, b: Column): Column =
    // codegen'd one-pass twin of the former HOF form
    // dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))) with
    // dot = aggregate(zip_with(_*_ as double), 0d, _+_): same index-order
    // IEEE fold, same null/length-mismatch poisoning — parity proven in
    // VectorExprsSpec. The HOF chain ran interpreted with three zip_with
    // allocations per PAIR: the dominant per-row cost of every
    // within-cell pairwise join (SemDeDup, cosine near-dup, SRP verify).
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.CosineSimExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))
}

/** Exact dedup: group rows by content hash of `keys`, keep the row with
  * the smallest `idCol` as the cluster representative. Output = input
  * columns + `dup_count` per kept row. One shuffle on the content hash,
  * partially aggregated map-side.
  */
case class ExactDedupPipe(keys: Seq[String], idCol: String) extends Pipe {
  override def params = Map("keys" -> keys.sorted.mkString(","), "id" -> idCol)
  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    // Group by (hash, keys), not hash alone: at billions of rows a 64-bit
    // collision would silently merge distinct content (birthday bound ~50%
    // near 5B rows). The hash still drives partitioning/compare cost; the
    // raw keys only break collision ties.
    val h = xxhash64(keys.map(qcol): _*)
    df.withColumn("__h__", h)
      .groupBy(col("__h__") +: keys.map(qcol): _*)
      .agg(
        min_by(struct(df.columns.map(qcol): _*), qcol(idCol)).as("__rep__"),
        count(lit(1)).as("dup_count"))
      .select(df.columns.map(c => col(s"__rep__.`$c`").as(c)) :+ col("dup_count"): _*)
  }
}

/** MinHash-LSH near-dup detection: emits verified candidate pairs
  * `(id_a, id_b, jaccard)` with exact shingle-Jaccard >= threshold.
  * Candidates come ONLY from band-bucket equi-joins (numHashes/bands
  * rows per doc) — never an all-pairs product. For jaccard j and b bands
  * of r rows, P(miss) = (1 - j^r)^b — with 64 hashes / 32 bands,
  * j=0.7 pairs are missed with p ~ 4e-10.
  */
case class MinHashLSHDedupPipe(
    textCol: String,
    idCol: String,
    numHashes: Int = 64,
    bands: Int = 32,
    shingleSize: Int = 3,
    jaccardThreshold: Double = 0.5,
    /** Persist shingle sets + band buckets via [[graft.core.CachedStage]]
      * keyed by the corpus fingerprint — re-running dedup on an unchanged
      * corpus (or with a different threshold, which only affects the
      * verify stage) skips the expensive signature build entirely.
      */
    cacheDir: Option[String] = None) extends Pipe {
  require(numHashes % bands == 0, "bands must divide numHashes")
  override def params = Map("text" -> textCol, "id" -> idCol,
    "numHashes" -> numHashes.toString, "bands" -> bands.toString,
    "shingle" -> shingleSize.toString, "threshold" -> jaccardThreshold.toString,
    "cacheDir" -> cacheDir.mkString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    // Relational lowering (same reasoning as the round-3 simhash rewrite):
    //   1. explode shingle hashes -> (id, h) rows; the signature is 64
    //      codegen'd min() aggregates over cheap linear permutations of h
    //      (partial aggregation collapses to one 64-long buffer per doc
    //      map-side, so the shuffle carries |docs|, not |shingles|, rows).
    //      The old HOF form (array_min . transform per seed) evaluated a
    //      seeded xxhash64 per (shingle, seed) INTERPRETED — HOF lambdas
    //      never whole-stage-codegen.
    //   2. band-bucket equi-join on (band, bh, id) ONLY — the previous
    //      shape carried both docs' full shingle arrays through the
    //      band explode, putting bands x sum(|sh|) array bytes through
    //      the shuffle; candidates are now matched id-to-id first.
    //   3. the few surviving candidates fetch their shingle sets back by
    //      id (two joins against the slim (id, sh) projection) for the
    //      lossless size prune + exact-Jaccard verify.
    //
    // `base` and `banded` are eagerly localCheckpoint-ed (the same device
    // connectedComponents uses): base feeds THREE consumers (the signature
    // aggregate and both candidate fetch joins) and banded TWO (both sides
    // of the band self-join, where the broadcast side defeats
    // ReusedExchange). Without materialization each consumer re-runs the
    // interpreted shingle HOF from the file scan — and the generator's
    // inferred size(sh)>0 / isnotnull(sh) filter re-evaluates that same
    // expression per row BEFORE the project, so the r4 plan paid the
    // shingle pass ~8x. Checkpointed, each heavy pass runs exactly once
    // over numeric-only rows ((id, long[]) ~ 8B/shingle, smaller than the
    // text it came from; banded is 3 longs x bands per doc).
    val (base, banded) = DedupOps.minhashBanded(
      df, textCol, idCol, numHashes, bands, shingleSize, cacheDir)
    // lossless size prune AT the band join — jaccard <=
    // min(|A|,|B|)/max(|A|,|B|), and |sh| rides banded as one long — so
    // over-threshold-impossible pairs never reach the dedup shuffle or
    // the shingle-set fetch (Catalyst folds the bound into the join
    // condition, as in the simhash/SRP hamming prune)
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pairs = banded.select(col("band"), col("bh"),
        col("id").as("id_a"), col("n").as("n_a"))
      .join(banded.select(col("band"), col("bh"),
        col("id").as("id_b"), col("n").as("n_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b") &&
        least(na, nb) >= lit(jaccardThreshold) * greatest(na, nb))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .transform(DedupOps.withJaccard(_, "sh_a", "sh_b"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

/** SimHash near-dup detection: emits candidate pairs with Hamming
  * distance <= maxHamming on the 64-bit signature. Candidates come from
  * 16-bit band buckets (4 per doc) — by pigeonhole any pair within
  * Hamming distance 3 shares at least one of the 4 bands, so recall is
  * EXACT for maxHamming <= 3.
  */
case class SimHashDedupPipe(
    textCol: String,
    idCol: String,
    maxHamming: Int = 3,
    tokenHash: String = "xxhash64",
    /** Persist the (id, signature) frame via [[graft.core.CachedStage]]
      * keyed by the corpus fingerprint — cross-RUN memoization of the
      * expensive signature build (the in-run path deliberately does not
      * checkpoint; see the ReusedExchange note below).
      */
    cacheDir: Option[String] = None) extends Pipe {
  override def params = Map("text" -> textCol, "id" -> idCol,
    "maxHamming" -> maxHamming.toString, "tokenHash" -> tokenHash,
    "cacheDir" -> cacheDir.mkString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    // NULL text normalizes to "" (one empty token): explode of
    // split(trim(null)) would DROP the row entirely, silently removing
    // null-text docs from the candidate pool — with coalesce a null doc
    // and an empty doc share a signature and pair up as exact near-dups
    val tokArr = split(trim(coalesce(qcol(textCol), lit(""))), "\\s+")
    val withSimRaw =
      if (tokenHash == "poly61") {
        // MAP-ONLY signature: per-token poly61 hashes and the 64-bit vote
        // fold are both one-pass codegen kernels (Poly61SigArrayExpr +
        // Simhash64Expr), so the whole signature build is a single
        // zero-shuffle projection. The former relational form (explode ->
        // distinct dict -> join -> 64 vote aggregates) existed only
        // because the char fold ran as an interpreted HOF per token —
        // per-DISTINCT-token evaluation bought ~10x there, but cost
        // three exchanges of the exploded token stream. With the hash
        // codegen'd, hashing per OCCURRENCE is cheaper than shuffling
        // the occurrences (r20 A/B; votes are per occurrence in both
        // forms, so signatures are bit-identical — MinhashExprsSpec).
        df.select(qcol(idCol).cast("long").as("id"),
          DedupOps.simhash64Fold(DedupOps.poly61SigArray(tokArr)).as("sim"))
      } else {
        // xxhash64 variant: no DuckDB twin, engine-internal only. The
        // per-token hash has no codegen array kernel, so the relational
        // per-distinct-token form stays (see git history for rationale).
        val toks = df.select(qcol(idCol).cast("long").as("id"),
          explode(tokArr).as("__tok__"))
        val dict = toks.select("__tok__").distinct()
          .withColumn("__sig__", xxhash64(col("__tok__")))
        val joined = toks.join(dict, Seq("__tok__"))
        val voteCols = (0 until 64).map(b =>
          sum(when(shiftrightunsigned(col("__sig__"), b).bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L)).as(s"__v$b"))
        val votes = joined.groupBy(col("id")).agg(voteCols.head, voteCols.tail: _*)
        // bits are disjoint, so summing the selected powers equals bitwise OR
        val simExpr = (0 until 64).map(b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
        votes.select(col("id"), simExpr.as("sim"))
      }
    // (not localCheckpoint-ed: the band self-join's two reads dedupe via
    // ReusedExchange (relational form) / recompute a cheap map stage
    // (poly61 form); an eager checkpoint re-measured SLOWER in both r3
    // and r5 — the materialization job costs more than the re-read)
    val withSim = cacheDir match {
      case Some(dir) =>
        // third component = the producing plan's fingerprint: a kernel
        // edit forks the key instead of serving a stale cache (ADVICE r12)
        val key = graft.core.Fingerprint.combine(
          graft.pipes.DatasetFingerprint.of(df),
          graft.core.Fingerprint.hash(
            s"simhash:$textCol:$idCol:$tokenHash"),
          graft.pipes.DatasetFingerprint.of(withSimRaw))
        graft.core.CachedStage(df.sparkSession, dir, key)(withSimRaw)
      case None => withSimRaw
    }
    val banded = withSim.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sim"), 16 * b).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band", "bh")))
    val left = banded.select(col("band"), col("bh"),
      col("id").as("id_a"), col("sim").as("sim_a"))
    val right = banded.select(col("band"), col("bh"),
      col("id").as("id_b"), col("sim").as("sim_b"))
    // hamming prunes BEFORE the pair-dedup shuffle (Catalyst folds the
    // bit_count predicate into the band-join condition, as in
    // SRPCosineDedupPipe): candidates grow with bucket occupancy² while
    // hamming survivors stay near the true-pair count
    left.join(right, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }
}

/** Exact n-gram-Jaccard pairs within blocks: scores all pairs sharing
  * `blockCol` (callers choose blocks that bound the product — language,
  * length bucket, LSH band, IVF cluster...). Hash-free shingles so the
  * result is engine-independent.
  */
case class NgramJaccardPipe(
    textCol: String,
    idCol: String,
    blockCol: String,
    shingleSize: Int = 3,
    threshold: Double = 0.1,
    /** Fail fast (at execution, lazily) when any block exceeds this many
      * rows: an m-row block scores m^2/2 pairs, so one hot block — a
      * stopword prefix, an empty-language bucket — can quietly turn the
      * job quadratic at scale. The check costs one small aggregate on the
      * block column (the pairs join shuffles by `blk` anyway). None
      * disables; callers who legitimately want huge blocks opt out.
      */
    maxBlockRows: Option[Long] = Some(100000L),
    /** Persist the (blk, id, shingles) base via
      * [[graft.core.CachedStage]] keyed by the corpus fingerprint — the
      * shingle HOF build dominates the pipe on an unchanged corpus (67 s
      * of 4-core task time at the sf1 audit vs ~20 s for the pair math);
      * re-runs then pay only the inverted-index join + verify.
      */
    cacheDir: Option[String] = None) extends Pipe {
  require(threshold > 0,
    "NgramJaccardPipe: threshold must be > 0 (the shared-shingle candidate " +
      "set is complete exactly for positive thresholds; J = 0 pairs share " +
      "nothing and are never near-duplicates)")
  override def params = Map("text" -> textCol, "id" -> idCol,
    "block" -> blockCol, "shingle" -> shingleSize.toString,
    "threshold" -> threshold.toString,
    "maxBlockRows" -> maxBlockRows.mkString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    // jaccard over hashed shingle sets == jaccard over string shingle
    // sets (modulo 64-bit collisions); longs intersect ~10x cheaper than
    // strings at identical output values
    //
    // the (blk, id, sh) base feeds THREE consumers (the block-size guard
    // and both self-join sides), so — exactly as in MinHashLSHDedupPipe —
    // it is widened to session parallelism and localCheckpoint-ed once:
    // without it the interpreted shingle HOF re-runs from the file scan
    // per consumer on however few partitions the input planned
    val slim = df.select(qcol(blockCol).as("blk"),
      qcol(idCol).cast("long").as("id"), qcol(textCol).as("__text__"))
    val rawPlan = Pipe.widen(slim).select(col("blk"), col("id"),
      DedupOps.shingleHashes(col("__text__"), shingleSize).as("sh"))
    val raw = cacheDir match {
      case Some(dir) =>
        // third component = the producing plan's fingerprint: a kernel
        // edit forks the key instead of serving a stale cache (ADVICE r12)
        val key = graft.core.Fingerprint.combine(
          graft.pipes.DatasetFingerprint.of(df),
          graft.core.Fingerprint.hash(
            s"ngram:$textCol:$idCol:$blockCol:$shingleSize"),
          graft.pipes.DatasetFingerprint.of(rawPlan))
        graft.core.CachedStage(df.sparkSession, dir, key)(rawPlan)
      case None => rawPlan.localCheckpoint(true)
    }
    val base = maxBlockRows match {
      case Some(cap) =>
        val counts = raw.groupBy(col("blk")).agg(count(lit(1)).as("__bn__"))
        raw.join(counts, Seq("blk"))
          .filter(when(col("__bn__") <= cap, lit(true)).otherwise(
            raise_error(concat(
              lit("NgramJaccardPipe: block '"), col("blk").cast("string"),
              lit("' has "), col("__bn__"),
              lit(s" rows > maxBlockRows=$cap — its all-pairs product would" +
                " be quadratic; choose finer blocks or raise the cap")))
              .cast("boolean")))
          .drop("__bn__")
      case None => raw
    }
    // |∩| RELATIONALLY (the r6 oracle rewrite applied to the engine):
    // explode shingles, self-join on (blk, shingle), count per pair —
    // narrow codegen'd long rows with map-side combine, instead of the
    // former all-pairs-within-block join evaluating an interpreted
    // array_intersect per pair (measured 46 s vs ~4 s at the sf1 audit's
    // 594k-pair hot block). Candidates = pairs sharing >= 1 shingle — a
    // SUBSET of within-block pairs, complete for any threshold > 0 —
    // and Σ_sh df² stays bounded by the maxBlockRows guard above.
    val sizes = base.select(col("id"), size(col("sh")).as("__n__"))
    val ex = base.select(col("blk"), col("id"), explode(col("sh")).as("s"))
    val inter = ex.select(col("blk"), col("s"), col("id").as("id_a"))
      .join(ex.select(col("blk"), col("s"), col("id").as("id_b")), Seq("blk", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i__"))
    val na = col("__na__").cast("double")
    val nb = col("__nb__").cast("double")
    // the size-ratio prune is still lossless (jaccard <= min/max) — it
    // rides after the count instead of before the set ops
    inter
      .join(sizes.select(col("id").as("id_a"), col("__n__").as("__na__")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("__n__").as("__nb__")), Seq("id_b"))
      .filter(least(na, nb) >= lit(threshold) * greatest(na, nb))
      .withColumn("jaccard",
        col("__i__").cast("double") / (na + nb - col("__i__").cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

/** Edit-distance near-dup pairs within blocks — the exact-verify stage
  * of the dedup cascade for EDIT-shaped duplication (truncations, small
  * insertions, OCR noise) where set-based Jaccard over- or under-counts:
  * all pairs sharing `blockCol` (the [[NgramJaccardPipe]] blocking
  * contract — language, length bucket, LSH band...) whose Levenshtein
  * distance is at most `maxDistance`.
  *
  * Two lossless prunes keep the quadratic kernel off almost every
  * candidate: the length gap `|len(a)−len(b)| ≤ maxDistance` (a lower
  * bound on edit distance) folds INTO the join condition, and the DP
  * itself runs Spark's threshold-bounded kernel — the banded
  * O(maxDistance·min(n,m)) diagonal algorithm that abandons a pair the
  * moment the bound is exceeded, not the full O(n·m) matrix. Unlike the
  * hash families, the verify needs the STRINGS, so text rides the block
  * shuffle — block before you verify (the `maxBlockRows` guard fails
  * fast when a hot block would go quadratic, as in NgramJaccardPipe).
  */
case class EditDistanceDedupPipe(
    textCol: String,
    idCol: String,
    blockCol: String,
    maxDistance: Int = 8,
    maxBlockRows: Option[Long] = Some(100000L)) extends Pipe {
  require(maxDistance >= 0, "maxDistance must be >= 0")
  override def params = Map("text" -> textCol, "id" -> idCol,
    "block" -> blockCol, "maxDistance" -> maxDistance.toString,
    "maxBlockRows" -> maxBlockRows.mkString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    val text = coalesce(qcol(textCol), lit(""))
    val slim = df.select(qcol(blockCol).as("blk"),
      qcol(idCol).cast("long").as("id"), text.as("t"), length(text).as("n"))
    // the base feeds the guard and both self-join sides once
    val raw = Pipe.widen(slim).localCheckpoint(true)
    val base = maxBlockRows match {
      case Some(cap) =>
        val counts = raw.groupBy(col("blk")).agg(count(lit(1)).as("__bn__"))
        raw.join(counts, Seq("blk"))
          .filter(when(col("__bn__") <= cap, lit(true)).otherwise(
            raise_error(concat(
              lit("EditDistanceDedupPipe: block '"), col("blk").cast("string"),
              lit("' has "), col("__bn__"),
              lit(s" rows > maxBlockRows=$cap — its all-pairs product would" +
                " be quadratic; choose finer blocks or raise the cap")))
              .cast("boolean")))
          .drop("__bn__")
      case None => raw
    }
    val left = base.select(col("blk"), col("id").as("id_a"),
      col("t").as("__ta__"), col("n").as("__na__"))
    val right = base.select(col("blk"), col("id").as("id_b"),
      col("t").as("__tb__"), col("n").as("__nb__"))
    left.join(right,
      left("blk") === right("blk") && col("id_a") < col("id_b") &&
        abs(col("__na__") - col("__nb__")) <= maxDistance)
      .withColumn("edit_distance",
        levenshtein(col("__ta__"), col("__tb__"), maxDistance))
      .filter(col("edit_distance") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_distance"))
  }
}

/** Embedding-cosine near-dup pairs within blocks (same blocking contract
  * as [[NgramJaccardPipe]]; at scale pass an IVF cluster id).
  */
case class EmbeddingCosineDedupPipe(
    vecCol: String,
    idCol: String,
    blockCol: String,
    threshold: Double = 0.9) extends Pipe {
  override def params = Map("vec" -> vecCol, "id" -> idCol,
    "block" -> blockCol, "threshold" -> threshold.toString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    val base = df.select(qcol(blockCol).as("blk"),
      qcol(idCol).cast("long").as("id"), qcol(vecCol).as("v"))
    val left = base.select(col("blk"), col("id").as("id_a"), col("v").as("v_a"))
    val right = base.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"))
    left.join(right, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", DedupOps.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}

/** SRP-LSH near-dup over an embedding column — the SimHash analogue for
  * vectors, and [[EmbeddingCosineDedupPipe]]'s BLOCK-FREE scale path:
  * no caller-chosen blocking contract, candidates come from signature
  * band buckets alone.
  *
  * Each vector gets an `nBits`-bit signature of hyperplane signs
  * (signed random projection: P[bit differs] = angle/pi). Hyperplanes
  * come from a deterministic integer formula — component t of plane b is
  * `(((b*37 + t*11) mod 21) - 10) / 10` — so an external engine replays
  * signatures bit-for-bit and an exhaustive oracle is EXACT. Banding
  * (`bands` buckets of nBits/bands bits) generates candidates with
  * pigeonhole-exact recall for Hamming <= bands-1; candidates then verify
  * exact Hamming AND exact cosine. Emits (id_a, id_b, hamming, cosine).
  *
  * At scale: the band self-join carries (id, band, bucket) rows only —
  * vectors are fetched back by id for the few surviving candidates, and
  * the signature base is localCheckpoint-ed once (three consumers).
  * Reference counterpart: the dedup role FAISS range-search plays in
  * embedding pipelines (warp_pipes/search/vector_base/, by capability).
  *
  * SIZE nBits FOR THE CORPUS: expected bucket occupancy is
  * `n / 2^(nBits/bands)`, and candidate volume per band grows with
  * occupancy² — the 10x scale smoke measured the old 16/4 default
  * (16 buckets per band) going 38x superlinear at 20k vectors. The
  * 48/6 default keeps 256 buckets per band (and a tighter
  * maxHamming/nBits angle bound at the same pigeonhole guarantee);
  * raise nBits further for corpora past ~10^7 vectors.
  */
case class SRPCosineDedupPipe(
    vecCol: String,
    idCol: String,
    /** Band-candidate volume follows bucket occupancy² with occupancy ≈
      * n / 2^(nBits/bands) — the sizing knob (SURVEY §6 r8). r12 raised
      * the default 48 → 60 bits (6 bands of 10: 1024 buckets per band,
      * 16× fewer candidates at the 200k-vector audit scale, measured
      * 15.3× → inside the scale envelope) after the audit corpus's
      * richer near-dup structure re-heated the 8-bit bands. Raise
      * further for corpora past ~10^7 vectors. Past 62 bits (r14) the
      * signature packs into 60-bit words (array<long>) — r = nBits/bands
      * must then divide 60 (e.g. 120 bits / 6 bands: 2^20 buckets per
      * band, occupancy 0.2 at 200k vectors where r=10 ran quadratic);
      * maxHamming must stay < bands for pigeonhole-exact recall. Note
      * the hamming prune is over the FULL signature, so a wider layout
      * tightens the implicit angle it admits — right for near-duplicate
      * detection (true dups differ in ~0-2 bits at any width), not for
      * loose-similarity search.
      */
    nBits: Int = 60,
    bands: Int = 6,
    maxHamming: Int = 5,
    minCosine: Double = 0.9,
    /** Persist the (id, vector, signature) base via
      * [[graft.core.CachedStage]] keyed by the corpus fingerprint — the
      * signature build is interpreted HOF work (48 hyperplane dots per
      * vector) and dominates the pipe's cost on an unchanged corpus;
      * re-runs then pay only the band join + verify (the same
      * cross-run memoization [[minhashBanded]] provides).
      */
    cacheDir: Option[String] = None) extends Pipe {
  require(nBits % bands == 0, "bands must divide nBits")
  require(nBits <= 62 || 60 % (nBits / bands) == 0,
    "wide signatures pack 60-bit words: bits-per-band must divide 60")
  require(maxHamming < bands,
    "recall is pigeonhole-exact only for maxHamming <= bands-1")
  override def params = Map("vec" -> vecCol, "id" -> idCol,
    "nBits" -> nBits.toString, "bands" -> bands.toString,
    "maxHamming" -> maxHamming.toString, "minCosine" -> minCosine.toString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    val dim = df.select(size(qcol(vecCol))).head().getInt(0)
    val planes: Seq[Seq[Double]] = Seq.tabulate(nBits)(b =>
      Seq.tabulate(dim)(t => (((b * 37 + t * 11) % 21) - 10) / 10.0))
    val slim = df.select(qcol(idCol).cast("long").as("id"),
      arrTransform(qcol(vecCol), _.cast("double")).as("v"))
    val r = nBits / bands
    def dotBit(b: Int) = aggregate(
      zip_with(col("v"), typedLit(planes(b)), (x, p) => x * p),
      lit(0d), (acc, x) => acc + x)
    val wide = nBits > 62
    // narrow (<= 62 bits): ONE long signature — the historical layout,
    // expressions kept verbatim so persisted caches and oracles replay
    // byte-identically. Wide (> 62 bits, the scale path for corpora
    // whose bucket occupancy n/2^r re-heats at r <= 10): the signature
    // packs into 60-bit words (array<long>); r must divide 60 so no
    // band spans a word boundary.
    val sigExpr: Column =
      if (!wide)
        (0 until nBits).map { b =>
          when(dotBit(b) > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
      else array((0 until (nBits + 59) / 60).map { w =>
        (w * 60 until math.min(nBits, (w + 1) * 60)).map { b =>
          when(dotBit(b) > 0, lit(1L << (b - w * 60))).otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*)
    val baseRaw = Pipe.widen(slim).select(col("id"), col("v"), sigExpr.as("sg"))
    val base = cacheDir match {
      case Some(dir) =>
        // third component = the producing plan's fingerprint: the SRP
        // hyperplane literals ride the plan, so a formula or seed edit
        // forks the key instead of serving a stale cache (ADVICE r12)
        val key = graft.core.Fingerprint.combine(
          graft.pipes.DatasetFingerprint.of(df),
          graft.core.Fingerprint.hash(
            s"srp:$vecCol:$idCol:$nBits:$bands"),
          graft.pipes.DatasetFingerprint.of(baseRaw))
        graft.core.CachedStage(df.sparkSession, dir, key)(baseRaw)
      case None => baseRaw.localCheckpoint(true)
    }
    val mask = (1L << r) - 1
    def bandHash(sg: Column, b: Int): Column =
      if (!wide) shiftrightunsigned(sg, b * r).bitwiseAND(mask)
      else shiftrightunsigned(
        element_at(sg, b * r / 60 + 1), (b * r) % 60).bitwiseAND(mask)
    def hammingOf(a: Column, b: Column): Column =
      if (!wide) bit_count(a.bitwiseXOR(b)).cast("long")
      else (0 until (nBits + 59) / 60).map(w =>
        bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1)))
          .cast("long")).reduce(_ + _)
    // Candidate volume per band grows with bucket occupancy² while
    // hamming survivors stay near-linear, so the signature (8 bytes
    // per word) rides the band join and hamming prunes BEFORE the pair
    // dedup and before any vector is shuffled; only survivors fetch
    // vectors.
    val banded = base.select(col("id"), col("sg"),
      posexplode(array((0 until bands).map(b =>
        bandHash(col("sg"), b)): _*))
        .as(Seq("band", "bh")))
    val pairs = banded.select(col("band"), col("bh"),
        col("id").as("id_a"), col("sg").as("sg_a"))
      .join(banded.select(col("band"), col("bh"),
        col("id").as("id_b"), col("sg").as("sg_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hammingOf(col("sg_a"), col("sg_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").dropDuplicates("id_a", "id_b")
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", DedupOps.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("hamming"), col("cosine"))
  }
}

object SRPCosineDedupPipe {
  /** Corpus-count-sized constructor: the signature layout comes from
    * [[SrpLayout.forCorpus]] instead of the pinned 60/6 default, so the
    * occupancy wall (candidates ~ (n/2^r)² per band) is engineered away
    * rather than rediscovered — at 200k vectors this picks the wide
    * 120/6 layout the r14 audit hand-fixed. Pass the (cheap, often
    * already-known) corpus count; layouts are deterministic in it, so
    * the pipe fingerprint stays stable for a stable corpus size.
    */
  def sized(
      vecCol: String,
      idCol: String,
      corpusCount: Long,
      minCosine: Double = 0.9,
      cacheDir: Option[String] = None,
      bands: Int = 6,
      targetOccupancy: Double = 1.0): SRPCosineDedupPipe = {
    val l = SrpLayout.forCorpus(corpusCount, bands, targetOccupancy)
    SRPCosineDedupPipe(vecCol, idCol, l.nBits, l.bands, l.maxHamming,
      minCosine, cacheDir)
  }
}

/** Cross-corpus MinHash-LSH contamination detection: fuzzy near-duplicate
  * pairs BETWEEN two corpora — the fuzzy complement of the exact-n-gram
  * [[DecontaminatePipe]] (an eval document paraphrased or lightly edited
  * into the training set shares no exact n-gram but keeps high shingle
  * Jaccard). Emits `(id_a from df, id_b from refDf, jaccard)` with exact
  * Jaccard >= threshold; candidates come ONLY from shared band buckets
  * (never a cross product), and both sides bucket with the same fixed-seed
  * permutations, so recall matches single-corpus [[MinHashLSHDedupPipe]]:
  * P(miss) = (1 - j^r)^b.
  *
  * Scale shape: each side shuffles |docs| signature rows once; the band
  * join carries 3 longs x bands per doc; only surviving candidate pairs
  * fetch shingle sets back by id. The eval side is typically tiny next to
  * the train side — AQE broadcasts its banded frame, making the train
  * side's candidate generation map-only.
  */
case class CrossCorpusMinHashPipe(
    textCol: String,
    idCol: String,
    refDf: DataFrame,
    refTextCol: String,
    refIdCol: String,
    numHashes: Int = 64,
    bands: Int = 32,
    shingleSize: Int = 3,
    jaccardThreshold: Double = 0.5,
    /** Cache signatures per corpus fingerprint — the natural fit here:
      * contamination checks probe a FIXED eval corpus with evolving
      * training batches, so the eval side's signatures build once ever.
      */
    cacheDir: Option[String] = None) extends Pipe {
  require(numHashes % bands == 0, "bands must divide numHashes")
  override def params = Map("text" -> textCol, "id" -> idCol,
    "refText" -> refTextCol, "refId" -> refIdCol,
    "numHashes" -> numHashes.toString, "bands" -> bands.toString,
    "shingle" -> shingleSize.toString, "threshold" -> jaccardThreshold.toString,
    "cacheDir" -> cacheDir.mkString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    val (baseA, bandedA) = DedupOps.minhashBanded(
      df, textCol, idCol, numHashes, bands, shingleSize, cacheDir)
    val (baseB, bandedB) = DedupOps.minhashBanded(
      refDf, refTextCol, refIdCol, numHashes, bands, shingleSize, cacheDir)
    // same lossless size-ratio prune at the band join as
    // MinHashLSHDedupPipe: impossible pairs never fetch shingle sets
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pairs = bandedA.select(col("band"), col("bh"),
        col("id").as("id_a"), col("n").as("n_a"))
      .join(bandedB.select(col("band"), col("bh"),
        col("id").as("id_b"), col("n").as("n_b")), Seq("band", "bh"))
      .filter(least(na, nb) >= lit(jaccardThreshold) * greatest(na, nb))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(baseA.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(baseB.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .transform(DedupOps.withJaccard(_, "sh_a", "sh_b"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

/** Incremental MinHash-LSH dedup: near-dup pairs of a NEW batch against a
  * FIXED, already-deduped corpus, plus within the batch itself — never
  * corpus-vs-corpus. Semantically: MinHash-LSH over `corpus UNION batch`
  * restricted to pairs touching at least one batch document — exactly
  * the question a growing 100 TB corpus asks on every ingest ("is this
  * crawl batch a near-dup of anything we already have, or of itself?")
  * without ever re-pairing the corpus against itself.
  *
  * Scale shape: the corpus side's shingle sets + band buckets load from
  * the `cacheDir` signature cache (keyed on the corpus fingerprint — they
  * build ONCE, ever, per corpus version; the r11 point of the per-corpus
  * cache keys). The batch is small by premise, so its banded frame
  * broadcasts into the cross band join and the corpus side's candidate
  * generation is map-only; the within-batch self-join is the plain
  * [[MinHashLSHDedupPipe]] shape at batch size. Both joins carry the
  * lossless size-ratio prune. Both corpora bucket with the same
  * fixed-seed permutations, so recall equals the single-corpus pipe's
  * P(miss) = (1 - j^r)^b.
  *
  * Output: `(id_a, id_b, jaccard, pair_src)` — cross pairs carry the
  * batch id in `id_a`, the corpus id in `id_b`, `pair_src = 'cross'`;
  * within-batch pairs order `id_a < id_b` with `pair_src = 'batch'`.
  * Ids must be distinct across the two corpora (caller contract, as in
  * [[CrossCorpusMinHashPipe]]).
  */
case class IncrementalMinHashDedupPipe(
    textCol: String,
    idCol: String,
    corpus: DataFrame,
    corpusTextCol: String,
    corpusIdCol: String,
    numHashes: Int = 64,
    bands: Int = 32,
    shingleSize: Int = 3,
    jaccardThreshold: Double = 0.5,
    cacheDir: Option[String] = None) extends Pipe {
  require(numHashes % bands == 0, "bands must divide numHashes")
  override def params = Map("text" -> textCol, "id" -> idCol,
    "corpusText" -> corpusTextCol, "corpusId" -> corpusIdCol,
    "numHashes" -> numHashes.toString, "bands" -> bands.toString,
    "shingle" -> shingleSize.toString, "threshold" -> jaccardThreshold.toString,
    "cacheDir" -> cacheDir.mkString)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    // ONLY the corpus side goes through the persisted signature cache:
    // the batch is one-shot by definition (an arriving micro-batch is a
    // LogicalRDD whose plan fingerprint carries no content identity — a
    // cached batch stage could silently serve another batch's
    // signatures; caught by the r14 ev_stream_ingest dual-scale audit).
    // localCheckpoint (the cacheDir=None path) still bounds the batch
    // plan.
    val (baseB, bandedB) = DedupOps.minhashBanded(
      df, textCol, idCol, numHashes, bands, shingleSize, None)
    val (baseC, bandedC) = DedupOps.minhashBanded(
      corpus, corpusTextCol, corpusIdCol, numHashes, bands, shingleSize, cacheDir)
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    def verified(cands: DataFrame, lhsBase: DataFrame, rhsBase: DataFrame) =
      cands
        .join(lhsBase.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(rhsBase.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .transform(DedupOps.withJaccard(_, "sh_a", "sh_b"))
        .filter(col("jaccard") >= jaccardThreshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    // batch-vs-corpus: the CrossCorpusMinHashPipe shape, batch side small
    val cross = verified(
      bandedB.select(col("band"), col("bh"),
          col("id").as("id_a"), col("n").as("n_a"))
        .join(bandedC.select(col("band"), col("bh"),
          col("id").as("id_b"), col("n").as("n_b")), Seq("band", "bh"))
        .filter(least(na, nb) >= lit(jaccardThreshold) * greatest(na, nb))
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b"),
      baseB, baseC)
      .withColumn("pair_src", lit("cross"))
    // batch-vs-batch: the single-corpus self-join shape at batch size
    val within = verified(
      bandedB.select(col("band"), col("bh"),
          col("id").as("id_a"), col("n").as("n_a"))
        .join(bandedB.select(col("band"), col("bh"),
          col("id").as("id_b"), col("n").as("n_b")), Seq("band", "bh"))
        .filter(col("id_a") < col("id_b") &&
          least(na, nb) >= lit(jaccardThreshold) * greatest(na, nb))
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b"),
      baseB, baseB)
      .withColumn("pair_src", lit("batch"))
    cross.unionByName(within)
  }
}

/** Exact duplicated-substring removal (the ExactSubstr dedup of Lee et
  * al., "Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499, re-expressed relationally): delete every token
  * covered by a `k`-token shingle that occurs at least `minCount` times
  * ANYWHERE in the corpus (other documents or elsewhere in the same one),
  * then reassemble each document from its surviving tokens in order.
  * Where the paper builds a corpus-wide suffix array, the relational
  * equivalent counts fixed-length shingles: a duplicated substring of
  * length >= k is exactly a run of duplicated k-shingles, so coverage
  * matches suffix-array dedup for substrings >= k tokens (shorter repeats
  * are deliberately kept). Output text is whitespace-normalized (tokens
  * re-joined with single spaces).
  *
  * Scale shape: one posexplode (map-only), one map-side-combined count on
  * the shingle key, one semi-join of occurrences against duplicated keys
  * (AQE splits hot boilerplate keys), one distinct on covered (id, pos),
  * one anti-join, one groupBy(id) reassembly — every shuffle keys on the
  * shingle or the doc id; no corpus-wide window, no driver state.
  * `hashShingles = true` (default) shuffles 8-byte xxhash64 keys instead
  * of k-token strings — same trade (and same failure mode: a 64-bit
  * collision over-removes, never corrupts) as [[LineDedupPipe]] hashKey.
  */
case class SubstringDedupPipe(
    textCol: String,
    idCol: String,
    k: Int = 5,
    minCount: Long = 2,
    hashShingles: Boolean = true,
    removedCol: String = "n_tokens_removed") extends Pipe {
  require(k >= 2, "k must be >= 2")
  require(minCount >= 2, "minCount must be >= 2")
  override def update: Boolean = true
  override def params = Map("text" -> textCol, "id" -> idCol,
    "k" -> k.toString, "minCount" -> minCount.toString,
    "hashShingles" -> hashShingles.toString, "removed" -> removedCol)

  protected def transform(df: DataFrame, ks: Seq[String]): DataFrame = {
    val slim = df.select(qcol(idCol).cast("long").as("__sd_id__"),
      coalesce(qcol(textCol), lit("")).as("__sd_t__"))
    // base feeds the occurrence explode AND the token explode — checkpoint
    // once so the tokenization runs a single time (MinHashLSH reasoning)
    val base = Pipe.widen(slim).select(col("__sd_id__"),
      split(trim(col("__sd_t__")), "\\s+").as("__sd_tk__"))
      .localCheckpoint(true)
    val tk = col("__sd_tk__")
    val shingle = (i: Column) => {
      val s = concat_ws(" ", slice(tk, i + 1, lit(k)))
      if (hashShingles) xxhash64(s) else s
    }
    val shArr = when(size(tk) >= k,
      arrTransform(sequence(lit(0), size(tk) - k), shingle))
      .otherwise(array().cast(
        if (hashShingles) "array<bigint>" else "array<string>"))
    // occurrences are NOT distinct-ed: a doc repeating its own shingle is
    // a duplicate too (self-repeats count, as in the reference algorithm)
    val occ = base.select(col("__sd_id__"),
      posexplode(shArr).as(Seq("__sd_sp__", "__sd_sh__")))
    val dup = occ.groupBy("__sd_sh__").agg(count(lit(1)).as("__sd_c__"))
      .filter(col("__sd_c__") >= minCount).select("__sd_sh__")
    val covered = occ.join(dup, Seq("__sd_sh__"), "left_semi")
      .select(col("__sd_id__"),
        explode(sequence(col("__sd_sp__"), col("__sd_sp__") + (k - 1)))
          .as("__sd_p__"))
      .distinct()
    val tokens = base.select(col("__sd_id__"),
      posexplode(tk).as(Seq("__sd_p__", "__sd_w__")))
    val rebuilt = tokens
      .join(covered, Seq("__sd_id__", "__sd_p__"), "left_anti")
      .groupBy("__sd_id__")
      .agg(concat_ws(" ", arrTransform(
        array_sort(collect_list(struct(col("__sd_p__").as("p"),
          col("__sd_w__").as("v")))),
        x => x.getField("v"))).as("__sd_clean__"),
        count(lit(1)).as("__sd_nk__"))
    df.join(rebuilt, qcol(idCol).cast("long") === col("__sd_id__"), "left")
      .withColumn(removedCol,
        (size(split(trim(coalesce(qcol(textCol), lit(""))), "\\s+")) -
          coalesce(col("__sd_nk__"), lit(0L))).cast("long"))
      .withColumn(textCol, coalesce(col("__sd_clean__"), lit("")))
      .drop("__sd_id__", "__sd_clean__", "__sd_nk__")
  }
}

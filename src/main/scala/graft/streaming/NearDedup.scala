package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** MinHash-LSH near-duplicate detection OVER A STREAM — the streaming
  * twin of [[graft.llm.MinHashLSHDedupPipe]]: each arriving document is
  * checked against the recent (watermark-bounded) corpus and verified
  * pairs `(id_a, id_b, jaccard)` are emitted as they are discovered.
  * This is the shape an ingestion pipeline needs: duplicates are caught
  * on arrival instead of by a nightly batch sweep.
  *
  * Lowering:
  *   1. map-only per row: distinct shingle hashes, minhash signature
  *      (the SAME fixed-seed linear permutations as the batch pipe, so
  *      both bucket identically), band bucket hashes;
  *   2. explode to one row per band and group by (band, bucket);
  *   3. `flatMapGroupsWithState` keeps the bucket's recent members —
  *      (id, shingle set, event time) — verifies EXACT Jaccard of each
  *      arrival against them, emits pairs >= threshold, appends the
  *      arrival, and prunes/expires state by event-time watermark, so
  *      per-bucket state is bounded by the watermark window, never the
  *      stream length.
  *
  * A pair found by several bands is emitted once per finding band
  * (exactly-once pair output would need cross-bucket coordination no
  * streaming engine gives you cheaply); compose a downstream
  * `dropDuplicates(id_a, id_b)` — batch, or
  * `dropDuplicatesWithinWatermark` on the pair stream — as the gate
  * does.
  *
  * At 100 TB-scale ingestion: state is (watermark-window docs) x
  * (shingle-set bytes) spread over bucket keys — sized by the window,
  * not the corpus; the map side is pure per-row expression work.
  */
object StreamingNearDedup {

  case class BandRow(band: Int, bh: Long, id: Long, sh: Seq[Long],
      tsMicros: Long, ts: java.sql.Timestamp)
  case class Member(id: Long, sh: Seq[Long], tsMicros: Long)
  case class Bucket(members: Seq[Member])
  /** `ts` is the finding arrival's event time: the same pair found by
    * several bands carries the SAME ts, so a downstream watermark-scoped
    * dedup (see [[unique]]) sees exact duplicates within one delay bound.
    */
  case class Pair(id_a: Long, id_b: Long, jaccard: Double,
      ts: java.sql.Timestamp)

  /** The per-band duplicate emissions removed INSIDE the streaming query:
    * chains a second stateful operator — a watermark-scoped key dedup on
    * (id_a, id_b) — onto the pair stream, making the "compose a
    * downstream dedup" contract executable rather than advisory. Every
    * band's copy of a pair carries the identical finding-arrival `ts`, so
    * any watermark ≥ the source's delay bound catches them all; dedup
    * state is (pair-rate × window) keys, watermark-expired, never the
    * stream length. On a batch frame the same call degenerates to a plain
    * key dedup (`withWatermark` is a no-op and
    * `dropDuplicatesWithinWatermark` deduplicates the whole frame).
    */
  def unique(pairs: Dataset[Pair], watermark: String = "1 hour"): DataFrame =
    pairs.toDF()
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("id_a", "id_b")

  /** Run `body` (a streaming-query start + drain over a [[unique]] plan)
    * with Spark's global-watermark correctness check disabled. The checker
    * refuses ANY stateful operator downstream of flatMapGroupsWithState,
    * because an arbitrary user function COULD emit event times older than
    * the watermark — rows the downstream operator would silently drop as
    * late. This pipeline provably cannot: every pair is stamped with the
    * FINDING ARRIVAL's event time ([[Pair.ts]]), and that arrival just
    * passed the upstream watermark filter, so pair event times are always
    * >= (watermark - delay) and are never late for the chained dedup.
    * Session-conf mutation, restored on exit — single-writer assumption,
    * same caveat as the drain helpers' shuffle-width scoping.
    */
  def withChainedStatefulQuery[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  def apply(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tsCol: String,
      watermark: String = "1 hour",
      numHashes: Int = 64,
      bands: Int = 32,
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.5): Dataset[Pair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val ops = graft.llm.DedupOps
    val wm0 = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    // spread the interpreted per-row signature work (shingles + 64
    // array_min permutations) across cores — computed on the source's
    // 1-2 file splits it serializes (8.4 s -> 3.7 s at sf0.1); the
    // stateless repartition carries only the raw text
    val wm = wm0.repartition(df.sparkSession.sparkContext.defaultParallelism)
    // the watermarked event-time COLUMN must survive every projection
    // down to the stateful operator — dropping it strips the watermark
    // tag and EventTimeTimeout refuses to plan
    val staged = wm.select(
      col(idCol).cast("long").as("id"),
      unix_micros(col(tsCol)).as("tsMicros"),
      col(tsCol).as("ts"),
      ops.shingleHashes(col(textCol), shingleSize).as("sh"))
      .withColumn("sig", ops.minhashSignatureLinear(col("sh"), numHashes))
    val banded = staged.select(
      col("id"), col("tsMicros"), col("ts"), col("sh"),
      posexplode(ops.bandHashes(col("sig"), numHashes, bands))
        .as(Seq("band", "bh")))
      .select("band", "bh", "id", "sh", "tsMicros", "ts")

    implicit val rowEnc = Encoders.product[BandRow]
    implicit val stEnc = Encoders.product[Bucket]
    implicit val outEnc = Encoders.product[Pair]

    val streaming = df.isStreaming
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded.as[BandRow]
      .groupByKey(row => (row.band, row.bh))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState[Bucket, Pair](
        OutputMode.Append(), timeout) {
        (_, rows: Iterator[BandRow], state: GroupState[Bucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wmMicros =
              if (streaming && state.getCurrentWatermarkMs() > 0)
                state.getCurrentWatermarkMs() * 1000L
              else Long.MinValue
            // survivors of the previous window + deterministic arrival order
            var members = state.getOption.map(_.members).getOrElse(Nil)
              .filter(_.tsMicros >= wmMicros).toList
            val arrivals = rows.toSeq.sortBy(a => (a.tsMicros, a.id))
            val out = Seq.newBuilder[Pair]
            // each member's shingle set is built ONCE per invocation and
            // extended as arrivals join the bucket — the former per-pair
            // m.sh.toSet rebuilt every member set for every arrival
            // (O(arrivals × members × |sh|) set construction)
            var memberSets = members.map(m => (m, m.sh.toSet))
            arrivals.foreach { a =>
              val aset = a.sh.toSet
              memberSets.foreach { case (m, mset) =>
                val inter = aset.intersect(mset).size
                val j = inter.toDouble / (aset.size + mset.size - inter)
                if (j >= jaccardThreshold && a.id != m.id)
                  out += Pair(math.min(a.id, m.id), math.max(a.id, m.id), j,
                    a.ts)
              }
              memberSets = (Member(a.id, a.sh, a.tsMicros), aset) :: memberSets
            }
            val newMembers = memberSets.map(_._1)
            state.update(Bucket(newMembers))
            if (streaming) {
              // expire the bucket once the watermark passes its newest
              // member (older members are already pruned on entry)
              val newest = newMembers.map(_.tsMicros).max / 1000L
              state.setTimeoutTimestamp(math.max(newest + 1,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }
}

/** Stream-vs-static near-dup flagging: each arriving document is checked
  * against a FIXED corpus — the streaming twin of
  * [[graft.llm.IncrementalMinHashDedupPipe]]'s cross half and the fuzzy
  * complement of [[graft.streaming.StreamingDecontaminate]]. Emits
  * `(id_a = arriving doc, id_b = corpus doc, jaccard)` with exact
  * shingle-Jaccard >= threshold.
  *
  * COMPLETELY STATELESS: the corpus's shingle sets and band buckets are
  * a static relation (loaded from the per-corpus signature cache, so a
  * growing ingest never re-shingles the corpus), the stream side's
  * signature is per-row expression work, and both the candidate band
  * join and the shingle-set verify are stream-static INNER equi-joins —
  * executed per micro-batch with zero streaming state, unlike
  * [[StreamingNearDedup]]'s watermark-bounded buckets (which solve the
  * different problem of pairing stream arrivals with EACH OTHER).
  * Append mode emits each finding exactly once per micro-batch.
  *
  * A pair found by several bands is emitted once per finding band (the
  * same contract as [[StreamingNearDedup]]); compose a downstream
  * `dropDuplicates(id_a, id_b)` — batch after the drain, or a
  * watermark-scoped dedup in-query.
  */
object StreamingCorpusDedup {
  def apply(
      stream: DataFrame,
      textCol: String,
      idCol: String,
      corpus: DataFrame,
      corpusTextCol: String,
      corpusIdCol: String,
      numHashes: Int = 64,
      bands: Int = 32,
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.5,
      cacheDir: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val ops = graft.llm.DedupOps
    // static side: identical build (and cache keys) as the batch pipes —
    // dd_incremental's corpus state and this stream's corpus state are
    // the SAME cached frames
    val (baseC, bandedC) = ops.minhashBanded(
      corpus, corpusTextCol, corpusIdCol, numHashes, bands, shingleSize, cacheDir)
    // stream side: per-row shingles + linear-permutation signature (the
    // same kernel and band hashes minhashBanded uses, so both sides
    // bucket identically); spread the interpreted HOF work
    // past the source's file splits
    val widened =
      if (stream.isStreaming) stream
      else stream.repartition(stream.sparkSession.sparkContext.defaultParallelism)
    val staged = widened.select(
      col(idCol).cast("long").as("id_a"),
      ops.shingleHashes(col(textCol), shingleSize).as("sh_a"))
      .withColumn("__sig__", ops.minhashSignatureLinear(col("sh_a"), numHashes))
    val bandedS = staged.select(
      col("id_a"), col("sh_a"),
      posexplode(ops.bandHashes(col("__sig__"), numHashes, bands))
        .as(Seq("band", "bh")))
    val na = size(col("sh_a")).cast("double")
    val nb = col("n_b").cast("double")
    bandedS
      .join(bandedC.select(col("band"), col("bh"),
        col("id").as("id_b"), col("n").as("n_b")), Seq("band", "bh"))
      .filter(least(na, nb) >= lit(jaccardThreshold) * greatest(na, nb))
      .join(baseC.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .transform(graft.llm.DedupOps.withJaccard(_, "sh_a", "sh_b"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

package perfbench

import graft.core.CachedStage
import graft.llm._
import graft.sources.TrainingShards
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Cold pretraining-corpus build of one fixed batch of raw pages: clean,
  * near-dedup, DSIR weights + temperature mix, shuffle + pack + shard
  * layout, shard write. It runs from an empty cache dir, so the
  * fingerprint cache hides nothing. `ingest_update` runs it in set-up: its
  * output shards are the curated corpus the standing table is seeded from.
  *
  * The raw pages hold junk pages (dropped by the cleaner) and planted
  * near-duplicate pairs (one side dropped by dedup).
  */
final class Curate(spark: SparkSession, g: Gen, input: String) {
  import Curate.shardSize
  import spark.implicits._

  val (pages, planted) =
    g.batch(g.fork(10), base = 1L, n = 400, junk = 40, dups = 30, lines = 7)
  private val targetPages = {
    val r = g.fork(11)
    (0 until 200).map(i => Page(500000L + i, g.goodText(r, r.nextInt(4), 7), "target", "unique"))
  }
  Input.pages(s"$input/raw", pages)
  Input.pages(s"$input/target", targetPages)

  // plain-Scala reference: junk is cleaned away, the higher id of every
  // planted pair is deduped away, then the temperature mix keeps the
  // rows its published rate formula keeps
  val expectedIds: Set[Long] = {
    val dropped = planted.map(_.dup).toSet
    val kept = pages.filter(p => p.kind != "junk" && !dropped(p.id))
    val counts = kept.groupBy(_.source).map { case (s, ps) => s -> ps.size }
    val nmin = counts.values.min
    val thr = counts.map { case (s, n) =>
      s -> math.max(math.round(math.sqrt(nmin.toDouble / n) * 10000), 1L) }
    kept.filter { p =>
      val slot = Math.floorMod(Math.floorMod(p.id * 131 + 7, 1000003L), 10000L)
      slot < thr(p.source)
    }.map(_.id).toSet
  }

  /** The kept ids in shard order: `DeterministicShufflePipe`'s slot, then id. */
  def trainingOrder: Seq[Long] = expectedIds.toSeq.sortBy { id =>
    val s1 = Math.floorMod(id * 131 + 7, 1000003L)
    (Math.floorMod(s1 * s1 + s1, 1000003L), id)
  }

  final case class Raw(manifest: Array[Row], clusters: DataFrame, pairs: DataFrame,
      clean: DataFrame, coldStart: Boolean)

  /** The build: raw pages → shards under `shardDir`, caches under `cacheDir`. */
  def run(cacheDir: String, shardDir: String, t: Tracer): Raw = {
    val coldStart = Files2.emptyDir(cacheDir)
    val raw = Input.read(spark, s"$input/raw", Input.pageSchema)
    val target = t.layer("llm.clean.target") {
      CachedStage(spark, s"$cacheDir/target", "dsir-target") {
        IngestPreset.cleaner(Input.read(spark, s"$input/target", Input.pageSchema))
          .select("doc_id", "text")
      }
    }
    val clean = t.layer("llm.clean") {
      CachedStage(spark, cacheDir, "clean") {
        IngestPreset.cleaner(raw).select("doc_id", "text", "source", "ws_tokens")
      }
    }
    var pairs: DataFrame = null
    var clusters: DataFrame = null
    val kept = t.layer("llm.dedup") {
      pairs = MinHashLSHDedupPipe("text", "doc_id", jaccardThreshold = 0.5,
        cacheDir = Some(s"$cacheDir/minhash"))(clean)
      clusters = DedupOps.connectedComponents(pairs)
      clean.join(clusters.filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    }
    val mixed = t.layer("llm.select") {
      TemperatureMixPipe("doc_id", "source", alpha = 0.5)(
        ImportanceWeightPipe("text", "doc_id", target, "text")(kept))
    }
    val laidOut = t.layer("llm.pack") {
      val shuffled = DeterministicShufflePipe("doc_id")(mixed)
        .withColumn("ord", col("shuffle_slot") * 1048576L + col("doc_id"))
      ShardAssignPipe("ord", shardSize)(PackSequencesPipe("ws_tokens", 2048, "ord")(shuffled))
        .select("doc_id", "source", "text", "ws_tokens", "dsir_logweight",
          "pack_first", "pack_last", "pack_pos", "shard_id", "pos_in_shard")
    }
    val manifest = t.eager("sources.shards") {
      TrainingShards.write(laidOut, shardDir).collect()
    }
    Raw(manifest, clusters, pairs, clean, coldStart)
  }

  /** Reference checks on a finished build, and its per-layer facts. */
  def check(r: Raw, shardDir: String): (Seq[String], Map[String, Double]) = {
    val errors = Seq.newBuilder[String]
    if (!r.coldStart) errors += "cold corpus build started with a non-empty cache dir"
    // shards: dense positions, and exactly the reference's rows
    val rows = r.manifest.map(m => m.getAs[Long]("n_rows")).sum
    r.manifest.foreach { m =>
      if (m.getAs[Long]("min_pos") != 0 || m.getAs[Long]("max_pos") != m.getAs[Long]("n_rows") - 1)
        errors += s"shard ${m.get(0)} positions are not dense"
    }
    val written = spark.read.parquet(shardDir).select("doc_id").as[Long].collect().toSet
    if (rows != expectedIds.size || written != expectedIds)
      errors += s"shards hold ${written.size} docs (manifest $rows), reference ${expectedIds.size}"
    // dedup: every planted pair lands in one cluster, and nothing else pairs
    val cluster = r.clusters.as[(Long, Long)].collect().toMap
    val found = r.pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .map { case (a, b) => (a min b, a max b) }.toSet
    val plantedSet = planted.map(p => (p.orig, p.dup)).toSet
    val hit = planted.count(p => cluster.contains(p.dup) && cluster.get(p.orig) == cluster.get(p.dup))
    if (!(found subsetOf plantedSet)) errors += s"${(found -- plantedSet).size} unplanted pairs"
    if (hit != planted.size) errors += s"dedup joined $hit of ${planted.size} planted pairs"
    val shards = DiskDelta.diff(DiskDelta.Snap(Map.empty, Map.empty), DiskDelta.snap(shardDir))
    (errors.result(), Map(
      "llm.clean.keep_frac" -> r.clean.count().toDouble / pages.size,
      "llm.dedup.pairs" -> found.size.toDouble,
      "sources.shards.bytes_written" -> shards.bytes.toDouble,
      "sources.shards.files" -> shards.files.toDouble))
  }
}

object Curate {
  val shardSize = 128L
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a 10x ("sf1") replica of the sf0.1 testdata for the scale smoke
  * — `runMain graft.tools.ScaleData [srcDir] [dstDir] [factor]`.
  *
  * Straight unioning would be adversarial for the dedup/ANN gates (every
  * row would gain factor-1 exact duplicates), so each replica is made
  * semantically DISTINCT while keeping the marginal distributions:
  *
  *   - documents: ids offset by k*10^7; the word multiset is kept but each
  *     replica permutes word order by a per-(replica, position, word) hash
  *     — 3-shingles across replicas share ~nothing, so near-dup pair
  *     counts scale like real data growth, not like copies;
  *   - embeddings: ids offset; vectors circular-shifted by k components —
  *     norms and component distributions identical, cross-replica cosine
  *     decorrelated;
  *   - events: user_id offset by k*10^7 (sessions/joins scale by user),
  *     timestamps untouched.
  *
  * Replica 0 is the ORIGINAL data unchanged, so every gate's id-scoped
  * query set (vec_id < 10, doc_id < 50 plants, ...) still hits real rows.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // legacy-source tolerance: a TIMESTAMP(NANOS) events source reads as
    // epoch-nanos long (written back as bare INT64, which
    // EventStream.adaptTs treats as nanos); the conf is a no-op for the
    // current micros-encoded fixtures, whose ts passes through unchanged
    val spark = graft.LocalSession("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    val off = 10000000L

    def replicas(k0: DataFrame => DataFrame, mut: (DataFrame, Int) => DataFrame,
        base: DataFrame): DataFrame =
      (0 until factor).map { k =>
        if (k == 0) k0(base) else mut(base, k)
      }.reduce(_.unionByName(_))

    // documents: replica k re-tags ~20% of word OCCURRENCES (hash-chosen
    // per (word, position, replica)) and permutes word order. Tagging
    // changes the word BAG — required because SimHash is order-blind, so
    // a pure permutation leaves signatures identical and every doc would
    // gain factor-1 signature-duplicates; 20% tagging also caps
    // cross-replica 3-shingle Jaccard at ~0.8^3/(2-0.8^3) ≈ 0.34 < the
    // 0.5 near-dup threshold.
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docsOut = replicas(
      identity,
      (df, k) => df.select(
        (col("doc_id") + k * off).as("doc_id"),
        array_join(
          expr(s"""transform(
            array_sort(
              transform(split(trim(text), '\\\\s+'),
                (w, i) -> struct(hash(w, i, $k) as h,
                  CASE WHEN hash(w, i, $k * 31) % 5 = 0
                       THEN concat(w, '$k') ELSE w END as w))),
            s -> s.w)"""), " ").as("text"),
        col("lang"), col("source"), col("n_chars")),
      docs)
    writeSingleFile(spark, docsOut, s"$dst/documents.parquet")

    // embeddings: replica k circular-shifts the vector by k components.
    // Past one full rotation (k >= dim, the sf10 rung) the shift alone
    // would duplicate replica-0 vectors verbatim — every ANN/dedup gate
    // would then measure a wall of exact cross-replica duplicates
    // instead of data growth — so those replicas additionally flip
    // signs by a per-(component, replica) hash: norms and magnitudes
    // identical, cross-replica cosine decorrelated. k < dim replicas
    // are byte-identical to the historical sf1 output.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embDim = emb.select(max(size(col("embedding")))).head().getInt(0)
    val embOut = replicas(
      identity,
      (df, k) => {
        val sh = k % embDim
        val shifted =
          s"slice(embedding, ${sh + 1}, size(embedding) - $sh) || slice(embedding, 1, $sh)"
        val mutated =
          if (k < embDim) shifted
          else s"transform($shifted, (x, t) -> CASE WHEN hash(t, $k) % 2 = 0 THEN -x ELSE x END)"
        df.select(
          (col("vec_id") + k * off).as("vec_id"),
          expr(mutated).as("embedding"),
          col("label"))
      },
      emb)
    embOut.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // events: replica k shifts the user space (and keeps event_id unique)
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evOut = replicas(
      identity,
      (df, k) => df
        .withColumn("user_id", col("user_id") + k * off)
        .withColumn("event_id", col("event_id") + k * off),
      ev)
    writeSingleFile(spark, evOut, s"$dst/events.parquet")

    // remaining tables pass through unchanged (the smoke's slow queries
    // only scale on documents/embeddings/events)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    Seq("documents", "embeddings", "events").foreach { t =>
      println(s"[scaledata] $t: " +
        spark.read.parquet(s"$dst/$t.parquet").count())
    }
    spark.stop()
  }

  /** Write as ONE parquet FILE at `path` (not a Spark directory): the
    * stream-read tables (documents, events) go through a
    * `pathGlobFilter` that matches file NAMES, so a directory-shaped
    * `<table>.parquet` would read as an empty stream.
    */
  private[graft] def writeSingleFile(
      spark: SparkSession, df: DataFrame, path: String): Unit = {
    val tmp = path + "_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val dstPath = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(dstPath)) fs.delete(dstPath, true)
    fs.rename(part, dstPath)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}

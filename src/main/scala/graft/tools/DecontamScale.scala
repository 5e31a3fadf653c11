package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the decontamination eval-literal scan —
  * `runMain graft.tools.DecontamScale [docsDir] [trainDocs] [evalDocs]`.
  *
  * The r17 finding: `arrays_overlap(docGrams, typedLit(evalNg))` walks
  * the FULL eval literal per clean row (and `array_intersect` builds a
  * |evalNg|-entry hash set PER ROW), so per-doc cost was linear in
  * |evalNg| up to the 2M-gram cap. The fix switches the over-threshold
  * path to the shipped-set probe (StringSetCountExpr — O(#docGrams) per
  * row). This probe measures, on the same train side in one JVM:
  *
  *   1. small eval (≤ 64k grams, plain literal path) — the baseline;
  *   2. big eval (≥ 1M grams), SET-PROBE (the default);
  *   3. big eval, probe forcibly DISABLED — the r17 literal shape;
  *
  * and asserts flags of (2) == (3). "Fixed" = wall(2) ≈ wall(1) (per-doc
  * cost independent of |evalNg|) while wall(3) is the old cliff.
  */
object DecontamScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf1")
    val subset = args.lift(1).map(_.toInt).getOrElse(5000)
    val spark = graft.LocalSession("spark.driver.memory" -> "32g",
      "spark.app.name" -> "decontam-scale")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 7 =!= 0).limit(subset)
      .localCheckpoint()
    println(s"[setup] train side: ${train.count()} docs")

    // Realistic shape: decontamination is CLEAN-DOMINATED — the eval
    // benchmark shares grams with a tiny fraction of the train corpus.
    // Carving eval from the same tables makes ~every row contaminated
    // (sibling corpora share common 3-grams), which defeats the point of
    // measuring the clean-row path; instead the eval pool is gram-
    // DISJOINT (every token suffixed) and contamination is PLANTED: ~2%
    // of train texts are copied into the eval corpus verbatim.
    val bigDocs = args.lift(2).map(_.toInt).getOrElse(60000)
    val mangled = array_join(transform(
      split(trim(col("text")), "\\s+"), t => concat(t, lit("_q"))), " ")
    val evalPool = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), mangled.as("text"))
    val plants = train.filter(col("doc_id") % 50 === 3)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
    // 350 pool docs keep the small eval comfortably under the 64k
    // literal threshold (≈100 8-grams/doc + the planted train docs);
    // the require below keeps the baseline label honest if data drifts
    val evalSmall = evalPool.limit(350).unionByName(plants).localCheckpoint()
    val evalBig = evalPool.limit(bigDocs).unionByName(plants).localCheckpoint()
    def gramCount(df: org.apache.spark.sql.DataFrame): Long = df.select(
      explode(graft.llm.CurationOps.wordNgrams(
        graft.llm.TextAnalysisOps.toks(col("text")), 8)).as("g"))
      .distinct().count()
    val gSmall = gramCount(evalSmall)
    val gBig = gramCount(evalBig)
    println(s"[setup] eval grams: small=$gSmall big=$gBig")
    require(gBig >= 1000000, s"big eval must carry >= 1M grams (got $gBig)")
    // the "small" legs are the LITERAL baseline by label — if the small
    // eval drifts over the probe threshold they'd silently run the set
    // probe too and the baseline comparison measures nothing
    require(gSmall <= graft.streaming.StreamingDecontaminate.DefaultLiteralScanNgrams,
      s"small eval must stay under the literal threshold (got $gSmall grams)")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[time] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    // count via an aggregate, NOT filter(...).count(): Catalyst pushes a
    // filter (with the flag expression substituted in) below the widening
    // repartition, serializing the whole scan onto the fixture's single
    // checkpoint partition — a partial aggregate stays above the exchange
    // and runs at the widened parallelism (at real scale the input has
    // many splits and either shape is parallel)
    def flagged(out: org.apache.spark.sql.DataFrame): Long =
      out.agg(sum(when(col("contaminated"), 1L).otherwise(0L)))
        .head().getLong(0)

    // reference datum for the NEXT ladder rung (the fixed-size bloom
    // bitmap used once the eval side outgrows even the collect cap):
    // one job over the eval side, independent of train size
    time("bloom bitmap build alone (one-time, eval side only)") {
      graft.llm.BloomOps.buildBitmap(evalBig, "text", 8, 4,
        graft.llm.BloomOps.sizedBits(gBig))
    }
    // n=8 (the GPT-3/PaLM gram size): exists-flags are clean-dominated
    // on the disjoint eval, so the per-row path is the CLEAN one
    val small = time(s"small-eval literal ($gSmall grams)") {
      flagged(graft.streaming.StreamingDecontaminate(
        train, evalSmall, "text", "doc_id", 8))
    }
    val gated = time(s"big-eval SET-PROBE ($gBig grams)") {
      flagged(graft.streaming.StreamingDecontaminate(
        train, evalBig, "text", "doc_id", 8))
    }
    val ungated = time(s"big-eval UNGATED — the r17 shape ($gBig grams)") {
      flagged(graft.streaming.StreamingDecontaminate(
        train, evalBig, "text", "doc_id", 8,
        literalScanNgrams = Int.MaxValue))
    }
    println(s"[check] flags small=$small gated=$gated ungated=$ungated")
    require(gated == ungated,
      s"set-probe flags diverge from the literal scan: $gated != $ungated")

    // fraction mode, same three legs (8-grams, the PaLM protocol)
    val fSmall = time("fraction small-eval literal") {
      flagged(graft.streaming.StreamingDecontaminate.fraction(
        train, evalSmall, "text", "doc_id", 8, 1500))
    }
    val fGated = time("fraction big-eval SET-PROBE") {
      flagged(graft.streaming.StreamingDecontaminate.fraction(
        train, evalBig, "text", "doc_id", 8, 1500))
    }
    val fUngated = time("fraction big-eval UNGATED") {
      flagged(graft.streaming.StreamingDecontaminate.fraction(
        train, evalBig, "text", "doc_id", 8, 1500,
        literalScanNgrams = Int.MaxValue))
    }
    println(s"[check] fraction flags small=$fSmall gated=$fGated " +
      s"ungated=$fUngated")
    require(fGated == fUngated,
      s"fraction set-probe flags diverge from the literal scan: " +
        s"$fGated != $fUngated")
    spark.stop()
  }
}

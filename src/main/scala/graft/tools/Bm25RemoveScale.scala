package graft.tools

import org.apache.spark.sql.functions._

/** Measures what the s36 gate's headline number should measure — the
  * O(removed) REMOVE DELTA against a seeded standing index, not the
  * one-time stats build — `runMain graft.tools.Bm25RemoveScale [docsDir]`.
  *
  * Protocol (the s21 seeding pattern):
  *   1. "seed": build + persist the full-corpus BM25 statistics under a
  *      fingerprint-keyed state dir (the standing index a production
  *      deployment owns already) — timed for reference;
  *   2. "remove delta": a FRESH engine instance over the same state dir
  *      (stats LOAD from parquet), removeDocuments(docId % 5 = 2), then
  *      20 queries — the takedown path: one O(removed-postings) df
  *      aggregate + map-side filters + the query join;
  *   3. "survivor rebuild": full re-tokenize + rebuild over the
  *      survivors + the same queries — what the delta path avoids.
  */
object Bm25RemoveScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf10docs")
    val stateDir = args.lift(1).getOrElse("/tmp/graft-cache/bm25-rm-scale")
    val spark = graft.LocalSession("spark.driver.memory" -> "48g",
      "spark.app.name" -> "bm25-remove-scale")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    println(s"[setup] corpus: ${docs.count()} docs")
    val cfg = graft.search.SearchConfig(k = 10, fillMaskedIndices = false,
      queryIdCol = Some("qid"))
    val queries = docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("query.text"))
      .localCheckpoint()
    val fp = s"bm25-rm-scale:$dir"

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[time] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    def engine(corpus: org.apache.spark.sql.DataFrame,
        state: Option[String], fprint: String) =
      graft.search.BM25Engine(corpus, cfg, corpusIdxCol = "doc_id",
        corpusTextCol = "text", roundScores = Some(4),
        stateDir = state, corpusFingerprint = fprint)

    // 1. seed the standing index (cold build + persist)
    time("seed: full stats build + persist") {
      val e = engine(docs, Some(stateDir), fp)
      // force all three persisted frames + totals
      e.stats.postings.count(); e.stats.dfreq.count()
    }
    // 2. the remove delta against the seeded state (fresh instance:
    //    stats LOAD, nothing re-tokenizes)
    time("remove delta: load + removeDocuments + 20 queries") {
      val e = engine(docs, Some(stateDir), fp)
        .removeDocuments(col("docId") % 5 === 2)
      e(queries).collect()
    }
    // 3. the rebuild the delta path avoids
    time("survivor rebuild: re-tokenize + build + 20 queries") {
      val e = engine(docs.filter(col("doc_id") % 5 =!= 2), None, "")
      e(queries).collect()
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Time [[graft.search.LSHDenseEngine]] layouts against a fixture dir —
  * the retrieval twin of [[SrpScale]]:
  * `runMain graft.tools.LshScale <sfDir> <nBits> [bands] [nQueries]`.
  * Builds the engine cacheless (the signature build is timed — the
  * honest cold shape), runs the query batch twice, prints min wall and
  * the per-query self-hit rate (every query is a corpus vector, so its
  * identical signature must retrieve it at rank 1 at ANY layout width —
  * a recall canary alongside the timing).
  */
object LshScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBits = args(1).toInt
    val bands = args.lift(2).map(_.toInt).getOrElse(6)
    val nQ = args.lift(3).map(_.toInt).getOrElse(100)
    val spark = graft.LocalSession()
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("idx"), col("embedding").as("vector"))
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 1000 === 7).limit(nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("query.vector"))
      .localCheckpoint(true)
    val n = corpus.count()
    val eng = graft.search.LSHDenseEngine(corpus, nBits = nBits,
      bands = bands,
      config = graft.search.SearchConfig(k = 10,
        fillMaskedIndices = false, queryIdCol = Some("qid")))
    def once(): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val out = eng(queries)
        .select(col("qid").cast("long"),
          element_at(col("`index.idx`"), 1).as("top"))
        .collect()
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, out.length.toLong, out.count(r => !r.isNullAt(1) && r.getLong(0) == r.getLong(1)).toLong)
    }
    val runs = Seq(once(), once())
    val (qs, self) = (runs.head._2, runs.head._3)
    println(f"[lshscale] dir=$dir n=$n nBits=$nBits bands=$bands " +
      f"occupancy=${n.toDouble / math.pow(2, nBits / bands)}%.2f " +
      f"queries=$qs selfHits=$self " +
      f"times=${runs.map(r => f"${r._1}%.2f").mkString(",")} " +
      f"min=${runs.map(_._1).min}%.2f")
    spark.stop()
  }
}

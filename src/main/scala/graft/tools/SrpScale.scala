package graft.tools

import org.apache.spark.sql.functions._

/** Time [[graft.llm.SRPCosineDedupPipe]] layouts against a fixture dir —
  * the sizing-knob experiment behind SURVEY §6's sf10 rung:
  * `runMain graft.tools.SrpScale <sfDir> <nBits> [bands]`.
  * Prints min-of-2 wall time and the pair count (cacheless, so the
  * signature build is timed too — the honest cold shape).
  */
object SrpScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBits = args(1).toInt
    val bands = args.lift(2).map(_.toInt).getOrElse(6)
    val spark = graft.LocalSession()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.llm.SRPCosineDedupPipe("v", "id",
        nBits = nBits, bands = bands)(emb).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val runs = Seq(once(), once())
    println(s"[srpscale] dir=$dir nBits=$nBits bands=$bands " +
      s"pairs=${runs.head._2} times=${runs.map(r => f"${r._1}%.2f").mkString(",")} " +
      f"min=${runs.map(_._1).min}%.2f")
    spark.stop()
  }
}

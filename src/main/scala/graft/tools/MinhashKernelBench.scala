package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.llm.DedupOps

/** Same-JVM A/B of the minhash/shingle kernels: the pre-r19 relational
  * (higher-order-function) forms vs the codegen'd expressions now behind
  * [[DedupOps.shingleHashes]] / [[DedupOps.minhashSignatureLinear]].
  * Interleaved alternating iterations against the same parquet input with
  * a noop sink, so JIT/GC drift hits both sides equally.
  *
  * runMain graft.tools.MinhashKernelBench <sfDir> [iters] [numHashes]
  */
object MinhashKernelBench {
  private def hofShingleHashes(text: Column, k: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val n = size(toks)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(0), n - k),
          i => xxhash64(concat_ws("", slice(toks, i + 1, lit(k))))))
        .otherwise(array(xxhash64(text))))
  }

  private def hofSignature(sh: Column, numHashes: Int): Column = {
    val p = DedupOps.MinhashPrime
    array(DedupOps.minhashCoeffs(numHashes).map { case (a, b) =>
      array_min(transform(sh, x => pmod(pmod(x, lit(p)) * a + b, lit(p))))
    }: _*)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = if (args.length > 1) args(1).toInt else 5
    val nh = if (args.length > 2) args(2).toInt else 64
    val spark = graft.LocalSession()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def run(label: String, f: () => Unit): Double = {
      spark.sparkContext.setJobDescription(s"kernel: $label")
      val t0 = System.nanoTime()
      f()
      (System.nanoTime() - t0) / 1e9
    }
    val hof = () => docs
      .select(col("doc_id"),
        hofSignature(hofShingleHashes(col("text"), 5), nh).as("sig"))
      .write.format("noop").mode("overwrite").save()
    val cg = () => docs
      .select(col("doc_id"),
        DedupOps.minhashSignatureLinear(
          DedupOps.shingleHashes(col("text"), 5), nh).as("sig"))
      .write.format("noop").mode("overwrite").save()

    // warmup both
    hof(); cg()
    val (th, tc) = (Array.ofDim[Double](iters), Array.ofDim[Double](iters))
    for (i <- 0 until iters) {
      th(i) = run(s"hof $i", hof)
      tc(i) = run(s"codegen $i", cg)
    }
    println(f"[kernel] hof     min=${th.min}%.3f med=${th.sorted.apply(iters / 2)}%.3f  ${th.map(t => f"$t%.3f").mkString(",")}")
    println(f"[kernel] codegen min=${tc.min}%.3f med=${tc.sorted.apply(iters / 2)}%.3f  ${tc.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}

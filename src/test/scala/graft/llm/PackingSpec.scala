package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("global packing: hand-computed chunk spans, seqLen 10") {
    val df = Seq((1L, 4L), (2L, 8L), (3L, 10L), (4L, 0L), (5L, 25L))
      .toDF("id", "n")
    val out = PackSequencesPipe("n", 10, "id")(df)
      .select("id", "pack_first", "pack_last", "pack_pos")
      .orderBy("id").collect()
    assert(out.toSeq == Seq(
      Row(1L, 0L, 0L, 0L), // tokens [0,4) -> pack 0
      Row(2L, 0L, 1L, 4L), // [4,12) crosses into pack 1
      Row(3L, 1L, 2L, 2L), // [12,22)
      Row(4L, 2L, 2L, 2L), // empty doc: degenerate span at its offset
      Row(5L, 2L, 4L, 2L))) // [22,47) spans packs 2-4
  }

  test("grouped packing: independent streams per group") {
    val df = Seq(("a", 1L, 6L), ("a", 2L, 6L), ("b", 1L, 3L), ("b", 2L, 3L))
      .toDF("g", "id", "n")
    val out = PackSequencesPipe("n", 8, "id", groupCol = Some("g"))(df)
      .select("g", "id", "pack_first", "pack_pos").orderBy("g", "id").collect()
    assert(out.toSeq == Seq(
      Row("a", 1L, 0L, 0L), Row("a", 2L, 0L, 6L),
      Row("b", 1L, 0L, 0L), Row("b", 2L, 0L, 3L)))
  }

  test("packing is a loss-free layout: offsets tile exactly, no overlap") {
    val docs = spark.read.parquet(sf("documents"))
      .withColumn("n", size(split(trim(col("text")), "\\s+")).cast("long"))
    val out = PackSequencesPipe("n", 128, "doc_id")(docs)
    // reconstruct each doc's absolute offset and check consecutive docs
    // (by doc_id) are exactly adjacent: off(i+1) = off(i) + n(i)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val bad = out
      .withColumn("off", col("pack_first") * 128 + col("pack_pos"))
      .withColumn("prev_end",
        lag(col("pack_first") * 128 + col("pack_pos") + col("n"), 1, 0L).over(w))
      .filter(col("off") =!= col("prev_end")).count()
    assert(bad == 0)
    // plan shape: the global prefix sum runs inside the zipWithIndex RDD
    // lineage (surfacing as an ExistingRDD scan) — and nothing may route
    // the bulk data through a single-partition exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"expected the RDD-lineage prefix sum, got:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in:\n$plan")
  }

  test("materialized packs: hand-computed cross-doc slices") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d", "e")),
      (3L, Seq("f"))).toDF("doc_id", "toks")
    val out = PackMaterializePipe("toks", 4, "doc_id", "doc_id")(df)
      .orderBy("pack_id")
      .select("pack_id", "n_tokens", "tokens", "doc_ids")
      .as[(Long, Int, Seq[String], Seq[Long])].collect()
    // 6 tokens at seqLen 4: pack 0 = [a b c d] (docs 1,1,1,2),
    // pack 1 = [e f] (docs 2,3), ragged
    assert(out.toSeq == Seq(
      (0L, 4, Seq("a", "b", "c", "d"), Seq(1L, 1L, 1L, 2L)),
      (1L, 2, Seq("e", "f"), Seq(2L, 3L))))
  }

  test("materialized packs: full packs uniform, layout-invariant on real docs") {
    val docs = spark.read.parquet(sf("documents"))
      .withColumn("toks", split(trim(col("text")), "\\s+"))
    val pipe = PackMaterializePipe("toks", 128, "doc_id", "doc_id")
    val out = pipe(docs)
    val sizes = out.select("pack_id", "n_tokens")
      .orderBy("pack_id").collect()
    // every pack holds exactly seqLen tokens except the last ragged one
    assert(sizes.dropRight(1).forall(_.getInt(1) == 128))
    assert(sizes.last.getInt(1) <= 128)
    // token conservation: sum of pack sizes == corpus token count
    val total = docs.agg(sum(size(col("toks")))).head().getLong(0)
    assert(sizes.map(_.getInt(1).toLong).sum == total)
    // identical layout from any input partitioning
    val re = pipe(docs.repartition(13)).select("pack_id", "tokens")
    assert(out.select("pack_id", "tokens").except(re).count() == 0)
  }

  test("materialized packs on real docs: prefix sum runs in the RDD lineage") {
    val docs = spark.read.parquet(sf("documents"))
      .withColumn("toks", split(trim(col("text")), "\\s+"))
    val pm = PackMaterializePipe("toks", 128, "doc_id", "doc_id")(docs)
    val sizes = pm.select("pack_id", "n_tokens").orderBy("pack_id").collect()
    val total = docs.agg(sum(size(col("toks")))).head().getLong(0)
    assert(sizes.dropRight(1).forall(_.getInt(1) == 128))
    assert(sizes.map(_.getInt(1).toLong).sum == total)
    assert(pm.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }
}

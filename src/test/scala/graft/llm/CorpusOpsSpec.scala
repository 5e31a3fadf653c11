package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("id checks resolve like Spark: case-insensitive match passes, missing fails") {
    val docs = spark.read.parquet(sf("documents")).limit(5)
    // "DOC_ID" resolves against doc_id under the default case-insensitive
    // session — the numeric-id refusal must not reject what qcol accepts
    assert(DeterministicShufflePipe("DOC_ID")(docs).count() == 5)
    // a genuinely absent column fails loudly at plan time
    val e = intercept[IllegalArgumentException] {
      DeterministicShufflePipe("nope_id")(docs)
    }
    assert(e.getMessage.contains("not found"))
  }

  test("deterministic shuffle: a permutation, stable across runs and plans") {
    val docs = spark.read.parquet(sf("documents"))
    val a = DeterministicShufflePipe("doc_id")(docs)
    // same rows, nothing dropped or duplicated
    assert(a.count() == docs.count())
    assert(a.select("doc_id").except(docs.select("doc_id")).count() == 0)
    // identical slot assignment on a re-run and under a different layout
    val b = DeterministicShufflePipe("doc_id")(docs.repartition(13))
    assert(a.select("doc_id", "shuffle_slot")
      .except(b.select("doc_id", "shuffle_slot")).count() == 0)
    // actually mixes: adjacent-pair inversions near the random-permutation
    // expectation (50%), and consecutive ids land far apart in slot space
    val slots = a.select("shuffle_slot").orderBy("doc_id").as[Long]
      .collect().toSeq
    val monotone = slots.sliding(2).count { case Seq(x, y) => y > x }
    assert(monotone > slots.size * 2 / 5 && monotone < slots.size * 3 / 5,
      s"not random-like: $monotone/${slots.size} ascending pairs")
    val close = slots.sliding(2).count { case Seq(x, y) => math.abs(y - x) < 1000 }
    assert(close < slots.size / 10, s"locality survives: $close close pairs")
  }

  test("corpus stats: exact quantiles on a hand-checked group") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 10))
      .toDF("g", "v")
    val out = CorpusStatsPipe(Seq("g"), "v", Seq(0.5), approx = false)(df)
      .select("g", "n", "mean", "min", "max", "p50").orderBy("g").collect()
    assert(out(0) == Row("a", 4L, 2.5, 1, 4, 2.5)) // interpolated median
    assert(out(1) == Row("b", 1L, 10.0, 10, 10, 10.0))
  }

  test("row ids: dense, contiguous, order-correct, layout-invariant") {
    val docs = spark.read.parquet(sf("documents"))
    val out = graft.pipes.AssignRowIdPipe("doc_id")(docs)
    val ids = out.orderBy("doc_id").select("row_idx").as[Long].collect()
    assert(ids.toSeq == ids.indices.map(_.toLong)) // doc_id order == id order
    val re = graft.pipes.AssignRowIdPipe("doc_id")(docs.repartition(13))
      .select("doc_id", "row_idx")
    assert(out.select("doc_id", "row_idx").except(re).count() == 0)
  }

  test("shard assignment: exact tiling and layout invariance") {
    val docs = spark.read.parquet(sf("documents"))
    val pipe = ShardAssignPipe("doc_id", 64)
    val out = pipe(docs).select("doc_id", "shard_id", "pos_in_shard")
    val n = docs.count()
    val sizes = out.groupBy("shard_id").count().orderBy("shard_id")
      .select("count").as[Long].collect()
    // every shard full except possibly the last
    assert(sizes.dropRight(1).forall(_ == 64L))
    assert(sizes.last == (if (n % 64 == 0) 64L else n % 64))
    assert(sizes.length == ((n + 63) / 64))
    // positions tile 0..size-1 within each shard
    val badPos = pipe(docs).groupBy("shard_id")
      .agg(min("pos_in_shard").as("lo"), max("pos_in_shard").as("hi"),
        count(lit(1)).as("c"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("c") - 1).count()
    assert(badPos == 0)
    // identical assignment from any input layout
    val re = pipe(docs.repartition(13)).select("doc_id", "shard_id", "pos_in_shard")
    assert(out.except(re).count() == 0)
  }

  test("weighted interleave: hand-computed 2:1 pattern, layout-invariant") {
    val a = (1L to 6L).map(i => (i, "a")).toDF("id", "tag")
    val b = (101L to 103L).map(i => (i, "b")).toDF("id", "tag")
    val out = InterleaveDatasets(Seq(a -> 2.0, b -> 1.0), "id")
      .orderBy("interleave_pos").select("tag").as[String].collect()
    // keys A: r*5e5, B: r*1e6; equal keys break to the lower source_idx
    assert(out.mkString == "aabaabaab")
    // same layout from any input partitioning
    val re = InterleaveDatasets(
      Seq(a.repartition(5) -> 2.0, b.repartition(3) -> 1.0), "id")
      .select("id", "interleave_pos")
    val orig = InterleaveDatasets(Seq(a -> 2.0, b -> 1.0), "id")
      .select("id", "interleave_pos")
    assert(orig.except(re).count() == 0)
  }

  test("distinct cardinality: exact value, approx within HLL tolerance") {
    val docs = spark.read.parquet(sf("documents"))
    val ex = CorpusStatsPipe(Seq("lang"), "n_chars", approx = false,
      distinctCol = Some("source"))(docs)
      .select("lang", "n_distinct").withColumnRenamed("n_distinct", "e")
    val truth = docs.groupBy("lang")
      .agg(count_distinct(col("source")).as("t"))
    assert(ex.join(truth, "lang").filter(col("e") =!= col("t")).count() == 0)
    val ap = CorpusStatsPipe(Seq("lang"), "n_chars", approx = true,
      distinctCol = Some("source"))(docs)
      .select("lang", "n_distinct").withColumnRenamed("n_distinct", "a")
    val bad = ap.join(truth, "lang")
      .filter(abs(col("a") - col("t")) > col("t") * 0.1 + 2).count()
    assert(bad == 0)
  }

  test("approx quantiles track exact within tolerance on real data") {
    val docs = spark.read.parquet(sf("documents"))
    val ex = CorpusStatsPipe(Seq("lang"), "n_chars", approx = false)(docs)
      .select("lang", "p50").withColumnRenamed("p50", "exact")
    val ap = CorpusStatsPipe(Seq("lang"), "n_chars", approx = true)(docs)
      .select("lang", "p50").withColumnRenamed("p50", "approx")
    val bad = ex.join(ap, "lang")
      .filter(abs(col("exact") - col("approx")) > col("exact") * 0.05 + 5)
      .count()
    assert(bad == 0)
  }

  test("deterministic shuffle on real docs: layout-stable permutation, range-partitioned") {
    val docs = spark.read.parquet(sf("documents"))
    val sh = DeterministicShufflePipe("doc_id")(docs)
    val re = DeterministicShufflePipe("doc_id")(docs.repartition(7))
    assert(sh.select("doc_id", "shuffle_slot")
      .except(re.select("doc_id", "shuffle_slot")).count() == 0)
    assert(sh.count() == docs.count())
    assert(sh.queryExecution.executedPlan.toString.contains("rangepartitioning"))
  }

  test("corpus stats on real docs: approx p50 tracks exact, map-side partial aggregate") {
    val docs = spark.read.parquet(sf("documents"))
    val exact = CorpusStatsPipe(Seq("lang"), "n_chars", approx = false)(docs)
    val approx = CorpusStatsPipe(Seq("lang"), "n_chars", approx = true)(docs)
    val bad = exact.select(col("lang"), col("p50").as("e"))
      .join(approx.select(col("lang"), col("p50").as("a")), "lang")
      .filter(abs(col("e") - col("a")) > col("e") * 0.05 + 5).count()
    assert(bad == 0)
    assert(exact.queryExecution.executedPlan.toString.contains("partial_"))
  }

  test("weighted interleave rejects a weight above 2e6 (zero fixed-point inverse)") {
    intercept[IllegalArgumentException] {
      InterleaveDatasets(
        Seq(spark.read.parquet(sf("documents")).select("doc_id") -> 3e6), "doc_id")
    }
  }
}

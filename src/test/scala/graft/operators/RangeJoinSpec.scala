package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("point-in-interval: boundaries inclusive, multi-bin spans, exact-once") {
    val pts = Seq((1L, "k", 10L), (2L, "k", 25L), (3L, "k", 99L), (4L, "j", 10L))
      .toDF("pid", "key", "ts")
    val ivs = Seq(
      (100L, "k", 10L, 30L), // contains pids 1 (start bound) and 2
      (200L, "k", 25L, 25L), // degenerate [25,25]: contains pid 2 only
      (300L, "k", 0L, 95L), // spans many bins with width 7; pids 1,2
      (400L, "j", 11L, 20L)) // pid 4 misses by 1
      .toDF("iid", "key", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, ivs, "ts", "lo", "hi",
      binWidth = 7L, keyCols = Seq("key"))
      .select("pid", "iid").orderBy("pid", "iid").collect()
    assert(out.toSeq == Seq(
      Row(1L, 100L), Row(1L, 300L),
      Row(2L, 100L), Row(2L, 200L), Row(2L, 300L)))
  }

  test("binned plan is an equi-join — no nested-loop or cartesian product") {
    val pts = Seq((1L, 10L)).toDF("pid", "ts")
    val ivs = Seq((9L, 5L, 15L)).toDF("iid", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, ivs, "ts", "lo", "hi", 10L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi plan:\n$plan")
  }

  test("rolling window: trailing range frame, ties share a frame") {
    val df = Seq(("k", 0L, 1.0), ("k", 50L, 2.0), ("k", 100L, 4.0),
      ("k", 100L, 8.0), ("k", 161L, 16.0), ("j", 100L, 32.0))
      .toDF("key", "ts", "v")
    val out = RollingWindowPipe(Seq("key"), "ts", "v", windowSize = 100L)(df)
      .select("key", "ts", "v", "rolling_cnt", "rolling_sum")
      .orderBy("key", "ts", "v").collect()
    assert(out.toSeq == Seq(
      Row("j", 100L, 32.0, 1L, 32.0),
      Row("k", 0L, 1.0, 1L, 1.0),
      Row("k", 50L, 2.0, 2L, 3.0),
      Row("k", 100L, 4.0, 4L, 15.0), // ts=0 still inside [0,100]; ties pooled
      Row("k", 100L, 8.0, 4L, 15.0), // tie row sees the SAME frame
      Row("k", 161L, 16.0, 3L, 28.0))) // [61,161]: the two 100s + itself
  }

  test("group top-k: ties break deterministically, ascending mode works") {
    val df = Seq(("a", 1L, 5), ("a", 2L, 5), ("a", 3L, 9), ("a", 4L, 1),
      ("b", 5L, 2)).toDF("g", "id", "v")
    val top = GroupTopKPipe(Seq("g"), "v", 2, "id")(df)
      .select("g", "id", "rank").orderBy("g", "rank").collect()
    assert(top.toSeq == Seq(
      Row("a", 3L, 1), Row("a", 1L, 2), // 5-tie -> lower id wins
      Row("b", 5L, 1)))
    val bottom = GroupTopKPipe(Seq("g"), "v", 1, "id", descending = false,
      rankCol = None)(df).select("g", "id").orderBy("g").collect()
    assert(bottom.toSeq == Seq(Row("a", 4L), Row("b", 5L)))
  }

  test("bounded-heap group top-k equals the window mode, ranks included") {
    val docs = spark.read.parquet(sf("documents"))
    val window = GroupTopKPipe(Seq("lang"), "n_chars", 7, "doc_id")(docs)
      .select("lang", "doc_id", "n_chars", "rank")
    val heap = GroupTopKPipe(Seq("lang"), "n_chars", 7, "doc_id",
      useHeap = true)(docs).select("lang", "doc_id", "n_chars", "rank")
    assert(window.except(heap).count() == 0 &&
      heap.except(window).count() == 0 &&
      window.count() == heap.count())
    // ascending (bottom-k) parity too
    val wAsc = GroupTopKPipe(Seq("lang"), "n_chars", 5, "doc_id",
      descending = false)(docs).select("lang", "doc_id", "rank")
    val hAsc = GroupTopKPipe(Seq("lang"), "n_chars", 5, "doc_id",
      descending = false, useHeap = true)(docs).select("lang", "doc_id", "rank")
    assert(wAsc.except(hAsc).count() == 0 && hAsc.except(wAsc).count() == 0)
    // the heap plan is an AGGREGATE with partial (map-side) combine —
    // no window operator anywhere
    val plan = GroupTopKPipe(Seq("lang"), "n_chars", 3, "doc_id",
      useHeap = true)(docs).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"), plan)
    assert(plan.contains("partial_collecttopk") ||
      plan.toLowerCase.contains("objecthashaggregate") ||
      plan.toLowerCase.contains("sortaggregate"), plan)
  }

  test("heap mode orders LONG scores natively — no 2^53 double collapse") {
    // 2^53 and 2^53+1 are the SAME double; Long.Min/Max negation
    // overflows. The heap path orders integrals as longs via bitwise NOT,
    // so it must agree with the window on all of them, both directions.
    val df = Seq(
      ("g", 1L, 9007199254740992L),      // 2^53
      ("g", 2L, 9007199254740993L),      // 2^53 + 1 (> 2^53, same double)
      ("g", 3L, Long.MaxValue),
      ("g", 4L, Long.MaxValue - 1),
      ("g", 5L, Long.MinValue),
      ("g", 6L, Long.MinValue + 1),
      ("g", 7L, 0L)).toDF("g", "id", "v")
    for (desc <- Seq(true, false)) {
      val window = GroupTopKPipe(Seq("g"), "v", 4, "id", descending = desc)(df)
        .select("g", "id", "v", "rank")
      val heap = GroupTopKPipe(Seq("g"), "v", 4, "id", descending = desc,
        useHeap = true)(df).select("g", "id", "v", "rank")
      assert(window.except(heap).count() == 0 &&
        heap.except(window).count() == 0 &&
        window.count() == heap.count(), s"desc=$desc")
    }
    // specifically: 2^53+1 must outrank 2^53 (the double path ties them)
    val top = GroupTopKPipe(Seq("g"), "v", 7, "id", useHeap = true)(df)
      .select("id", "rank").orderBy("rank").collect()
    assert(top(2).getLong(0) == 2L && top(3).getLong(0) == 1L, top.toSeq)
  }

  test("heap mode: scale-0 decimals ride the long path, wide/scaled fail loudly") {
    // integral-valued DECIMAL(18,0) beyond 2^53 must not collapse to
    // double ties — it rides the exact long path like LongType
    val base = Seq(
      ("g", 1L, 9007199254740992L),      // 2^53
      ("g", 2L, 9007199254740993L),      // 2^53 + 1 (same double)
      ("g", 3L, 7L)).toDF("g", "id", "raw")
    val df = base.selectExpr("g", "id", "cast(raw as decimal(18,0)) as v")
    val top = GroupTopKPipe(Seq("g"), "v", 3, "id", useHeap = true)(df)
      .select("id", "rank").orderBy("rank").collect()
    assert(top(0).getLong(0) == 2L && top(1).getLong(0) == 1L, top.toSeq)
    // wider or scaled decimals can't order exactly on either path: loud
    val wide = base.selectExpr("g", "id", "cast(raw as decimal(38,0)) as v")
    val e1 = intercept[IllegalArgumentException] {
      GroupTopKPipe(Seq("g"), "v", 2, "id", useHeap = true)(wide)
    }
    assert(e1.getMessage.contains("decimal"), e1.getMessage)
    val scaled = base.selectExpr("g", "id", "cast(raw as decimal(20,2)) as v")
    val e2 = intercept[IllegalArgumentException] {
      GroupTopKPipe(Seq("g"), "v", 2, "id", useHeap = true)(scaled)
    }
    assert(e2.getMessage.contains("decimal"), e2.getMessage)
  }

  test("heap mode fails loudly on null scores and non-numeric scores") {
    val df = Seq((1L, "x"), (2L, null)).toDF("id", "s")
      .selectExpr("'g' as g", "id", "if(id = 2, cast(null as long), id) as v")
    val e = intercept[Exception] {
      GroupTopKPipe(Seq("g"), "v", 2, "id", useHeap = true)(df).collect()
    }
    assert(e.getMessage.contains("null score") ||
      Option(e.getCause).exists(_.getMessage.contains("null score")), e.getMessage)
    // the window mode stays permissive (nulls last, its documented shape)
    val ok = GroupTopKPipe(Seq("g"), "v", 3, "id")(df)
    assert(ok.count() == 2)
    val txt = Seq(("g", 1L, "abc")).toDF("g", "id", "v")
    val bad = intercept[IllegalArgumentException] {
      GroupTopKPipe(Seq("g"), "v", 1, "id", useHeap = true)(txt).collect()
    }
    assert(bad.getMessage.contains("numeric"))
  }

  test("group top-k on real docs: every group bounded by k, kept rows dominate") {
    val docs = spark.read.parquet(sf("documents"))
    val topk = GroupTopKPipe(Seq("lang"), "n_chars", 3, "doc_id")(docs)
    assert(topk.groupBy("lang").count().filter(col("count") > 3).count() == 0)
    val worstKept = topk.groupBy("lang").agg(min("n_chars").as("wk"))
    val excluded = docs.join(topk.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(max("n_chars").as("be"))
    assert(worstKept.join(excluded, "lang")
      .filter(col("be") > col("wk")).count() == 0)
  }

  private def events = graft.streaming.EventStream.readBatch(spark,
    "/root/testdata/sf0.001")

  test("binned range join equals the naive inequality join on real events") {
    val ev = events
    val cl = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val wn = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + 600L * 1000000L).as("hi"))
    val binned = RangeJoin.pointInInterval(cl, wn,
      "ts_us", "lo", "hi", binWidth = 200L * 1000000L, // bins << span
      keyCols = Seq("user_id")).select("event_id", "err_id")
    val naive = cl.as("c").join(wn.as("w"),
      col("c.user_id") === col("w.user_id") &&
        col("ts_us") >= col("lo") && col("ts_us") <= col("hi"))
      .select("event_id", "err_id")
    assert(binned.except(naive).count() == 0 &&
      naive.except(binned).count() == 0 && binned.count() == naive.count())
  }

  test("rolling window equals a naive self-join replay on real events") {
    val evu = events.withColumn("ts_us", unix_micros(col("ts")))
    val rw = RollingWindowPipe(Seq("user_id"), "ts_us", "value",
      windowSize = 3600L * 1000000L)(evu)
    val naive = evu.as("a").join(evu.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.ts_us") <= col("a.ts_us") &&
          col("b.ts_us") >= col("a.ts_us") - 3600L * 1000000L)
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(lit(1)).as("nc"), round(sum(col("b.value")), 4).as("ns"))
    val bad = rw.select(col("event_id"), col("rolling_cnt"), col("rolling_sum"))
      .join(naive, "event_id")
      .filter(col("rolling_cnt") =!= col("nc") ||
        col("rolling_sum") =!= col("ns")).count()
    assert(bad == 0)
  }
}

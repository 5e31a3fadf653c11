package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

class UpsertMergeSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("k", "s", "v")

  test("update, delete, and insert in one merge") {
    val changes = Seq(
      (2L, "B", 21.0, false), // update
      (3L, "c", 30.0, true), // delete
      (4L, "d", 40.0, false)) // insert
      .toDF("k", "s", "v", "del")
    val out = UpsertMerge(base, changes, Seq("k"), deleteCol = Some("del"))
      .orderBy("k").collect().toSeq
    assert(out == Seq(
      Row(1L, "a", 10.0), Row(2L, "B", 21.0), Row(4L, "d", 40.0)))
  }

  test("no delete column: pure upsert") {
    val changes = Seq((1L, "A", 11.0), (9L, "z", 90.0)).toDF("k", "s", "v")
    val out = UpsertMerge(base, changes, Seq("k")).orderBy("k").collect().toSeq
    assert(out == Seq(Row(1L, "A", 11.0), Row(2L, "b", 20.0),
      Row(3L, "c", 30.0), Row(9L, "z", 90.0)))
  }

  test("schema mismatch fails loudly") {
    val bad = Seq((1L, "x")).toDF("k", "s")
    intercept[IllegalArgumentException] {
      UpsertMerge(base, bad, Seq("k"))
    }
  }

  test("duplicate change keys are refused (SQL MERGE source-match rule)") {
    val dup = Seq((2L, "B", 21.0), (2L, "C", 22.0)).toDF("k", "s", "v")
    // the check is fused into the merge's own anti-join (no extra pass
    // over the change set), so it surfaces Spark-lazily at first action
    val e = intercept[Exception] {
      UpsertMerge(base, dup, Seq("k")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("multiple rows")))
    // opt-out keeps both (caller's contract)
    assert(UpsertMerge(base, dup, Seq("k"), requireUniqueKeys = false)
      .count() == 4)
  }

  private def refusal(run: => Any): Unit = {
    val e = intercept[Exception](run)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => Option(t.getMessage).exists(_.contains("multiple rows"))), e)
    // the documented type: SparkRuntimeException, USER_RAISED_EXCEPTION
    assert(chain(e).exists {
      case t: org.apache.spark.SparkThrowable =>
        t.getClass.getName == "org.apache.spark.SparkRuntimeException" &&
          t.getCondition == "USER_RAISED_EXCEPTION"
      case _ => false
    }, e)
  }

  test("duplicate change keys are refused against an empty base, also under limit") {
    // an empty base lets the optimizer delete the anti-join; the guard
    // must not go with it
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0), (5L, "e", 5.0)).toDF("k", "s", "v")
    val emptyLocal = Seq.empty[(Long, String, Double)].toDF("k", "s", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-um").toString
    base.limit(0).write.mode("overwrite").parquet(dir)
    val emptyParquet = spark.read.parquet(dir)
    for (b <- Seq(emptyLocal, emptyParquet, base.limit(0))) {
      refusal(UpsertMerge(b, dup, Seq("k")).collect())
      refusal(UpsertMerge(b, dup, Seq("k")).limit(1).collect())
      refusal(UpsertMerge(b, dup, Seq("k")).count())
    }
    // a partial action over a non-empty base must not finish before the
    // guard runs either
    refusal(UpsertMerge(base, dup, Seq("k")).limit(1).collect())
    // the same merge without the duplicate goes through, and the guard
    // drops no null-key upsert
    assert(UpsertMerge(emptyLocal, dup.filter($"s" =!= "b"), Seq("k"))
      .orderBy("k").collect().toSeq == Seq(Row(1L, "a", 1.0), Row(5L, "e", 5.0)))
    val nullKey = Seq((None, "n", 0.0), (Some(7L), "g", 7.0)).toDF("k", "s", "v")
    assert(UpsertMerge(base, nullKey, Seq("k")).count() == 5)
  }

  test("null delete flag means upsert, not silent delete") {
    val changes = Seq(
      (2L, "B", 21.0, Some(false)), // explicit update
      (3L, "c", 30.0, Some(true)),  // explicit delete
      (4L, "d", 40.0, None))        // malformed flag -> must UPSERT
      .toDF("k", "s", "v", "del")
    val out = UpsertMerge(base, changes, Seq("k"), deleteCol = Some("del"))
      .orderBy("k").collect().toSeq
    // the old `!col(del)` filter dropped row 4 from upserts while its key
    // still anti-joined — a null flag became a silent delete
    assert(out == Seq(
      Row(1L, "a", 10.0), Row(2L, "B", 21.0), Row(4L, "d", 40.0)))
  }

  test("small change set plans a broadcast anti join (base side unshuffled)") {
    val changes = Seq((2L, "B", 21.0)).toDF("k", "s", "v")
    val plan = UpsertMerge(base, changes, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast left-anti join, got:\n$plan")
  }
}

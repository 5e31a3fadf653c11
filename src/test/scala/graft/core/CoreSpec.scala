package graft.core

import graft.SparkSpec
import graft.pipes._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Golden I/O for the core Pipe contract — update / inputFilter
  * combinations (mirrors tests/core/test_pipe.py:41-99) and condition
  * truth tables (tests/pipes/test_pipelines.py:6-21).
  */
class CoreSpec extends SparkSpec {
  import spark.implicits._

  private def batch = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("x", "s", "v")

  /** A toy kernel writing `y = x + 1` from its visible keys. */
  private case class AddOne(
      override val update: Boolean,
      override val inputFilter: Option[Condition]) extends Pipe {
    protected def transform(df: DataFrame, keys: Seq[String]): DataFrame = {
      require(keys.forall(df.columns.contains))
      finish(df, Seq("y" -> (Pipe.qcol("x") + 1: Column)))
    }
  }

  test("replace mode: output only the kernel columns") {
    val out = AddOne(update = false, None)(batch)
    assert(out.columns.toSeq == Seq("y"))
    assert(out.as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("update mode: kernel columns overlay the full input") {
    val out = AddOne(update = true, None)(batch)
    assert(out.columns.toSeq == Seq("x", "s", "v", "y"))
    assert(out.select("y").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("inputFilter hides keys from the kernel but not from the overlay") {
    var seen: Seq[String] = Nil
    case class Probe() extends Pipe {
      override val update = true
      override val inputFilter = Some(Condition.In(Seq("x")))
      protected def transform(df: DataFrame, keys: Seq[String]): DataFrame = {
        seen = keys
        finish(df, Seq("y" -> (Pipe.qcol("x") * 2: Column)))
      }
    }
    val out = Probe()(batch)
    assert(seen == Seq("x"))
    assert(out.columns.toSeq == Seq("x", "s", "v", "y"))
  }

  test("Parallel fast path handles dotted column names") {
    // the repo's field convention prefixes columns like `doc.x`; the fast
    // path's synthesized `__pp_orig__doc.x` slots must be read back
    // backtick-quoted or col() parses the dot as a struct access
    val in = AddPrefix("doc.")(batch)
    assert(in.columns.toSeq == Seq("doc.x", "doc.s", "doc.v"))
    val out = ParallelPipe.of(
      ApplyToCols(_ * 2, "x2", Seq("doc.x")),
      ApplyToCols(_ * 10, "x10", Seq("doc.v")))(in)
    assert(out.columns.toSeq == Seq("doc.x", "doc.s", "doc.v"))
    val r = out.select(Pipe.qcol("doc.x"), Pipe.qcol("doc.v"))
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(r == Seq((2, 100.0), (4, 200.0)))
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"fast path joined:\n${p.take(1000)}")
  }

  test("Parallel strict mode: equal duplicate writes pass, conflicts raise") {
    val double = ApplyToCols(_ * 2, "dbl", Seq("x"))
    val same = ParallelPipe(Seq(double, ApplyToCols(_ * 2, "dbl", Seq("x"))),
      strict = true)(batch)
    assert(same.select("x").as[Int].collect().sorted.toSeq == Seq(2, 4))
    val conflict = ParallelPipe(Seq(double, ApplyToCols(_ * 3, "tpl", Seq("x"))),
      strict = true)(batch)
    val e = intercept[Exception] { conflict.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("disagree")), s"unexpected error: $e")
    // default (non-strict) keeps later-writer-wins
    val lenient = ParallelPipe(Seq(double, ApplyToCols(_ * 3, "tpl", Seq("x"))))(batch)
    assert(lenient.select("x").as[Int].collect().sorted.toSeq == Seq(3, 6))
  }

  test("DatasetDict rejects an empty split map") {
    intercept[IllegalArgumentException] { DatasetDict(Map.empty) }
  }

  test("condition truth table") {
    import Condition._
    assert(HasPrefix("doc.")("doc.text"))
    assert(!HasPrefix("doc.")("query.text"))
    assert(Contains("name")("n_name"))
    assert((HasPrefix("a") && Contains("b"))("ab"))
    assert(!(HasPrefix("a") && Contains("b"))("ac"))
    assert((HasPrefix("a") || Contains("b"))("zb"))
    assert((!HasPrefix("a"))("b"))
    assert(Static(true)("anything") && !Static(false)("anything"))
  }

  test("gate static folding takes the branch at plan time") {
    import org.apache.spark.sql.types.StructType
    val taken = Gate(SchemaCondition.Static(true), GetKey("x"), Some(GetKey("s")))(batch)
    assert(taken.columns.toSeq == Seq("x"))
    val alt = Gate(SchemaCondition.Static(false), GetKey("x"), Some(GetKey("s")))(batch)
    assert(alt.columns.toSeq == Seq("s"))
    assert(SchemaCondition.HasKeyWithPrefix("x")(batch.schema.asInstanceOf[StructType]))
  }

  test("flatten/nest round-trips preserve content") {
    val df = Seq(
      (1L, Seq(10, 11, 12)), (2L, Seq(20)), (3L, Seq(30, 31))).toDF("id", "xs")
    val flat = NestingOps.flattenOnce(df, Seq("xs"))
    assert(flat.count() == 6)
    val back = NestingOps.nestBack(flat, Seq("id"), Seq("xs"))
    val got = back.select("id", "xs").as[(Long, Seq[Int])].collect().toMap
    assert(got == Map(1L -> Seq(10, 11, 12), 2L -> Seq(20), 3L -> Seq(30, 31)))
  }

  test("CachedStage: second call reads, content identical, corrupt tmp ignored") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cs").toString
    var computes = 0
    def compute: DataFrame = { computes += 1; batch }
    val a = CachedStage(spark, dir, "k1")(compute).collect().toSeq
    val b = CachedStage(spark, dir, "k1")(compute).collect().toSeq
    assert(computes == 1, "second call must not recompute")
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
  }

  test("CachedStage.vacuum drops only entries older than the TTL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vac").toString
    CachedStage(spark, dir, "old")(batch).count()
    CachedStage(spark, dir, "fresh")(batch).count()
    // backdate the old entry past a 1-hour TTL
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldPath = new org.apache.hadoop.fs.Path(dir, "old")
    fs.setTimes(oldPath, System.currentTimeMillis() - 2 * 3600 * 1000L, -1)
    val deleted = CachedStage.vacuum(spark, dir, maxAgeMs = 3600 * 1000L)
    assert(deleted == Seq("old"))
    assert(!fs.exists(oldPath))
    // the fresh entry still reads without recompute
    var computes = 0
    CachedStage(spark, dir, "fresh") { computes += 1; batch }.count()
    assert(computes == 0, "vacuum must not touch fresh entries")
    // the TTL is time-since-last-USE: a hit refreshes the entry mtime,
    // so an old-but-in-daily-use entry survives the vacuum
    val freshPath = new org.apache.hadoop.fs.Path(dir, "fresh")
    fs.setTimes(freshPath, System.currentTimeMillis() - 2 * 3600 * 1000L, -1)
    CachedStage(spark, dir, "fresh")(batch).count() // hit → touch
    assert(CachedStage.vacuum(spark, dir, maxAgeMs = 3600 * 1000L).isEmpty,
      "a cache hit must refresh the entry's TTL clock")
    assert(fs.exists(freshPath))
    // idempotent on an empty/missing dir
    assert(CachedStage.vacuum(spark, dir + "/nope", 1L).isEmpty)
  }

  test("CachedStage.selfHealing: entry vacuumed between plan and action still yields the right rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-heal").toString
    var computes = 0
    def compute: DataFrame = { computes += 1; batch }
    // prime the entry, then hold a plan over it
    val expected = CachedStage(spark, dir, "k")(compute).count()
    assert(computes == 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var raced = false
    val rows = CachedStage.selfHealing(spark, dir, "k")(compute) { df =>
      if (!raced) {
        // the race under test: a vacuum (this host or another) deletes
        // the entry AFTER the frame was planned, BEFORE the action runs
        fs.delete(new org.apache.hadoop.fs.Path(dir, "k"), true)
        raced = true
      }
      df.count()
    }
    assert(rows == expected, "the healed action must return the right rows")
    assert(computes == 2, "healing recomputes (and rewrites) exactly once")
    // the rewritten entry serves later readers without another compute
    assert(CachedStage(spark, dir, "k")(compute).count() == expected)
    assert(computes == 2)
  }

  test("CachedStage.selfHealing: a HALF-deleted entry (live _SUCCESS, parts gone) recomputes, never serves partial rows") {
    // a vacuum that died mid-recursive-delete can leave _SUCCESS plus a
    // subset of part files; the heal path must not trust the remnant
    val dir = java.nio.file.Files.createTempDirectory("graft-heal3").toString
    var computes = 0
    def compute: DataFrame = { computes += 1; batch.repartition(2) }
    val expected = CachedStage(spark, dir, "k")(compute).count()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entry = new org.apache.hadoop.fs.Path(dir, "k")
    var raced = false
    val rows = CachedStage.selfHealing(spark, dir, "k")(compute) { df =>
      if (!raced) {
        // delete ONE of the two part files, keep _SUCCESS — the
        // half-deleted remnant still reads "successfully" as a SUBSET of
        // the rows, which is exactly what the heal must refuse to serve
        val parts = fs.listStatus(entry)
          .filter(_.getPath.getName.endsWith(".parquet"))
        assert(parts.length == 2, s"fixture needs 2 parts, got ${parts.length}")
        fs.delete(parts.head.getPath, false)
        raced = true
      }
      df.count()
    }
    assert(rows == expected,
      "the heal must recompute the FULL frame, not serve the remnant")
    assert(computes == 2)
  }

  test("CachedStage.apply: entry deleted between probe and read falls through to compute") {
    // the plan-TIME half of the window: simulate by handing apply a dir
    // whose _SUCCESS exists but whose parquet files are gone — the read
    // raises the missing-path analysis error and the compute branch runs
    val dir = java.nio.file.Files.createTempDirectory("graft-heal2").toString
    var computes = 0
    def compute: DataFrame = { computes += 1; batch }
    CachedStage(spark, dir, "k")(compute).count()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entry = new org.apache.hadoop.fs.Path(dir, "k")
    // gut the entry but keep the dir + _SUCCESS marker: exists() passes,
    // the parquet listing finds no data files
    fs.listStatus(entry).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(s => fs.delete(s.getPath, false))
    val rows = CachedStage(spark, dir, "k")(compute).count()
    assert(rows == batch.count() && computes == 2,
      "a gutted entry must recompute, not fail or return empty")
  }

  test("ApplyToEachExample(checked): lazy at build, raises at execution") {
    import graft.pipes.{ApplyToEachExample, ApplyToCols, LambdaPipe}
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(sf("region"))
    // row-preserving inner: same rows out, check passes at execution
    val ok = ApplyToEachExample(ApplyToCols(_ * 2, "x2", Seq("r_regionkey")),
      checked = true)(df)
    assert(ok.count() == df.count())
    // row-DROPPING inner: plan-build must stay silent (laziness), the
    // action must raise with the row-count message
    val bad = ApplyToEachExample(
      LambdaPipe(_.filter(col("r_regionkey") > 2), "drop"), checked = true)
    val planned = bad(df) // no job may run here
    val e = intercept[Exception](planned.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("changed row count")),
      s"wrong failure: ${msgs(e).mkString(" | ")}")
  }

  test("DatasetDict applies a pipe per split and collapses with markers") {
    import graft.pipes.ApplyToCols
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(sf("orders"))
    val dict = DatasetDict.of(
      "open" -> df.filter(col("o_orderstatus") === "O"),
      "done" -> df.filter(col("o_orderstatus") === "F"))
      .transform(ApplyToCols(_ * 2, "x2", Seq("o_totalprice")))
    assert(dict.names == Seq("done", "open"))
    val open = dict("open")
    val expected = df.filter(col("o_orderstatus") === "O")
      .select(org.apache.spark.sql.functions.sum(col("o_totalprice") * 2))
      .collect()(0).getDouble(0)
    val got = open.select(org.apache.spark.sql.functions.sum(col("o_totalprice")))
      .collect()(0).getDouble(0)
    assert(math.abs(got - expected) < 1e-6)
    val flat = dict.toDF("split")
    assert(flat.columns.contains("split"))
    assert(flat.count() == dict("open").count() + dict("done").count())
  }

  test("Pipe.widen policy: LineDedup widens a one-partition input; VocabEncode and ResampleBytes do not") {
    val docs = spark.read.parquet(sf("documents"))
    val (narrow, wide) = (docs.coalesce(1), docs.repartition(8))
    def rows(out: DataFrame, cols: Seq[String]) =
      out.select(cols.map(col): _*).orderBy("doc_id").collect().toSeq
    def plan(out: DataFrame) = out.queryExecution.executedPlan.toString
    val lineDedup = graft.llm.LineDedupPipe("text", "doc_id")
    val lineCols = Seq("doc_id", "text", "n_lines_removed")
    assert(rows(lineDedup(narrow), lineCols) == rows(lineDedup(wide), lineCols))
    assert(plan(lineDedup(narrow)).contains("RoundRobinPartitioning"))
    // vocab encode aggregates right after its map stage, so the only
    // exchanges are its own aggregation and broadcast ones
    val vocab = graft.llm.VocabEncodePipe("text", "doc_id", vocabSize = 25)
    val vocabCols = Seq("doc_id", "token_ids", "n_oov")
    assert(rows(vocab(narrow), vocabCols) == rows(vocab(wide), vocabCols))
    assert(!plan(vocab(narrow)).contains("RoundRobinPartitioning"))
    // the byte resample is map-only: no exchange at all
    def resample(df: DataFrame) = graft.llm.ResampleBytesPipe("media",
      targetBytes = 32)(graft.llm.ToMediaColumnPipe("text")(df))
    val mediaCols = Seq("doc_id", "resized_meta")
    assert(rows(resample(narrow), mediaCols) == rows(resample(wide), mediaCols))
    assert(!plan(resample(narrow)).contains("Exchange"), plan(resample(narrow)))
  }
}

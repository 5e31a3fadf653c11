package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class PartitionedUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def fileSnapshot(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    if (!root.exists()) Map.empty
    else walk(root).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  test("partitioned streamed batches equal sequential merges") {
    val dir = java.nio.file.Files.createTempDirectory("pups").toString
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0), (6L, "f", 60.0))
      .toDF("k", "s", "v")
    PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), n = 4)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Boolean)]
    val q = PartitionedUpsert.run(
      mem.toDF.toDF("k", "s", "v", "del"),
      s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt")

    mem.addData((2L, "B", 21.0, false), (7L, "g", 70.0, false))
    q.processAllAvailable()
    val afterB0 = PartitionedUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq
    assert(afterB0 == Seq(Row(1L, "a", 10.0), Row(2L, "B", 21.0),
      Row(3L, "c", 30.0), Row(4L, "d", 40.0), Row(5L, "e", 50.0),
      Row(6L, "f", 60.0), Row(7L, "g", 70.0)))

    // batch 1 deletes a row batch 0 inserted — sequential semantics
    mem.addData((7L, "g", 70.0, true), (1L, "A", 11.0, false))
    q.processAllAvailable()
    q.stop()
    val afterB1 = PartitionedUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq
    assert(afterB1 == Seq(Row(1L, "A", 11.0), Row(2L, "B", 21.0),
      Row(3L, "c", 30.0), Row(4L, "d", 40.0), Row(5L, "e", 50.0),
      Row(6L, "f", 60.0)))

    // time travel via manifest history: every commit's table state is
    // reconstructible, and the current manifest equals latest()
    assert(PartitionedUpsert.manifestVersions(spark, s"$dir/t") ==
      Seq("vinit", "v0", "v1"))
    assert(PartitionedUpsert.readVersion(spark, s"$dir/t", "vinit")
      .orderBy("k").collect().toSeq == base.orderBy("k").collect().toSeq)
    assert(PartitionedUpsert.readVersion(spark, s"$dir/t", "v0")
      .orderBy("k").collect().toSeq == afterB0)
    assert(PartitionedUpsert.readVersion(spark, s"$dir/t", "v1")
      .orderBy("k").collect().toSeq == afterB1)
    intercept[IllegalArgumentException] {
      PartitionedUpsert.readVersion(spark, s"$dir/t", "v9")
    }
    // classified diff across manifests, same contract as the flat layout
    val d01 = PartitionedUpsert.diff(spark, s"$dir/t", "vinit", "v1",
      Seq("k")).select("k", "change", "s_before", "s_after")
      .orderBy("k").collect().toSeq
    assert(d01 == Seq(Row(1L, "update", "a", "A"),
      Row(2L, "update", "b", "B")), d01)
  }

  test("a batch rewrites ONLY the partitions holding its keys") {
    val dir = java.nio.file.Files.createTempDirectory("pups2").toString
    val n = 8
    val base = (1L to 64L).map(i => (i, i * 1.0)).toDF("k", "v")
    PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), n)
    val m0 = PartitionedUpsert.readManifest(spark, s"$dir/t").get
    assert(m0.n == n && m0.id == -1L)

    // one-key batch → exactly one partition touched
    val touchedPart = base.filter($"k" === 5L)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"k"),
        org.apache.spark.sql.functions.lit(n.toLong)).cast("int"))
      .head().getInt(0)
    val before = fileSnapshot(s"$dir/t")
    val b0 = Seq((5L, 500.0, false)).toDF("k", "v", "del")
    PartitionedUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    val after = fileSnapshot(s"$dir/t")

    val m1 = PartitionedUpsert.readManifest(spark, s"$dir/t").get
    assert(m1.id == 0L)
    assert(m1.parts(touchedPart) == "v0")
    // every OTHER partition still points at vinit…
    m0.parts.keys.filterNot(_ == touchedPart).foreach(i =>
      assert(m1.parts(i) == "vinit", s"partition $i"))
    // …and its vinit files are byte-identical on disk: same paths, same
    // sizes, same mtimes — they were never rewritten, just re-referenced
    // (_manifests/ is commit metadata — a new entry per commit is the
    // point of the history, not a data rewrite)
    val untouchedBefore = before.filter { case (p, _) =>
      !p.contains(s"/p$touchedPart/") && !p.contains("_LATEST") &&
        !p.contains("_manifests") }
    val untouchedAfter = after.filter { case (p, _) =>
      !p.contains(s"/p$touchedPart/") && !p.contains("_LATEST") &&
        !p.contains("_manifests") && !p.contains("/v0") }
    assert(untouchedBefore == untouchedAfter)
    // the merged content is right
    assert(PartitionedUpsert.latest(spark, s"$dir/t").get
      .filter($"k" === 5L).head().getDouble(1) == 500.0)
    assert(PartitionedUpsert.latest(spark, s"$dir/t").get.count() == 64)
  }

  test("replay is a no-op, behind-id throws, vacuum keeps live versions") {
    val dir = java.nio.file.Files.createTempDirectory("pups3").toString
    val base = (1L to 16L).map(i => (i, i * 1.0)).toDF("k", "v")
    PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), n = 4)
    val b0 = Seq((1L, 100.0, false), (2L, 200.0, false)).toDF("k", "v", "del")
    PartitionedUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    val expected = PartitionedUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq
    // replay of the committed id: no-op
    PartitionedUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    assert(PartitionedUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq == expected)
    assert(PartitionedUpsert.readManifest(spark, s"$dir/t").get.id == 0L)
    // behind the committed id: loud failure, not silent discard
    val b1 = Seq((3L, 300.0, false)).toDF("k", "v", "del")
    PartitionedUpsert.applyBatch(b1, 1, s"$dir/t", Seq("k"), Some("del"))
    val stale = intercept[IllegalStateException] {
      PartitionedUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    }
    assert(stale.getMessage.contains("fresh"))
    // vacuum never deletes a manifest-referenced version
    val live = PartitionedUpsert.readManifest(spark, s"$dir/t").get.parts
    val deleted = PartitionedUpsert.vacuum(spark, s"$dir/t", keep = 1)
    deleted.foreach { rel =>
      val Array(p, v) = rel.split("/")
      assert(!live.get(p.drop(1).toInt).contains(v), rel)
    }
    assert(PartitionedUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq ==
      PartitionedUpsert.latest(spark, s"$dir/t").get.orderBy("k").collect().toSeq)
    // no temp manifest left behind
    assert(!new java.io.File(s"$dir/t/._LATEST.tmp").exists())
  }

  test("applyBatch evaluates the change batch once") {
    val dir = java.nio.file.Files.createTempDirectory("pups-once").toString
    val base = (1L to 32L).map(i => (i, i * 1.0)).toDF("k", "v")
    PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), n = 4)
    val passes = spark.sparkContext.longAccumulator("upsert-batch-rows")
    val bump = org.apache.spark.sql.functions.udf { (k: Long) =>
      passes.add(1); k }.asNondeterministic()
    val changes = spark.sparkContext
      .parallelize(Seq((3L, 30.5, false), (9L, 0.0, true), (40L, 400.0, false)), 2)
      .toDF("k", "v", "del")
      .select(bump($"k").as("k"), $"v", $"del")
    PartitionedUpsert.applyBatch(changes, 0, s"$dir/t", Seq("k"), Some("del"))
    assert(passes.value == 3, "one pass over the change batch")
    val got = PartitionedUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == (1L to 32L).filterNot(_ == 9L).map(i =>
      (i, if (i == 3L) 30.5 else i * 1.0)) :+ ((40L, 400.0)))
  }

  test("latest reads with no Spark job; applyBatch runs only its checkpoint and staged write") {
    val dir = java.nio.file.Files.createTempDirectory("pups-jobs").toString
    val base = (1L to 64L).map(i => (i, i * 1.0)).toDF("k", "v")
    PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), n = 4)
    val (table, readJobs) = graft.Jobs.during(spark)(PartitionedUpsert.latest(spark, s"$dir/t").get)
    assert(readJobs.isEmpty, readJobs)
    assert(table.count() == 64)
    val changes = spark.sparkContext.parallelize(Seq((3L, 30.5), (70L, 7.0)), 2).toDF("k", "v")
    val (_, jobs) = graft.Jobs.during(spark)(
      PartitionedUpsert.applyBatch(changes, 0, s"$dir/t", Seq("k"), None))
    // every job belongs to the change checkpoint or the staged write
    val sites = jobs.map(_.site)
    assert(sites.distinct.sorted == Seq(Some("PartitionedUpsert changes"),
      Some("PartitionedUpsert write")), jobs)
    assert(PartitionedUpsert.latest(spark, s"$dir/t").get.count() == 65)
  }

  private val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** The executed plans of `applyBatch(changes)` on `dir/t`. */
  private def commitPlans(dir: String, changes: DataFrame, deleteCol: Option[String])
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PartitionedUpsert.applyBatch(changes, 0, s"$dir/t", Seq("k"), deleteCol)
      org.apache.spark.sql.graft.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.exists(p => helper.collect(p) { case s: FileSourceScanExec => s }.nonEmpty))
    all
  }

  /** The shuffles in `plans` with a scan of the table's partition dirs below. */
  private def baseShuffles(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    plans.flatMap(p => helper.collect(p) {
      case e: ShuffleExchangeLike if helper.collect(e) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("/t/p")) => s
      }.nonEmpty => e
    })
  }

  /** The anti-joins in `plans`: [[graft.operators.UpsertMerge]]'s join plan. */
  private def antiJoins(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    plans.flatMap(p => helper.collect(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    })

  test("applyBatch never shuffles the table; it writes one key-ordered file per touched partition") {
    val dir = java.nio.file.Files.createTempDirectory("pups-plan").toString
    // the seed writes several unordered files per partition
    val base = spark.range(0, 400, 1, 8).select(($"id" * 7919 % 400).as("k"), ($"id" * 1.0).as("v"))
    PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), n = 4)
    val changes = Seq((3L, 30.5, false), (9L, 0.0, true), (401L, 4.0, false), (77L, 7.0, false))
      .toDF("k", "v", "del")
    val plans = commitPlans(dir, changes, Some("del"))
    assert(baseShuffles(plans).isEmpty && antiJoins(plans).isEmpty, plans.mkString("\n"))
    val m = PartitionedUpsert.readManifest(spark, s"$dir/t").get
    m.parts.collect { case (i, "v0") => i }.foreach { i =>
      val files = new java.io.File(s"$dir/t/p$i/v0").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(files.length == 1, s"p$i: ${files.toSeq}")
      val keys = spark.read.parquet(files.head.getPath).as[(Long, Double)].collect().map(_._1).toSeq
      assert(keys == keys.sorted, s"p$i")
    }
    val got = PartitionedUpsert.latest(spark, s"$dir/t").get.as[(Long, Double)].collect().toMap
    assert(got.size == 400 && got(3L) == 30.5 && got(77L) == 7.0 && !got.contains(9L) && got(401L) == 4.0)
  }

  test("above either local cap applyBatch merges through the join plan, with the same rows") {
    import graft.operators.UpsertMerge.{LocalBaseRowCap, LocalKeyRowCap}
    def run(baseRows: Long, changeRows: Long): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("pups-join").toString
      PartitionedUpsert.seed(spark.range(0, baseRows, 1, 4).select($"id".as("k"), ($"id" * 1.0).as("v")),
        s"$dir/t", Seq("k"), n = 2)
      // updates of the first keys, one delete, inserts after the base
      val changes = spark.range(0, changeRows, 1, 2).select(
        functions.when($"id" % 2 === 0, $"id").otherwise($"id" + baseRows).as("k"), functions.lit(-1.0).as("v"),
        ($"id" === 2).as("del"))
      val plans = commitPlans(dir, changes, Some("del"))
      assert(antiJoins(plans).nonEmpty, plans.mkString("\n"))
      val got = PartitionedUpsert.latest(spark, s"$dir/t").get.as[(Long, Double)].collect().toMap
      val changed = (0L until changeRows).map(i => if (i % 2 == 0) i else i + baseRows).toSet
      assert(got.size == baseRows + changeRows / 2 - 1 && !got.contains(2L))
      assert(got.forall { case (k, v) => v == (if (changed(k)) -1.0 else k.toDouble) })
    }
    run(LocalBaseRowCap + 1, 10)
    run(1000, LocalKeyRowCap + 1)
  }

  test("seedFromFlat migrates a flat state dir: identical reads, resumable stream") {
    val dir = java.nio.file.Files.createTempDirectory("pups-mig").toString
    // build a flat table with history: seed + two streamed batches
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    StreamingUpsert.seed(base, s"$dir/flat")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Boolean)]
    val q = StreamingUpsert.run(mem.toDF.toDF("k", "s", "v", "del"),
      s"$dir/flat", Seq("k"), Some("del"), s"$dir/ckpt")
    mem.addData((2L, "B", 21.0, false), (5L, "e", 50.0, false))
    q.processAllAvailable()
    mem.addData((4L, "d", 40.0, true), (1L, "A", 11.0, false))
    q.processAllAvailable()
    q.stop()
    val flatRows = StreamingUpsert.latest(spark, s"$dir/flat").get
      .orderBy("k").collect().toSeq

    // migrate: the partitioned dir answers read() identically
    PartitionedUpsert.seedFromFlat(spark, s"$dir/flat", s"$dir/part",
      Seq("k"), n = 4)
    assert(PartitionedUpsert.latest(spark, s"$dir/part").get
      .orderBy("k").collect().toSeq == flatRows)
    // the migrated manifest carries the flat batch ordinal (v1 -> 1),
    // under the flat version's own name
    val m = PartitionedUpsert.readManifest(spark, s"$dir/part").get
    assert(m.id == 1L && m.parts.values.forall(_ == "v1"), m)
    // the ORIGINAL stream resumes against the migrated dir with its
    // ORIGINAL checkpoint: batch 2 merges normally
    val q2 = PartitionedUpsert.run(mem.toDF.toDF("k", "s", "v", "del"),
      s"$dir/part", Seq("k"), Some("del"), s"$dir/ckpt")
    mem.addData((3L, "C", 31.0, false), (6L, "f", 60.0, false))
    q2.processAllAvailable()
    q2.stop()
    assert(PartitionedUpsert.latest(spark, s"$dir/part").get
      .orderBy("k").collect().toSeq == Seq(
        Row(1L, "A", 11.0), Row(2L, "B", 21.0), Row(3L, "C", 31.0),
        Row(5L, "e", 50.0), Row(6L, "f", 60.0)))
    // a replay of the migrated id is a no-op; behind-id still throws
    val before = fileSnapshot(s"$dir/part")
    PartitionedUpsert.applyBatch(
      Seq((9L, "z", 90.0, false)).toDF("k", "s", "v", "del"),
      2L, s"$dir/part", Seq("k"), Some("del"))
    assert(fileSnapshot(s"$dir/part") == before)
    intercept[IllegalStateException] {
      PartitionedUpsert.applyBatch(
        Seq((9L, "z", 90.0, false)).toDF("k", "s", "v", "del"),
        0L, s"$dir/part", Seq("k"), Some("del"))
    }
    // double migration refuses (the dir is live)
    intercept[IllegalArgumentException] {
      PartitionedUpsert.seedFromFlat(spark, s"$dir/flat", s"$dir/part",
        Seq("k"), n = 4)
    }
    // the flat dir is untouched input
    assert(StreamingUpsert.latest(spark, s"$dir/flat").get
      .orderBy("k").collect().toSeq == flatRows)
  }
}

package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming/batch parity: the windowed agg pipe produces the same result
  * on a MemoryStream (complete mode) as on the equivalent batch frame,
  * and stateful sessionization closes sessions at the gap boundary.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed agg: streaming result equals batch result") {
    implicit val sctx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 00:10:00", "click", 1.0),
      ("2024-01-01 00:50:00", "click", 2.0),
      ("2024-01-01 01:10:00", "click", 4.0),
      ("2024-01-01 01:20:00", "buy", 8.0))
    val toDf = (s: Seq[(String, String, Double)]) => s.toDF("t", "event_type", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")

    val batchOut = WindowedEventAgg()(toDf(rows))
      .orderBy("ws", "event_type").collect().map(_.toString).toSeq

    val mem = MemoryStream[(String, String, Double)]
    mem.addData(rows: _*)
    val streamIn = mem.toDF().toDF("t", "event_type", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val q = WindowedEventAgg()(streamIn)
      .writeStream.format("memory").queryName("agg_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamOut = spark.table("agg_out")
      .orderBy("ws", "event_type").collect().map(_.toString).toSeq
    q.stop()
    assert(streamOut == batchOut)
    assert(batchOut.size == 3) // two click windows + one buy window
  }

  test("streaming dedup drops within-watermark duplicates, equals batch distinct") {
    implicit val sctx = spark.sqlContext
    val rows = Seq( // (ts, user, type) with exact dup deliveries
      ("2024-01-01 00:10:00", 1L, "click"),
      ("2024-01-01 00:11:00", 1L, "click"), // dup within watermark
      ("2024-01-01 00:12:00", 1L, "view"),
      ("2024-01-01 00:20:00", 2L, "click"),
      ("2024-01-01 00:21:00", 2L, "click")) // dup within watermark
    val toDf = (s: Seq[(String, Long, String)]) => s.toDF("t", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val pipe = StreamingDedupPipe(Seq("user_id", "event_type"))

    val batchOut = pipe(toDf(rows))
      .orderBy("user_id", "event_type").collect().map(_.toString).toSeq
    assert(batchOut.size == 3)

    val mem = MemoryStream[(String, Long, String)]
    mem.addData(rows: _*)
    val streamIn = mem.toDF().toDF("t", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val out = EventStream.runToMemorySink(pipe(streamIn), "append")
      .orderBy("user_id", "event_type").collect().map(_.toString).toSeq
    assert(out == batchOut)
  }

  test("batch sessionization splits on the gap") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 02:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "t").withColumn("ts", to_timestamp(col("t"))).drop("t")
    val out = SessionizePipe(gapSeconds = 1800)(df)
      .select("user_id", "session_idx").as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, 0L), (1L, 0L), (1L, 1L), (2L, 0L)))
  }

  test("stateful streaming sessionization closes sessions at the gap") {
    implicit val sctx = spark.sqlContext
    import SessionizeStreaming._
    val mem = MemoryStream[Event]
    val out = SessionizeStreaming(mem.toDS(), gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    val m = 1000000L
    mem.addData(Event(1, 0), Event(1, 30 * m), Event(1, 200 * m))
    q.processAllAvailable()
    mem.addData(Event(1, 500 * m))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions").as[ClosedSession].collect().sortBy(_.start)
    // first session [0, 30s] closed by the 200s event; second closed by 500s
    assert(closed.length == 2)
    assert(closed(0) == ClosedSession(1, 0, 30 * m, 2))
    assert(closed(1) == ClosedSession(1, 200 * m, 200 * m, 1))
  }

  test("file-source streaming run over real events parquet equals batch") {
    val dir = "/root/testdata/sf0.001"
    val batch = WindowedEventAgg()(EventStream.readBatch(spark, dir))
      .orderBy("ws", "event_type").collect().map(_.toString).toSeq
    val stream = EventStream.runWindowedAggStream(spark, dir)
      .orderBy("ws", "event_type").collect().map(_.toString).toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join equals batch inequality join") {
    val dir = "/root/testdata/sf0.001"
    def batchSide(tpe: String) =
      EventStream.readBatch(spark, dir).filter(col("event_type") === tpe)
    val batch = EventStream.streamStreamIntervalJoin(
      batchSide("click"), batchSide("error"))
      .orderBy("event_id", "err_id").collect().map(_.toString).toSeq
    val stream = EventStream.runStreamStreamJoin(spark, dir)
      .orderBy("event_id", "err_id").collect().map(_.toString).toSeq
    assert(stream == batch)
  }

  test("stream-static enrichment: stateless broadcast join equals batch") {
    val dir = "/root/testdata/sf0.001"
    val dim = spark.read.parquet(s"$dir/customer.parquet")
    val pipe = StreamStaticEnrichPipe(dim, "user_id", "c_custkey",
      Seq("c_mktsegment", "c_acctbal"))
    val cols = Seq("event_id", "user_id", "event_type", "c_mktsegment")
    val batch = pipe(EventStream.readBatch(spark, dir))
      .select(cols.head, cols.tail: _*)
      .orderBy("event_id").collect().map(_.toString).toSeq
    val stream = EventStream.runEnrichStream(spark, dir)
      .select(cols.head, cols.tail: _*)
      .orderBy("event_id").collect().map(_.toString).toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
    // every event user is inside the customer key range -> no null segment
    assert(!batch.exists(_.contains("null")))
    // the dimension side must broadcast (stateless join, no shuffle state)
    val plan = pipe(EventStream.readBatch(spark, dir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("streaming decontamination flags equal the batch pipe's") {
    implicit val sctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val eval = docs.filter(col("doc_id") < 10)
    val batch = graft.llm.DecontaminatePipe(eval, "text", "doc_id", 4)(docs)
      .select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.as[(Long, String)].collect().toIndexedSeq: _*)
    val streamIn = mem.toDF().toDF("doc_id", "text")
    val q = StreamingDecontaminate(streamIn, eval, "text", "doc_id", 4)
      .writeStream.format("memory").queryName("dc_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val stream = spark.table("dc_out").select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    q.stop()
    assert(stream == batch)
    assert(batch.exists(_.contains("true")) && batch.exists(_.contains("false")))
  }

  test("streaming bloom decontamination: flags equal the batch bloom pipe, one-sided vs exact") {
    implicit val sctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val eval = docs.filter(col("doc_id") < 10)
    def drain(df: org.apache.spark.sql.DataFrame, name: String) = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable()
      val out = spark.table(name).select("doc_id", "contaminated")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      q.stop()
      out
    }
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.as[(Long, String)].collect().toIndexedSeq: _*)
    val streamIn = mem.toDF().toDF("doc_id", "text")
    // bit-identical to the batch bloom pipe (same bitmap, same hashes)
    val batchBloom = graft.llm.BloomDecontaminatePipe(eval, "text", "doc_id",
      ngramSize = 4)(docs).select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val streamBloom = drain(StreamingDecontaminate.bloom(
      streamIn, eval, "text", "doc_id", ngramSize = 4), "bdc_out")
    assert(streamBloom == batchBloom)
    // one-sided-error contract vs the EXACT flags: never a false
    // negative — at m=2^20 the flag sets coincide here; under a
    // saturated bitmap the flagged set strictly grows (false positives),
    // never shrinks
    val exact = graft.llm.DecontaminatePipe(eval, "text", "doc_id", 4)(docs)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exactHits = exact.filter(_._2).keySet
    assert(exactHits.subsetOf(streamBloom.filter(_._2).keySet))
    assert(exactHits.nonEmpty && exact.values.exists(!_))
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData(docs.as[(Long, String)].collect().toIndexedSeq: _*)
    val saturated = drain(StreamingDecontaminate.bloom(
      mem2.toDF().toDF("doc_id", "text"), eval, "text", "doc_id",
      ngramSize = 4, mBits = 256, numHashes = 2), "bdc_sat")
    val satHits = saturated.filter(_._2).keySet
    assert(streamBloom.filter(_._2).keySet.subsetOf(satHits))
    assert(satHits.size > exactHits.size)
    // zero streaming state: the probe plans as a pure projection — no
    // stateful operator in the physical plan
    val planned = StreamingDecontaminate.bloom(
      streamIn, eval, "text", "doc_id", ngramSize = 4,
      repartitionStream = false)
    val stateful = planned.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }
    assert(stateful.isEmpty, stateful.map(_.nodeName))
  }

  test("set-probe literal replacement keeps exact flags (forced, batch + stream)") {
    implicit val sctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val eval = docs.filter(col("doc_id") < 10)
    // literal reference (threshold above any real gram count here)
    val expected = StreamingDecontaminate(docs, eval, "text", "doc_id", 4)
      .select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    // force the over-threshold path: the flag comes from the shipped-set
    // membership count (> 0 ≡ arrays_overlap under Spark string
    // equality), so flags must be bit-identical
    val probed = StreamingDecontaminate(docs, eval, "text", "doc_id", 4,
      literalScanNgrams = 1)
      .select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    assert(probed == expected)
    assert(expected.exists(_.contains("true")) &&
      expected.exists(_.contains("false")))
    // same on a real stream (the probe is a pure projection — still
    // legal with zero state)
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.as[(Long, String)].collect().toIndexedSeq: _*)
    val q = StreamingDecontaminate(mem.toDF().toDF("doc_id", "text"),
      eval, "text", "doc_id", 4, literalScanNgrams = 1)
      .writeStream.format("memory").queryName("dcg_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val streamed = spark.table("dcg_out").select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    q.stop()
    assert(streamed == expected)
  }

  test("over-cap decontamination degrades to the relational fallback with identical flags") {
    implicit val sctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(60)
    val eval = docs.filter(col("doc_id") < 8)
    // reference flags: the in-plan literal path, cap comfortably high
    val expected = StreamingDecontaminate(docs, eval, "text", "doc_id", 4)
      .select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    assert(expected.exists(_.contains("true")) &&
      expected.exists(_.contains("false")))
    // batch frame over a tiny cap: apply() itself degrades to the
    // relational semi-join — same flags, no literal in the plan
    val batchFallback = StreamingDecontaminate(docs, eval, "text", "doc_id", 4,
      maxEvalNgrams = 5)
      .select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    assert(batchFallback == expected)
    // a STREAM over the cap refuses in-plan with a pointer at the
    // foreachBatch fallback...
    val mem = MemoryStream[(Long, String)]
    val streamIn = mem.toDF().toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      StreamingDecontaminate(streamIn, eval, "text", "doc_id", 4,
        maxEvalNgrams = 5)
    }
    assert(err.getMessage.contains("runOverCapToParquet"))
    // ...and the fallback itself produces the identical flags
    mem.addData(docs.as[(Long, String)].collect().toIndexedSeq: _*)
    val outDir = java.nio.file.Files.createTempDirectory("dc-fb").toString + "/out"
    val fb = StreamingDecontaminate.runOverCapToParquet(
      streamIn, eval, "text", "doc_id", outDir, 4)
      .select("doc_id", "contaminated")
      .collect().map(_.toString).sorted.toSeq
    assert(fb == expected)
  }

  test("streaming weighted sample: multi-batch reservoir equals the batch pipe bit-for-bit") {
    implicit val sctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "n_chars")
    val expected = graft.llm.WeightedSamplePipe("doc_id", "n_chars", 25)(docs)
      .select("doc_id", "n_chars", "sample_key")
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("sws").toString
    StreamingWeightedSample.seed(docs, s"$dir/t", "n_chars", "doc_id")
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingWeightedSample.run(
      mem.toDF.toDF("doc_id", "n_chars"), s"$dir/t", "doc_id", "n_chars",
      k = 25, checkpointDir = s"$dir/ckpt")
    // five genuine micro-batches in arbitrary id order
    val rows = docs.as[(Long, Long)].collect().toSeq
      .sortBy(r => (r._1 * 7919) % 1009)
    rows.grouped((rows.size + 4) / 5).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = StreamingWeightedSample.latest(spark, s"$dir/t").get
      .select("doc_id", "n_chars", "sample_key")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
    // a replayed batch is a no-op (idempotent merge, dedup by id)
    StreamingWeightedSample.applyBatch(
      rows.take(40).toDF("doc_id", "n_chars"), s"$dir/t",
      "doc_id", "n_chars", 25, Nil, 17L)
    val replayed = StreamingWeightedSample.latest(spark, s"$dir/t").get
      .select("doc_id", "n_chars", "sample_key")
      .collect().map(_.toString).sorted.toSeq
    assert(replayed == expected)
    // zero/negative weights never enter the reservoir
    StreamingWeightedSample.applyBatch(
      Seq((999999L, 0L), (999998L, -5L)).toDF("doc_id", "n_chars"),
      s"$dir/t", "doc_id", "n_chars", 25, Nil, 17L)
    assert(StreamingWeightedSample.latest(spark, s"$dir/t").get
      .filter(col("doc_id") >= 999998L).count() == 0)
    // grouped mode caps per group and matches the batch pipe
    val dirG = java.nio.file.Files.createTempDirectory("swsg").toString
    val docsG = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    StreamingWeightedSample.seed(docsG, s"$dirG/t", "n_chars", "doc_id")
    docsG.as[(Long, String, Long)].collect().toSeq.grouped(200).foreach {
      chunk =>
        StreamingWeightedSample.applyBatch(
          chunk.toDF("doc_id", "lang", "n_chars"), s"$dirG/t",
          "doc_id", "n_chars", 5, Seq("lang"), 17L)
    }
    val expG = graft.llm.WeightedSamplePipe("doc_id", "n_chars", 5,
      Seq("lang"))(docsG).select("doc_id", "lang")
      .collect().map(_.toString).sorted.toSeq
    val gotG = StreamingWeightedSample.latest(spark, s"$dirG/t").get
      .select("doc_id", "lang").collect().map(_.toString).sorted.toSeq
    assert(gotG == expG)
    // run before seed fails loudly
    intercept[IllegalStateException] {
      StreamingWeightedSample.applyBatch(
        rows.take(3).toDF("doc_id", "n_chars"), s"$dir/never-seeded",
        "doc_id", "n_chars", 5, Nil, 17L)
    }
    // crash window recovery: a crash between commit()'s delete of
    // _CURRENT and the rename of _staging must NOT brick the state dir —
    // latest() renames the complete _staging into place and the
    // reservoir is unchanged
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val curP = new org.apache.hadoop.fs.Path(s"$dir/t/_CURRENT")
    val stgP = new org.apache.hadoop.fs.Path(s"$dir/t/_staging")
    fs.rename(curP, stgP) // simulate: staging written, _CURRENT deleted
    val recovered = StreamingWeightedSample.latest(spark, s"$dir/t").get
      .select("doc_id", "n_chars", "sample_key")
      .collect().map(_.toString).sorted.toSeq
    assert(recovered == expected)
    assert(fs.exists(curP) && !fs.exists(stgP))
    // an INCOMPLETE _staging (no _SUCCESS) without _CURRENT is not
    // promoted — that's pre-seed, not a crash window
    fs.rename(curP, stgP)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t/_staging/_SUCCESS"), false)
    assert(StreamingWeightedSample.latest(spark, s"$dir/t").isEmpty)
  }

  test("streaming near-dedup pairs within the window, evicts past the watermark") {
    implicit val sctx = spark.sqlContext
    // same text = jaccard 1.0; watermark 1 hour
    val mem = MemoryStream[(Long, String, String)]
    def toDf(m: MemoryStream[(Long, String, String)]) =
      m.toDF().toDF("doc_id", "text", "t")
        .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val pairs = StreamingNearDedup(toDf(mem), "text", "doc_id", "ts",
      watermark = "1 hour")
    val q = pairs.toDF().writeStream.format("memory").queryName("nd_out")
      .outputMode("append").start()
    try {
      // batch 1: two near-dups close together -> pair (1,2)
      mem.addData((1L, "the quick brown fox jumps over the lazy dog again",
        "2024-01-01 00:10:00"))
      mem.addData((2L, "the quick brown fox jumps over the lazy dog again",
        "2024-01-01 00:20:00"))
      q.processAllAvailable()
      // batch 2: a far-future unrelated doc advances the watermark hours
      // past batch 1's members
      mem.addData((3L, "completely different words entirely unrelated content",
        "2024-01-01 09:00:00"))
      q.processAllAvailable()
      // batch 3: same text as docs 1/2 — but their state is EVICTED, so
      // only the in-window twin (5) pairs with it
      mem.addData((4L, "the quick brown fox jumps over the lazy dog again",
        "2024-01-01 09:30:00"))
      mem.addData((5L, "the quick brown fox jumps over the lazy dog again",
        "2024-01-01 09:40:00"))
      q.processAllAvailable()
      val out = spark.table("nd_out")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == Set((1L, 2L), (4L, 5L)),
        s"expected {(1,2),(4,5)}, got $out")
    } finally q.stop()
  }

  test("near-dedup on the RocksDB state store is bit-identical to the default provider") {
    // the 100 TB shape runs flatMapGroupsWithState state on RocksDB, not
    // the in-memory HDFSBackedStateStoreProvider — same algorithm, same
    // results, different state backend. Drive the SAME multi-batch
    // corpus (real sf0.001 documents with planted near-dups + watermark
    // eviction) through both providers and compare the full pair sets.
    implicit val sctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def drive(): Set[(Long, Long)] = {
      val mem = MemoryStream[(Long, String, String)]
      val in = mem.toDF().toDF("doc_id", "text", "t")
        .withColumn("ts", to_timestamp(col("t"))).drop("t")
      val name = s"nd_rocks_${System.nanoTime()}"
      val q = StreamingNearDedup(in, "text", "doc_id", "ts",
        watermark = "1 hour").toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: originals; batch 2: near-dup twins 10 min later;
        // batch 3: far-future rows that evict everything, then one twin
        // whose only in-window partner is its own batch
        mem.addData(docs.map { case (id, tx) =>
          (id, tx, "2024-01-01 00:10:00") }.toIndexedSeq)
        q.processAllAvailable()
        mem.addData(docs.take(30).map { case (id, tx) =>
          (id + 100000L, tx + " tail", "2024-01-01 00:20:00") }.toIndexedSeq)
        q.processAllAvailable()
        mem.addData(Seq(
          (900001L, docs.head._2, "2024-01-01 09:30:00"),
          (900002L, docs.head._2, "2024-01-01 09:40:00")))
        q.processAllAvailable()
        spark.table(name).select("id_a", "id_b").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    val default = drive()
    val before = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocks =
      try drive()
      finally before match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    assert(rocks == default,
      s"RocksDB pair set diverged: only-default=${default -- rocks} " +
        s"only-rocks=${rocks -- default}")
    assert(default.contains((900001L, 900002L)),
      "watermark eviction scenario must be exercised")
    assert(default.nonEmpty && default.size >= 30)
  }

  test("streaming near-dedup unique: chained in-query dedup emits each pair once") {
    implicit val sctx = spark.sqlContext
    // identical text -> identical signatures -> the pair is found by ALL
    // 32 bands; the chained dropDuplicatesWithinWatermark must reduce
    // those emissions to exactly one row per pair, inside the query
    val mem = MemoryStream[(Long, String, String)]
    val streamIn = mem.toDF().toDF("doc_id", "text", "t")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val uq = StreamingNearDedup.unique(
      StreamingNearDedup(streamIn, "text", "doc_id", "ts",
        watermark = "1 hour"),
      watermark = "1 hour")
    StreamingNearDedup.withChainedStatefulQuery(spark) {
      val q = uq.writeStream.format("memory").queryName("ndu_out")
        .outputMode("append").start()
      try {
        mem.addData((1L, "the quick brown fox jumps over the lazy dog again",
          "2024-01-01 00:10:00"))
        mem.addData((2L, "the quick brown fox jumps over the lazy dog again",
          "2024-01-01 00:20:00"))
        q.processAllAvailable()
        // a second batch: doc 3 pairs with BOTH in-window members
        mem.addData((3L, "the quick brown fox jumps over the lazy dog again",
          "2024-01-01 00:30:00"))
        q.processAllAvailable()
        val rows = spark.table("ndu_out").select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(rows.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
          s"expected each pair exactly once, got $rows")
      } finally q.stop()
    }
  }

  test("search stream production sink: parquet append equals the test drain") {
    implicit val sctx = spark.sqlContext
    // a deterministic "engine": score = qid*10 + batch row's own value,
    // standing in for a real index probe (the search semantics are the
    // batch engine's and covered by the s*/ev_stream_*_search gates —
    // this spec pins the SINK plumbing: results reach parquet per batch,
    // never a driver buffer, and match the drain variant row-for-row)
    def engine(batch: org.apache.spark.sql.DataFrame) =
      batch.select(col("qid"), (col("qid") * 10 + col("v")).as("score"))
    val out = java.nio.file.Files.createTempDirectory("graft-sstream").toString
    val mem = MemoryStream[(Long, Long)]
    mem.addData((1L, 1L), (2L, 2L))
    val q = SearchStream.runSearchStreamToParquet(
      b => engine(b), mem.toDF().toDF("qid", "v"), s"$out/res",
      checkpointDir = Some(s"$out/ckpt"))
    try {
      q.processAllAvailable()
      mem.addData((3L, 3L)) // second micro-batch appends
      q.processAllAvailable()
    } finally q.stop()
    val sunkDf = spark.read.parquet(s"$out/res")
    // batch-id-keyed layout: each micro-batch owns its own overwrite dir
    // (replay-idempotent), surfaced as a `batch` partition column
    assert(sunkDf.columns.contains("batch"))
    assert(new java.io.File(s"$out/res").listFiles()
      .count(_.getName.startsWith("batch=")) >= 2,
      "two micro-batches must produce two batch dirs")
    val sunk = sunkDf.select("qid", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sunk == Set((1L, 11L), (2L, 22L), (3L, 33L)), s"got $sunk")
    // drain variant over the same inputs returns the identical rows
    val mem2 = MemoryStream[(Long, Long)]
    mem2.addData((1L, 1L), (2L, 2L), (3L, 3L))
    val drained = SearchStream.runSearchStream(
      b => engine(b), mem2.toDF().toDF("qid", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drained == sunk)
  }

  test("streaming near-dedup: two full drains over the planted corpus emit the same pairs") {
    def drain() = EventStream.runNearDedupStream(spark, "/root/testdata/sf0.001")
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b").collect().map(_.toString).sorted.toSeq
    val first = drain()
    assert(first.nonEmpty && first == drain())
  }
}

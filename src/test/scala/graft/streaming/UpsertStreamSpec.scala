package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class UpsertStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed change batches equal sequential batch merges") {
    val dir = java.nio.file.Files.createTempDirectory("ups").toString
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    StreamingUpsert.seed(base, s"$dir/t")

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Boolean)]
    val q = StreamingUpsert.run(
      mem.toDF.toDF("k", "s", "v", "del"),
      s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt")

    // batch 0: update 2, insert 4
    mem.addData((2L, "B", 21.0, false), (4L, "d", 40.0, false))
    q.processAllAvailable()
    val afterB0 = StreamingUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq
    assert(afterB0 == Seq(Row(1L, "a", 10.0), Row(2L, "B", 21.0),
      Row(3L, "c", 30.0), Row(4L, "d", 40.0)))

    // batch 1: delete 1, update the row batch 0 inserted
    mem.addData((1L, "a", 10.0, true), (4L, "D", 41.0, false))
    q.processAllAvailable()
    q.stop()
    val afterB1 = StreamingUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq
    assert(afterB1 == Seq(Row(2L, "B", 21.0), Row(3L, "c", 30.0),
      Row(4L, "D", 41.0)))

    // versions are immutable history: batch-0 state is still readable
    val v0 = spark.read.parquet(s"$dir/t/v0").orderBy("k").collect().toSeq
    assert(v0 == afterB0)

    // time travel: the catalog lists oldest -> newest, reads are stable
    assert(StreamingUpsert.versions(spark, s"$dir/t") ==
      Seq("vinit", "v0", "v1"))
    assert(StreamingUpsert.read(spark, s"$dir/t", "vinit")
      .orderBy("k").collect().toSeq == Seq(Row(1L, "a", 10.0),
        Row(2L, "b", 20.0), Row(3L, "c", 30.0)))
    assert(StreamingUpsert.read(spark, s"$dir/t", "v0")
      .orderBy("k").collect().toSeq == afterB0)
    val missing = intercept[IllegalArgumentException] {
      StreamingUpsert.read(spark, s"$dir/t", "v9")
    }
    assert(missing.getMessage.contains("not present"))

    // the commit log records every version with a timestamp, in order
    val log = StreamingUpsert.commits(spark, s"$dir/t")
    assert(log.map(_._1) == Seq("vinit", "v0", "v1"))
    assert(log.map(_._2).sliding(2).forall(p => p.head <= p.last))
    assert(log.forall(_._2 > 0L))

    // vacuum keeps the newest `keep` versions, never the pointed one
    val deleted = StreamingUpsert.vacuum(spark, s"$dir/t", keep = 1)
    assert(deleted.toSet == Set("vinit", "v0"))
    assert(StreamingUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq == afterB1)
    assert(!new java.io.File(s"$dir/t/v0").exists())
    assert(StreamingUpsert.versions(spark, s"$dir/t") == Seq("v1"))
    // vacuumed versions keep their commit-log entries — the log is the
    // audit trail, the FS is presence
    assert(StreamingUpsert.commits(spark, s"$dir/t").map(_._1) ==
      Seq("vinit", "v0", "v1"))
  }

  test("replayed batch whose version is already committed is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ups3").toString
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    StreamingUpsert.seed(base, s"$dir/t")
    val b0 = Seq((2L, 21.0, false), (3L, 30.0, false)).toDF("k", "v", "del")
    StreamingUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    assert(StreamingUpsert.pointer(spark, s"$dir/t").contains("v0"))
    val expected = StreamingUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq
    // crash-between-flip-and-checkpoint replay: pointer already names v0
    // — the old code would read v0 and overwrite(v0) (Spark rejects
    // overwriting a path being read); now it skips cleanly
    StreamingUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    assert(StreamingUpsert.pointer(spark, s"$dir/t").contains("v0"))
    assert(StreamingUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().toSeq == expected)
    // a batch id BEHIND the committed pointer is NOT legitimate replay
    // (foreachBatch only re-delivers the last batch) — it means a fresh
    // checkpoint dir against an existing state dir, where silently
    // no-op'ing would discard every incoming batch. Fail loudly.
    val b1 = Seq((1L, 11.0, false)).toDF("k", "v", "del")
    StreamingUpsert.applyBatch(b1, 1, s"$dir/t", Seq("k"), Some("del"))
    val stale = intercept[IllegalStateException] {
      StreamingUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"))
    }
    assert(stale.getMessage.contains("fresh"))
    assert(StreamingUpsert.pointer(spark, s"$dir/t").contains("v1"))
    // the pointer flip leaves no temp file behind
    assert(!new java.io.File(s"$dir/t/._LATEST.tmp").exists())
  }

  test("full-rewrite byte cap refuses oversized flat tables, opt-in overrides") {
    val dir = java.nio.file.Files.createTempDirectory("ups-cap").toString
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    StreamingUpsert.seed(base, s"$dir/t")
    val b0 = Seq((2L, 21.0, false), (3L, 30.0, false)).toDF("k", "v", "del")
    // any real parquet version dir exceeds a 1-byte cap — the guard fires
    // BEFORE the merge reads data and names the production path
    val refused = intercept[IllegalStateException] {
      StreamingUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"),
        fullRewriteByteCap = 1L)
    }
    assert(refused.getMessage.contains("PartitionedUpsert"))
    assert(refused.getMessage.contains("allowFullRewrite"))
    // the refusal left the table untouched: no v0, pointer still vinit
    assert(StreamingUpsert.pointer(spark, s"$dir/t").contains("vinit"))
    assert(StreamingUpsert.versions(spark, s"$dir/t") == Seq("vinit"))
    // explicit opt-in accepts the O(table) rewrite under the same cap
    StreamingUpsert.applyBatch(b0, 0, s"$dir/t", Seq("k"), Some("del"),
      allowFullRewrite = true, fullRewriteByteCap = 1L)
    assert(StreamingUpsert.pointer(spark, s"$dir/t").contains("v0"))
    assert(StreamingUpsert.latest(spark, s"$dir/t").get
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 21.0), (3L, 30.0)))
    // the production default cap (1 GiB) passes fixture-sized tables
    val b1 = Seq((1L, 11.0, false)).toDF("k", "v", "del")
    StreamingUpsert.applyBatch(b1, 1, s"$dir/t", Seq("k"), Some("del"))
    assert(StreamingUpsert.pointer(spark, s"$dir/t").contains("v1"))
  }

  test("additive schema evolution: new change columns null-fill untouched rows") {
    val dir = java.nio.file.Files.createTempDirectory("ups-evo").toString
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    StreamingUpsert.seed(base, s"$dir/t")
    val mem = MemoryStream[(Long, String, Double, Boolean)]
    val q = StreamingUpsert.run(
      mem.toDF.toDF("k", "s", "quality", "del"),
      s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt",
      allowNewColumns = true)
    mem.addData((2L, "B", 0.9, false), (3L, "c", 0.5, false))
    q.processAllAvailable()
    q.stop()
    val got = StreamingUpsert.latest(spark, s"$dir/t").get
      .select("k", "s", "quality").orderBy("k").collect().toSeq
    assert(got == Seq(Row(1L, "a", null), Row(2L, "B", 0.9),
      Row(3L, "c", 0.5)), got)
    // evolution is additive only: a change batch missing a base column
    // still fails loudly even with the flag on
    val e = intercept[IllegalArgumentException] {
      graft.operators.UpsertMerge(
        Seq((1L, "a")).toDF("k", "s"),
        Seq((1L, 0.5)).toDF("k", "quality"),
        Seq("k"), allowNewColumns = true)
    }
    assert(e.getMessage.contains("additive"), e.getMessage)
    // and without the flag, a new column is still a loud error
    intercept[IllegalArgumentException] {
      graft.operators.UpsertMerge(
        Seq((1L, "a")).toDF("k", "s"),
        Seq((1L, "a", 0.5)).toDF("k", "s", "quality"),
        Seq("k"))
    }
  }

  test("version diff classifies insert/delete/update and drops unchanged keys") {
    val dir = java.nio.file.Files.createTempDirectory("ups-diff").toString
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, null.asInstanceOf[String], 40.0)).toDF("k", "s", "v")
    StreamingUpsert.seed(base, s"$dir/t")
    val mem = MemoryStream[(Long, String, Double, Boolean)]
    val q = StreamingUpsert.run(mem.toDF.toDF("k", "s", "v", "del"),
      s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt")
    // update 2, delete 3, insert 5, touch 4 with IDENTICAL values
    // (null-safe unchanged), leave 1 alone
    mem.addData((2L, "B", 21.0, false), (3L, "c", 30.0, true),
      (5L, "e", 50.0, false), (4L, null.asInstanceOf[String], 40.0, false))
    q.processAllAvailable()
    q.stop()
    val d = StreamingUpsert.diff(spark, s"$dir/t", "vinit", "v0", Seq("k"))
      .select("k", "change", "s_before", "s_after", "v_before", "v_after")
      .orderBy("k").collect().toSeq
    assert(d == Seq(
      Row(2L, "update", "b", "B", 20.0, 21.0),
      Row(3L, "delete", "c", null, 30.0, null),
      Row(5L, "insert", null, "e", null, 50.0)), d)
    // same-version diff is empty
    assert(StreamingUpsert.diff(spark, s"$dir/t", "v0", "v0",
      Seq("k")).count() == 0)
    // missing key column fails loudly
    intercept[IllegalArgumentException] {
      StreamingUpsert.diff(spark, s"$dir/t", "vinit", "v0", Seq("nope"))
    }
  }

  test("pointed version absent from the commit log is reconciled on read") {
    // a state dir written under the old flip-then-log ordering that
    // crashed in the window: _LATEST names a version the log never
    // recorded — commits() must surface it (the pointer proves the
    // commit), with the version dir's mtime as the timestamp
    val dir = java.nio.file.Files.createTempDirectory("ups5").toString
    import spark.implicits._
    StreamingUpsert.seed(Seq((1L, "a")).toDF("k", "s"), s"$dir/t")
    // simulate the crash: strip vinit's entry from the log
    val log = new java.io.File(s"$dir/t/_commits.json")
    java.nio.file.Files.write(log.toPath, Array.emptyByteArray)
    val reconciled = StreamingUpsert.commits(spark, s"$dir/t")
    assert(reconciled.map(_._1) == Seq("vinit"))
    assert(reconciled.head._2 > 0L)
    // an absent log file reconciles the same way
    assert(log.delete())
    assert(StreamingUpsert.commits(spark, s"$dir/t").map(_._1) ==
      Seq("vinit"))
  }

  test("empty _LATEST pointer reads as absent") {
    val dir = java.nio.file.Files.createTempDirectory("ups4").toString
    new java.io.File(s"$dir/t").mkdirs()
    new java.io.File(s"$dir/t/_LATEST").createNewFile()
    assert(StreamingUpsert.pointer(spark, s"$dir/t").isEmpty)
    assert(StreamingUpsert.latest(spark, s"$dir/t").isEmpty)
  }

  test("single-writer lease: a second concurrent run() fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("upslock").toString
    val base = Seq((1L, "a", 10.0)).toDF("k", "s", "v")
    StreamingUpsert.seed(base, s"$dir/t")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double, Boolean)]
    val q = StreamingUpsert.run(mem.toDF.toDF("k", "s", "v", "del"),
      s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt")
    try {
      // the lease exists and names this process
      val h = WriterLock.holder(spark, s"$dir/t")
      assert(h.exists(_.contains("StreamingUpsert")))
      assert(h.exists(_.contains(
        s""""pid":${ProcessHandle.current().pid()}""")))
      // a second writer against the SAME stateDir refuses
      val mem2 = MemoryStream[(Long, String, Double, Boolean)]
      val e = intercept[IllegalStateException] {
        StreamingUpsert.run(mem2.toDF.toDF("k", "s", "v", "del"),
          s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt2")
      }
      assert(e.getMessage.contains("writer"))
      // a FOREIGN-process lock (different pid) also refuses, and names
      // the escape hatch
      val otherDir = s"$dir/other"
      new java.io.File(otherDir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$otherDir/_WRITER_LOCK"),
        """{"token":"x","pid":1,"app":"other","label":"z","ts":1}""")
      val e2 = intercept[IllegalStateException] {
        WriterLock.acquire(spark, otherDir, "test")
      }
      assert(e2.getMessage.contains("forceRelease"))
      WriterLock.forceRelease(spark, otherDir)
      assert(WriterLock.holder(spark, otherDir).isEmpty)
    } finally q.stop()
    // after stop, a successor run() on the same stateDir reclaims the
    // lease (no manual step needed within one JVM)
    val mem3 = MemoryStream[(Long, String, Double, Boolean)]
    val q3 = StreamingUpsert.run(mem3.toDF.toDF("k", "s", "v", "del"),
      s"$dir/t", Seq("k"), Some("del"), s"$dir/ckpt")
    mem3.addData((2L, "b", 20.0, false))
    q3.processAllAvailable()
    q3.stop()
    assert(StreamingUpsert.latest(spark, s"$dir/t").get.count() == 2)
  }

  test("lease self-heals after a crashed SAME-NAMESPACE writer; others refuse") {
    val host = java.net.InetAddress.getLocalHost.getHostName
    val ns = WriterLock.namespaceId
    assume(ns != "unknown-ns") // Linux container/CI always has /proc
    // a definitely-dead same-namespace pid
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    val deadPid = p.pid()
    def lock(dir: String, pid: Long, h: String, n: String): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/_WRITER_LOCK"),
        s"""{"token":"x","pid":$pid,"app":"other","host":"$h","ns":"$n","label":"z","ts":1}""")
    }
    val d1 = java.nio.file.Files.createTempDirectory("lk1").toString + "/t"
    lock(d1, deadPid, host, ns)
    // dead pid in THIS pid namespace: acquire reclaims instead of
    // demanding forceRelease — the crashed-bench-JVM footgun
    val tok = WriterLock.acquire(spark, d1, "heal")
    assert(tok.nonEmpty)
    WriterLock.release(spark, d1, tok)
    // the same dead pid claimed by ANOTHER host: refuse (pids collide
    // across hosts on a shared filesystem)
    val d2 = java.nio.file.Files.createTempDirectory("lk2").toString + "/t"
    lock(d2, deadPid, "some-other-host", "other-boot:pid:[1]")
    val e = intercept[IllegalStateException] {
      WriterLock.acquire(spark, d2, "heal")
    }
    assert(e.getMessage.contains("forceRelease"))
    // same HOSTNAME but a different pid namespace (two containers with
    // identical hostnames on a network FS): ProcessHandle would probe
    // the wrong namespace, so refuse — hostname is not proof
    val d5 = java.nio.file.Files.createTempDirectory("lk5").toString + "/t"
    lock(d5, deadPid, host, "foreign-boot-id:pid:[4026530000]")
    intercept[IllegalStateException] { WriterLock.acquire(spark, d5, "heal") }
    // a LIVE same-namespace pid: refuse (pid 1 is alive)
    val d3 = java.nio.file.Files.createTempDirectory("lk3").toString + "/t"
    lock(d3, 1L, host, ns)
    intercept[IllegalStateException] { WriterLock.acquire(spark, d3, "heal") }
    // legacy payload without host/ns: refuse (no liveness claim possible)
    val d4 = java.nio.file.Files.createTempDirectory("lk4").toString + "/t"
    new java.io.File(d4).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d4/_WRITER_LOCK"),
      s"""{"token":"x","pid":$deadPid,"app":"other","label":"z","ts":1}""")
    intercept[IllegalStateException] { WriterLock.acquire(spark, d4, "heal") }
  }

  test("ttl lease: expired foreign leases reclaim, heartbeat-fresh ones never") {
    def lock(dir: String, ttl: Long, ts: Long): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/_WRITER_LOCK"),
        s"""{"token":"x","pid":999999,"app":"other","host":"elsewhere",""" +
          s""""ns":"foreign:pid:[1]","label":"z","ts":$ts,"ttlMs":$ttl}""")
    }
    // foreign-host lease, declared ttl, no heartbeat, lease ts ancient:
    // expired → reclaim (the case that used to demand manual forceRelease)
    val d1 = java.nio.file.Files.createTempDirectory("ttl1").toString + "/t"
    lock(d1, 1000L, 1L)
    val tok = WriterLock.acquire(spark, d1, "ttl")
    assert(tok.nonEmpty)
    WriterLock.release(spark, d1, tok)
    // same shape but with a FRESH heartbeat naming the held token: the
    // holder is alive — never reclaimed (mtime of the heartbeat file is
    // fresh too, which is the signal a shared FS serves both parties)
    val d2 = java.nio.file.Files.createTempDirectory("ttl2").toString + "/t"
    lock(d2, 60000L, 1L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d2/_WRITER_HEARTBEAT"),
      s"""{"token":"x","ts":${System.currentTimeMillis()}}""")
    intercept[IllegalStateException] { WriterLock.acquire(spark, d2, "ttl") }
    // a heartbeat from a PREVIOUS holder (token mismatch) gives no
    // liveness credit: the lease's own stale ts decides → reclaim
    val d3 = java.nio.file.Files.createTempDirectory("ttl3").toString + "/t"
    lock(d3, 1000L, 1L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d3/_WRITER_HEARTBEAT"),
      s"""{"token":"previous","ts":${System.currentTimeMillis()}}""")
    val tok3 = WriterLock.acquire(spark, d3, "ttl")
    assert(tok3.nonEmpty)
    WriterLock.release(spark, d3, tok3)
    // a ttl-less lease (ttlMs absent or 0) never expires, however old
    val d4 = java.nio.file.Files.createTempDirectory("ttl4").toString + "/t"
    new java.io.File(d4).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d4/_WRITER_LOCK"),
      s"""{"token":"x","pid":999999,"app":"other","host":"elsewhere",""" +
        s""""ns":"foreign:pid:[1]","label":"z","ts":1}""")
    intercept[IllegalStateException] { WriterLock.acquire(spark, d4, "ttl") }
  }

  test("ttl lease holder refreshes the heartbeat; release removes it") {
    val dir = java.nio.file.Files.createTempDirectory("ttlhb").toString + "/t"
    val t0 = System.currentTimeMillis()
    val tok = WriterLock.acquire(spark, dir, "hb", ttlMs = 4000L)
    // refresher runs every ttl/4 = 1 s; after 2.5 s the heartbeat must be
    // newer than acquire time (i.e. it was refreshed at least once)
    Thread.sleep(2500L)
    val hb = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_WRITER_HEARTBEAT"))
    assert(hb.contains(s""""token":"$tok""""))
    val ts = "\"ts\":(\\d+)".r.findFirstMatchIn(hb).get.group(1).toLong
    assert(ts > t0, s"heartbeat ts $ts not after acquire $t0")
    // a live, heartbeat-kept lease is never reclaimed by a successor even
    // though its ttl (4 s) is shorter than... the heartbeat is fresh
    // (regression guard for the live-writer-never-reclaimed property —
    // the registry sees `ours`+inactive so strip it to simulate a foreign
    // observer by checking the staleness inputs directly)
    val age = System.currentTimeMillis() - ts
    assert(age < 4000L, s"heartbeat age $age exceeded the ttl while live")
    WriterLock.release(spark, dir, tok)
    assert(!new java.io.File(s"$dir/_WRITER_HEARTBEAT").exists())
    assert(!new java.io.File(s"$dir/_WRITER_LOCK").exists())
  }

  test("run before seed fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("ups2").toString
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingUpsert.run(mem.toDF.toDF("k", "s"),
      s"$dir/t", Seq("k"), None, s"$dir/ckpt")
    mem.addData((1L, "x"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("seed") ||
      e.getCause.getMessage.contains("seed"))
    q.stop()
  }

  test("lease: a same-pid lease of a foreign application is refused; our own stopped lease reclaims") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-wl-app").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(s"$dir/_WRITER_LOCK")
    val pid = ProcessHandle.current().pid()
    def plant(json: String): Unit = {
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      out.write(json.getBytes("UTF-8")); out.close()
    }
    plant(s"""{"token":"x","pid":$pid,"app":"application_foreign_1",""" +
      """"label":"other-host","ts":0}""")
    intercept[IllegalStateException] { WriterLock.acquire(spark, dir, "spec") }
    plant(s"""{"token":"y","pid":$pid,""" +
      s""""app":"${spark.sparkContext.applicationId}","label":"me","ts":0}""")
    val token = WriterLock.acquire(spark, dir, "spec2")
    WriterLock.release(spark, dir, token)
    assert(token.nonEmpty)
  }
}

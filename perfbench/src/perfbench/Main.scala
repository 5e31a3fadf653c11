package perfbench

import org.apache.spark.sql.SparkSession

/** What one op leaves behind, gathered outside the timed window. */
final case class OpOut(
    items: Int,
    disk: DiskDelta,
    qualityHit: Int,
    qualityOf: Int,
    errors: Seq[String],
    /** Per-layer facts that are counts, not times (keep_frac, pairs, ...). */
    facts: Map[String, Double] = Map.empty)

/** One workload: set-up builds the standing state, an op is one unit of
  * client work. `prepare` and `finish` run outside the timed window.
  */
trait Workload {
  /** Nominal ops per measured second: the op count of a run is
    * `ceil(seconds * opsPerSecond)`, fixed by the arguments, never by the
    * clock, so that counts repeat exactly.
    */
  def opsPerSecond: Double
  def warmupOps: Int
  /** Input text bytes of one op (the base of `bytes_per_input_byte`). */
  def inputBytes: Long
  def setup(): Unit
  /** Reference checks computed once after set-up; each error fails every op. */
  def afterSetup(): Seq[String] = Nil
  def prepare(i: Int): Unit
  def op(i: Int, t: Tracer): Any
  def finish(i: Int, raw: Any, t: Tracer): OpOut
  /** Untimed checks after the last op (e.g. incremental equals rebuild). */
  def finalChecks(): Seq[String] = Nil
  /** Every cache, state and table dir the workload hands to graft. */
  def statePaths: Seq[String]
}

object Main {
  /** Every per-layer metric, in output order. A layer a workload does not
    * exercise reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "core.cache.hits" -> "count", "core.cache.misses" -> "count",
    "core.cache.bytes_written" -> "bytes",
    "llm.clean.build_s" -> "s", "llm.clean.plan_s" -> "s", "llm.clean.exec_s" -> "s",
    "llm.clean.self_s" -> "s", "llm.clean.keep_frac" -> "ratio",
    "llm.dedup.build_s" -> "s", "llm.dedup.plan_s" -> "s", "llm.dedup.exec_s" -> "s",
    "llm.dedup.self_s" -> "s", "llm.dedup.pairs" -> "count",
    "llm.select.build_s" -> "s", "llm.select.plan_s" -> "s", "llm.select.exec_s" -> "s",
    "llm.select.self_s" -> "s",
    "llm.pack.build_s" -> "s", "llm.pack.plan_s" -> "s", "llm.pack.exec_s" -> "s",
    "llm.pack.self_s" -> "s",
    "llm.ingest.build_s" -> "s",
    "sources.shards.exec_s" -> "s", "sources.shards.bytes_written" -> "bytes",
    "sources.shards.files" -> "count",
    "text.passages.exec_s" -> "s", "text.passages.rows_out" -> "count",
    "predict.embed.exec_s" -> "s", "predict.embed.rows" -> "count",
    "search.bm25_build.build_s" -> "s", "search.bm25_build.exec_s" -> "s",
    "search.ivfpq_build.build_s" -> "s", "search.ivfpq_build.exec_s" -> "s",
    "search.state_bytes" -> "bytes",
    "search.bm25_query.plan_s" -> "s", "search.bm25_query.exec_s" -> "s",
    "search.ivfpq_query.plan_s" -> "s", "search.ivfpq_query.exec_s" -> "s",
    "search.fusion.plan_s" -> "s", "search.fusion.exec_s" -> "s",
    "search.fusion.self_s" -> "s",
    "search.add_vectors.build_s" -> "s", "search.add_vectors.exec_s" -> "s",
    "streaming.commit.exec_s" -> "s", "streaming.commit.bytes_written" -> "bytes",
    "streaming.commit.files_written" -> "count", "streaming.lease.wait_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.heap_peak_bytes" -> "bytes",
    "op.self_s" -> "s", "trace.overhead" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, commit: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.getOrElse("commit", "unknown"))
  }

  private val t0 = System.nanoTime
  def phase(name: String): Unit =
    System.err.println(f"perfbench phase $name at ${(System.nanoTime - t0) / 1e9}%.2f s")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths2.abs(a.work)
    val guard = GraftCacheGuard.snapshot()
    val spark = Session.create(cores, work, shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    val tracer = new Tracer(a.trace)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val code = try run(a, spark, tracer, counters, cores, work, guard)
    finally spark.stop()
    sys.exit(code)
  }

  private def run(a: Args, spark: SparkSession, tracer: Tracer, counters: Counters,
      cores: Int, work: String, guard: GraftCacheGuard.Snap): Int = {
    val wl: Workload = a.workload match {
      case "qa_serve" => new QaServe(spark, a.seed, work, tracer)
      case "ingest_update" => new IngestUpdate(spark, a.seed, work, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    phase("inputs")
    val nOps = math.ceil(a.seconds * wl.opsPerSecond).toInt

    // one set-up per run: it is the first Spark work in the JVM and the
    // costliest phase of a run, so repeating it would not fit the run budget
    val setupS = {
      val t0 = System.nanoTime
      wl.setup()
      (System.nanoTime - t0) / 1e9
    }
    phase("setup")
    val setupErrors = wl.afterSetup()
    phase("reference checks")

    final case class Rec(wall: Double, cpu: Double, out: OpOut, traced: Boolean,
        c: Map[String, Long], gcMs: Long, heap: Long, op: Int)
    def one(i: Int, traced: Boolean): Rec = {
      wl.prepare(i)
      System.gc()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val c0 = counters.snapshot
      val g0 = Jvm.gcMs
      Jvm.resetPeak()
      val cpu0 = Jvm.cpuNs
      val t = if (traced) tracer else new Tracer(false)
      tracer.op = i
      val t0 = System.nanoTime
      val raw = tracer.span("op")(wl.op(i, t))
      val wall = (System.nanoTime - t0) / 1e9
      val cpu = (Jvm.cpuNs - cpu0) / 1e9
      val heap = Jvm.peakHeap
      val gc = Jvm.gcMs - g0
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val c1 = counters.snapshot
      val out = try wl.finish(i, raw, t)
      catch { case e: Exception => OpOut(0, DiskDelta(0, 0, 0, 0, 0), 0, 0,
        Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
      Rec(wall, cpu, out, traced, c1.map { case (k, v) => k -> (v - c0(k)) }, gc, heap, i)
    }

    (0 until wl.warmupOps).foreach(i => one(-1 - i, traced = false))
    phase("warm-up")
    val (steal0, total0) = Jvm.stealJiffies
    val recs = (0 until nOps).map { i =>
      // the traced run alternates traced and untraced ops: the untraced
      // half is the base of the tracing overhead
      one(i, traced = a.trace && i % 2 == 0)
    }
    val (steal1, total1) = Jvm.stealJiffies
    phase("ops")
    val finalErrors = wl.finalChecks()
    phase("final checks")

    val errs = recs.map(r => r.out.errors ++ setupErrors ++
      (if (r eq recs.last) finalErrors else Nil))
    val failed = errs.count(_.nonEmpty)
    val guardErrors = GraftCacheGuard.changed(guard) ++
      wl.statePaths.filterNot(Paths2.under(work, _)).map(p => s"state path $p outside the work dir")
    errs.zipWithIndex.filter(_._1.nonEmpty).take(5).foreach { case (e, i) =>
      System.err.println(s"op $i failed: ${e.take(3).mkString("; ")}") }
    guardErrors.foreach(e => System.err.println(s"isolation: $e"))

    val base = recs.filterNot(_.traced)
    val items = base.map(_.out.items).sum
    val wallSum = base.map(_.wall).sum
    // pooled over every measured op: each qa_serve batch adds its queries
    val recall = base.map(_.out.qualityHit).sum.toDouble / base.map(_.out.qualityOf).sum.max(1)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (Stats.median(base.map(_.wall)), "s"),
      "items_per_s" -> (items / wallSum, "1/s"),
      "cpu_s_per_kitem" -> (base.map(_.cpu).sum / items * 1000, "s"),
      "bytes_per_input_byte" -> (Stats.median(base.map(_.out.disk.bytes.toDouble)) /
        wl.inputBytes, "ratio"),
      "quality_recall" -> (recall, "ratio"))

    val traced = recs.filter(_.traced)
    val perOp = traced.map { r =>
      val self = tracer.selfSeconds(r.op)
      val phases = tracer.spans.iterator.filter(_.op == r.op).map(_.name)
        .filter(n => n.endsWith(".build") || n.endsWith(".plan") || n.endsWith(".exec"))
        .toSet.map((n: String) => s"${n}_s" -> tracer.seconds(r.op, n)).toMap
      Map(
        "core.cache.hits" -> r.out.disk.hits.toDouble,
        "core.cache.misses" -> r.out.disk.misses.toDouble,
        "core.cache.bytes_written" -> r.out.disk.cacheBytes.toDouble,
        "spark.jobs" -> r.c("jobs").toDouble, "spark.stages" -> r.c("stages").toDouble,
        "spark.tasks" -> r.c("tasks").toDouble, "spark.plan_s" -> r.c("plan_ms") / 1e3,
        "spark.executor_cpu_s" -> r.c("cpu_ns") / 1e9,
        "spark.shuffle_write_bytes" -> r.c("shuffle").toDouble,
        "spark.spill_bytes" -> r.c("spill").toDouble,
        "jvm.gc_s" -> r.gcMs / 1e3, "jvm.heap_peak_bytes" -> r.heap.toDouble,
        "search.fusion.self_s" -> self.getOrElse("search.fusion", 0.0),
        "op.self_s" -> self.getOrElse("op", 0.0)) ++ phases ++ r.out.facts
    }
    val overhead = if (traced.isEmpty || base.isEmpty) 0.0
      else Stats.median(traced.map(_.wall)) / Stats.median(base.map(_.wall))
    val layerMetrics = perLayer.map { case (n, u) =>
      val v = if (n == "trace.overhead") overhead
        else Stats.median(perOp.map(_.getOrElse(n, 0.0)))
      n -> (v, u)
    }

    val stealFrac = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "ops" -> nOps.toString, "warmup_ops" -> wl.warmupOps.toString,
      "op_wall_s" -> base.map(r => Json.num(r.wall)).mkString("[", ",", "]"),
      "nproc" -> cores.toString,
      "spark_conf" -> Json.obj(Session.conf(spark).map { case (k, v) => k -> Json.str(v) }),
      "jvm" -> Json.str(System.getProperty("java.version")),
      "jvm_flags" -> Json.str(runtime.getInputArguments.toArray
        .map(_.toString).filter(f => f.startsWith("-X")).mkString(" ")),
      "commit" -> Json.str(a.commit),
      "host_steal_frac" -> Json.num(stealFrac),
      "failed_frac" -> Json.num(failed.toDouble / recs.size),
      "isolation_ok" -> guardErrors.isEmpty.toString,
      "input_digest" -> Json.str(Digest.tree(s"$work/input")),
      "digest" -> Json.str(Digest.of(recs.map(r => (r.out, r.c("actions"))),
        e2e.filter(_._1 == "quality_recall"), e2e.filter(_._1 == "bytes_per_input_byte")))))
    println("RUN " + record)
    if (a.trace) {
      val f = new java.io.File(work, s"spans-${a.workload}-${a.seed}.json")
      java.nio.file.Files.writeString(f.toPath, tracer.json)
      println("SPANS " + f.getPath)
    }
    val metrics = if (a.trace) layerMetrics else e2e
    val correct = failed == 0 && guardErrors.isEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> recs.size.toString,
      "failed" -> (failed + (if (guardErrors.isEmpty) 0 else recs.size - failed)).toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    if (correct) 0 else 1
  }
}

/** The shared fingerprint cache of graft's own Bench and Verify mains: nothing
  * here may read or write it, and a run that changed it fails.
  */
object GraftCacheGuard {
  type Snap = Map[String, Files2.Entry]
  private val dir = "/tmp/graft-cache"
  def snapshot(): Snap = Files2.tree(dir)
  def changed(before: Snap): Seq[String] =
    if (Files2.tree(dir) == before) Nil else Seq(s"$dir changed during the run")
}

/** Digest of every count a run should repeat exactly at one seed. Spark
  * actions stand in for jobs: AQE submits query-stage jobs from a thread
  * pool, and which stage finishes first can add or drop a job.
  */
object Digest {
  /** Contents of every file under `dir`, by relative path. */
  def tree(dir: String): String = graft.core.Fingerprint.hash(
    Files2.tree(dir).keys.toSeq.sorted.map { k =>
      k + ":" + graft.core.Fingerprint.hash(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, k)), "UTF-8"))
    }.mkString(";"))

  def of(ops: Seq[(OpOut, Long)], more: Seq[(String, (Double, String))]*): String = {
    val s = ops.map { case (o, actions) =>
      s"${o.items}|${o.disk}|${o.qualityHit}/${o.qualityOf}|" +
        o.facts.filterNot(_._1.endsWith("_s")).toSeq.sorted.mkString(",") + s"|actions=$actions"
    }.mkString(";") + more.flatten.map { case (k, (v, _)) => s"$k=$v" }.mkString(";")
    graft.core.Fingerprint.hash(s)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Op id of set-up spans (warm-up ops count down from -1, ops up from 0). */
  val SetupOp = -1000
}

/** One timed interval. `parent` is the id of the enclosing span (-1 for an
  * op root); spans of one op share `op`.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    start: Long, var end: Long)

/** In-memory span recorder, written out once at exit. With `enabled` off,
  * [[layer]] and [[eager]] record nothing and add no materialization.
  */
final class Tracer(val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]
  @volatile var current: Int = -1
  var op: Int = -1

  def span[T](name: String)(f: => T): T = {
    val s = synchronized {
      val x = Span(spans.size, name, op, current, System.nanoTime, 0L)
      spans += x
      x
    }
    val prev = current
    current = s.id
    try f finally { s.end = System.nanoTime; current = prev }
  }

  /** A span recorded after the fact (by [[Sampler]]). */
  def record(name: String, parent: Int, op: Int, start: Long, end: Long): Unit =
    synchronized { spans += Span(spans.size, name, op, parent, start, end) }

  /** Time a call that returns a lazy frame as build / plan / exec and
    * materialize its output at the boundary, so that lazy work is charged
    * to the layer that owns it. Untraced, the frame passes through as is.
    */
  def layer(name: String)(build: => DataFrame): DataFrame =
    if (!enabled) build
    else span(name) {
      val df = span(s"$name.build")(build)
      span(s"$name.plan")(df.queryExecution.executedPlan)
      span(s"$name.exec")(df.localCheckpoint(true))
    }

  /** An eager call (a write, a collect): all of it is exec. */
  def eager[T](name: String)(f: => T): T =
    if (!enabled) f else span(name)(span(s"$name.exec")(f))

  /** Seconds of spans named `name` in op `op`. */
  def seconds(op: Int, name: String): Double =
    spans.iterator.filter(s => s.op == op && s.name == name)
      .map(s => (s.end - s.start) / 1e9).sum

  /** Self time of every span name in op `op`: duration minus the part
    * covered by child spans (children of one span do not overlap).
    */
  def selfSeconds(op: Int): Map[String, Double] = {
    val mine = spans.filter(_.op == op)
    val child = mine.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    mine.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start - child.getOrElse(s.id, 0L)) / 1e9).sum }
  }

  def json: String = spans.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""").mkString("[\n", ",\n", "\n]\n")
}

/** The benchmark's own listener on its session: Spark counters per op. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, cpuNs, shuffleWrite, spill, planMs, actions = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet()
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "shuffle" -> shuffleWrite.get,
    "spill" -> spill.get, "plan_ms" -> planMs.get, "actions" -> actions.get)
}

/** Splits the wall time of one composite library call (a call that runs
  * several layers inside, like `IngestPreset.run`) by sampling the calling
  * thread's stack every `intervalMs`: each sample is charged to the graft
  * module of the innermost graft frame that is not a shared building block
  * (core, pipes, operators, functions). Runs of samples with one layer
  * become spans `sample:<layer>` under the span that was open.
  */
object Sampler {
  private val intervalMs = 2L

  def sampled[T](t: Tracer)(f: => T): T = {
    if (!t.enabled) return f
    val target = Thread.currentThread
    val parent = t.current
    val op = t.op
    @volatile var running = true
    val th = new Thread(() => {
      var cur = ""
      var since = System.nanoTime
      while (running) {
        val now = System.nanoTime
        val l = layerOf(target.getStackTrace.iterator.map(_.getClassName)).getOrElse("other")
        if (l != cur) {
          if (cur.nonEmpty) t.record(s"sample:$cur", parent, op, since, now)
          cur = l
          since = now
        }
        Thread.sleep(intervalMs)
      }
      if (cur.nonEmpty) t.record(s"sample:$cur", parent, op, since, System.nanoTime)
    }, "perfbench-sampler")
    th.setDaemon(true)
    th.start()
    try f finally { running = false; th.join() }
  }

  private val Cls = """^graft\.([a-z]+)\.([A-Za-z0-9_]+).*""".r

  /** graft module → layer name, from class names innermost first. */
  def layerOf(classes: Iterator[String]): Option[String] =
    classes.collect { case Cls(pkg, cls) => (pkg, cls) }
      .collectFirst {
        case ("llm", c) if c.startsWith("IngestPreset") => "llm.ingest"
        case ("llm", c) if c.contains("Dedup") || c.contains("MinHash") => "llm.dedup"
        case ("llm", c) if c.startsWith("ImportanceWeight") ||
          c.startsWith("TemperatureMix") => "llm.select"
        case ("llm", c) if c.startsWith("Pack") || c.startsWith("Shard") ||
          c.startsWith("DeterministicShuffle") => "llm.pack"
        case ("llm", _) => "llm.clean"
        case ("search", c) if c.contains("IVFPQ") || c.startsWith("IVF") ||
          c.startsWith("PQ") => "search.ivfpq"
        case ("search", c) if c.startsWith("BM25") => "search.bm25"
        case ("search", _) => "search.other"
        case ("predict", _) => "predict.embed"
        case ("streaming", _) => "streaming.commit"
        case ("sources", _) => "sources.shards"
        case ("text", _) => "text.passages"
      }
}

/** File-system facts about graft's state dirs, read from outside. */
object Files2 {
  final case class Entry(size: Long, mtime: Long)

  def tree(dir: String): Map[String, Entry] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          Entry(Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }
  }

  /** Cache entries ([[graft.core.CachedStage]] dirs: a `_SUCCESS` marker
    * directly inside) with their dir mtime; dirs under `skip` names are
    * tables, not cache entries.
    */
  def cacheEntries(dir: String, skip: Set[String] = Set.empty): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala
        .filter(p => p.getFileName.toString == "_SUCCESS")
        .map(_.getParent)
        .filterNot(p => root.relativize(p).iterator.asScala.exists(n => skip(n.toString)))
        .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap finally s.close()
    }
  }

  def bytes(dir: String): Long = tree(dir).values.map(_.size).sum

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** Copy a tree keeping file and dir mtimes (a restored cache entry keeps
    * the mtime of the snapshot, so a hit's mtime refresh stays visible).
    */
  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    val all = try s.iterator.asScala.toSeq finally s.close()
    all.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
    // dir mtimes last: creating children bumps them
    all.filter(Files.isDirectory(_)).reverse.foreach { p =>
      Files.setLastModifiedTime(dst.resolve(src.relativize(p).toString),
        Files.getLastModifiedTime(p))
    }
  }

  def emptyDir(dir: String): Boolean = {
    val f = new File(dir)
    !f.exists || Option(f.list).forall(_.isEmpty)
  }
}

/** Cache and write facts of one op, from listings before and after. */
final case class DiskDelta(hits: Int, misses: Int, cacheBytes: Long,
    bytes: Long, files: Int)

object DiskDelta {
  final case class Snap(entries: Map[String, Long], tree: Map[String, Files2.Entry])

  def snap(dir: String, skip: Set[String] = Set.empty): Snap =
    Snap(Files2.cacheEntries(dir, skip), Files2.tree(dir))

  def diff(a: Snap, b: Snap): DiskDelta = {
    val changed = b.tree.filter { case (k, v) => !a.tree.get(k).contains(v) }
    val newEntries = b.entries.keySet -- a.entries.keySet
    DiskDelta(
      hits = b.entries.count { case (k, m) => a.entries.get(k).exists(_ != m) },
      misses = newEntries.size,
      cacheBytes = changed.iterator.filter { case (k, _) =>
        newEntries.exists(e => k.startsWith(e + File.separator)) }.map(_._2.size).sum,
      bytes = changed.values.map(_.size).sum,
      files = changed.count { case (k, _) => !k.endsWith(".crc") &&
        !k.split(File.separatorChar).last.startsWith("_") })
  }
}

/** JVM and host facts sampled around an op. */
object Jvm {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeap: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** (steal, total) jiffies of the host's aggregate cpu line. */
  def stealJiffies: (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Session {
  def create(cores: Int, work: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()

  def conf(spark: SparkSession): Seq[(String, String)] = Seq(
    "spark.master", "spark.sql.shuffle.partitions", "spark.ui.enabled",
    "spark.sql.session.timeZone", "spark.sql.adaptive.enabled")
    .map(k => k -> spark.conf.getOption(k).getOrElse(""))
}

object Paths2 {
  def under(root: String, p: String): Boolean =
    Paths.get(p).toAbsolutePath.normalize.startsWith(Paths.get(root).toAbsolutePath.normalize)
  def mk(p: String): String = { Files.createDirectories(Paths.get(p)); p }
  def abs(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString
}

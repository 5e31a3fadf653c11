package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.ListenerDrain
import graft.{LocalSession, Queries}

/** Layer-by-layer profile of driver gates on [[graft.LocalSession]]
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_EXTRA_CONF`):
  *
  *   runMain graft.tools.Profile <sfDir> <gate>[,<gate>...] [planDir suffix]
  *
  * Each gate runs twice. Every repetition prints one line that splits its
  * time into build (constructing the DataFrame, eager jobs included), plan
  * (physical planning) and exec (the noop-sink action); the last
  * repetition also prints one wall/run/CPU/tasks line per Spark stage it
  * ran. With a plan dir, the formatted physical plan of each gate is
  * written to `<planDir>/<gate>_<suffix>.txt`.
  */
object Profile {
  private val Reps = 2

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 4,
      "usage: graft.tools.Profile <sfDir> <gate>[,<gate>...] [planDir suffix]")
    val gates = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val planOut = if (args.length == 4) Some((args(2), args(3))) else None
    val spark = LocalSession()
    try run(spark, args(0), gates, planOut)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, gates: Seq[String],
      planOut: Option[(String, String)], out: String => Unit = println): Unit = {
    val unknown = gates.filterNot(Queries.queries.contains)
    require(unknown.isEmpty,
      s"gates not in the query registry: ${unknown.mkString(",")}")
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (si.completionTime.getOrElse(0L) -
          si.submissionTime.getOrElse(0L)) / 1e3
        val m = si.taskMetrics
        stages.add(f"[stage ${si.stageId}%4d] wall=$wall%6.2f " +
          f"run=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
          f"tasks=${si.numTasks}%4d  ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    }
    sc.addSparkListener(listener)
    try gates.foreach { gate =>
      for (rep <- 1 to Reps) {
        ListenerDrain(sc)
        stages.clear()
        val t0 = System.nanoTime()
        val df = Queries.queries(gate)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        if (rep == Reps) planOut.foreach { case (dir, suffix) =>
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(dir, s"${gate}_$suffix.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        }
        val t3 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t4 = System.nanoTime()
        out(f"[profile] $gate rep $rep build=${(t1 - t0) / 1e9}%.2f " +
          f"plan=${(t2 - t1) / 1e9}%.2f exec=${(t4 - t3) / 1e9}%.2f s")
      }
      ListenerDrain(sc)
      stages.asScala.foreach(out)
    } finally sc.removeSparkListener(listener)
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code starts, for job-budget specs. */
object Jobs {

  /** One started job: its SQL execution's description (the job label
    * the caller set, else the action's call site, e.g. `localCheckpoint
    * at X.scala:12`), None for a job outside any SQL execution (such as a
    * schema-inference job or an RDD collect); and its job label
    * (`spark.job.description`), None when the caller set none.
    */
  case class Job(id: Int, sql: Option[String], label: Option[String]) {
    /** The label's call site: the label without its fingerprint prefix. */
    def site: Option[String] = label.map(_.replaceAll(" [0-9a-f]{1,12}$", ""))
  }

  /** Jobs started while `body` runs; the listener bus is drained before
    * and after, so no event is lost or borrowed from earlier work.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerDrain(sc)
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val started =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Option[Long], Option[String])]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        started.add((j.jobId, prop("spark.sql.execution.id").map(_.toLong),
          prop("spark.job.description")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, s.description)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.ListenerDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toSeq.sortBy(_._1).map { case (id, exec, label) =>
        Job(id, exec.map(e => Option(executions.get(e)).getOrElse(s"execution $e")), label)
      })
    } finally sc.removeSparkListener(listener)
  }
}

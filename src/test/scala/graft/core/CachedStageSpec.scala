package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** A cache miss reads its entry back with the written frame's schema:
  * no schema-inference job after the write, and the schema a plain
  * (inferring) read of the entry would return.
  */
class CachedStageSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.ListenerDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a miss runs no job after its write; the read-back schema equals the inferred one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cached-schema").toString
    val tagged: Metadata = new MetadataBuilder().putString("note", "kept").build()
    val frames = Seq(
      "wide" -> Seq((1L, "a", 1.5, Seq(1, 2)), (2L, null, Double.NaN, Nil))
        .toDF("id", "s", "d", "xs")
        .select(col("id"), col("s").as("s", tagged), col("d"), col("xs"),
          struct(col("id"), col("xs")).as("st"), map(col("id"), col("s")).as("mp"),
          lit(java.sql.Date.valueOf("2024-01-02")).as("day"),
          lit(new java.math.BigDecimal("1.25")).as("dec"),
          col("s").cast("binary").as("bin"), current_timestamp().as("ts")),
      "nonNullable" -> spark.range(3).select(col("id"), lit(1).as("one")),
      "empty" -> spark.range(0).select(col("id"), lit("x").as("s")))
    frames.foreach { case (name, frame) =>
      val (got, jobs) = jobsDuring(CachedStage(spark, dir, name)(frame))
      assert(jobs == 1, s"$name: $jobs jobs (the write alone expected)")
      val inferred = spark.read.parquet(s"$dir/$name").schema
      assert(got.schema == inferred, s"$name:\n${got.schema.treeString}\n${inferred.treeString}")
      assert(got.collect().length == frame.count(), name)
    }
  }
}

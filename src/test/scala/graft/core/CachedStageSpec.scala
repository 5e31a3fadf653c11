package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** A cache miss reads its entry back with the written frame's schema and
  * a hit reads it with its footer's: neither runs a schema-inference job,
  * and both return the schema a plain (inferring) read of the entry would.
  * A damaged entry recomputes or raises; it never serves short rows.
  */
class CachedStageSpec extends SparkSpec {
  import spark.implicits._

  private def frames = {
    val tagged: Metadata = new MetadataBuilder().putString("note", "kept").build()
    Seq(
      "wide" -> Seq((1L, "a", 1.5, Seq(1, 2)), (2L, null, Double.NaN, Nil))
        .toDF("id", "s", "d", "xs")
        .select(col("id"), col("s").as("s", tagged), col("d"), col("xs"),
          struct(col("id"), col("xs")).as("st"), map(col("id"), col("s")).as("mp"),
          lit(java.sql.Date.valueOf("2024-01-02")).as("day"),
          lit(new java.math.BigDecimal("1.25")).as("dec"),
          col("s").cast("binary").as("bin"), current_timestamp().as("ts")),
      "nonNullable" -> spark.range(3).select(col("id"), lit(1).as("one")),
      "empty" -> spark.range(0).select(col("id"), lit("x").as("s")))
  }

  test("a miss runs no job after its write; the read-back schema equals the inferred one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cached-schema").toString
    frames.foreach { case (name, frame) =>
      val (got, jobs) = graft.Jobs.during(spark)(CachedStage(spark, dir, name)(frame))
      assert(jobs.size == 1, s"$name: $jobs (the write alone expected)")
      val inferred = spark.read.parquet(s"$dir/$name").schema
      assert(got.schema == inferred, s"$name:\n${got.schema.treeString}\n${inferred.treeString}")
      assert(got.collect().length == frame.count(), name)
    }
  }

  test("a hit runs no job; its schema equals the inferred one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cached-hit").toString
    frames.foreach { case (name, frame) =>
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }.toString).sorted.toSeq
      val written = rows(CachedStage(spark, dir, name)(frame))
      var computes = 0
      val (got, jobs) = graft.Jobs.during(spark)(
        CachedStage(spark, dir, name) { computes += 1; frame })
      assert(computes == 0 && jobs.isEmpty, s"$name: $jobs")
      val inferred = spark.read.parquet(s"$dir/$name").schema
      assert(got.schema == inferred, s"$name:\n${got.schema.treeString}\n${inferred.treeString}")
      assert(rows(got) == written, name)
    }
  }

  test("a damaged hit recomputes or raises, never returns short rows") {
    val frame = spark.range(0, 300, 1, 3).select(col("id"), (col("id") * 2).as("v"))
    val expected = frame.collect().map(_.toString).sorted.toSeq
    /** Rewrite one part file's bytes (its checksum sidecar dropped, as a
      * store without sidecars would have none).
      */
    def damage(part: java.io.File, keep: Long => Long): Unit = {
      val f = new java.io.RandomAccessFile(part, "rw")
      try f.setLength(keep(f.length())) finally f.close()
      new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
    }
    val cases: Seq[(String, java.io.File => Unit)] = Seq(
      "truncated first part file" -> { entry =>
        damage(parts(entry).head, _ / 2) },
      "zero-byte part file" -> { entry =>
        damage(parts(entry)(1), _ => 0L) },
      "no data files" -> { entry =>
        parts(entry).foreach { p =>
          p.delete(); new java.io.File(entry, s".${p.getName}.crc").delete()
        } })
    cases.foreach { case (name, breakEntry) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-cached-damage").toString
      CachedStage(spark, dir, "k")(frame).count()
      val entry = new java.io.File(dir, "k")
      assert(parts(entry).size == 3 && new java.io.File(entry, "_SUCCESS").exists(), name)
      breakEntry(entry)
      var computes = 0
      val got =
        try Some(CachedStage(spark, dir, "k") { computes += 1; frame }
          .collect().map(_.toString).sorted.toSeq)
        catch { case e: Exception => info(s"$name raised ${e.getClass.getSimpleName}"); None }
      got.foreach(rows => assert(rows == expected,
        s"$name: served ${rows.size} of ${expected.size} rows"))
      // each of these is caught at plan time and recomputed
      assert(computes == 1, s"$name: $computes computes")
    }
  }

  private def parts(entry: java.io.File): Seq[java.io.File] =
    entry.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
}

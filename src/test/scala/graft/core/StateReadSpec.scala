package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[StateRead]] returns what Spark's inferring read returns, with no
  * Spark job, and graft's own state reads go through it.
  */
class StateReadSpec extends SparkSpec {
  import spark.implicits._

  test("over partitions whose schemas evolved apart, the first file's footer decides, as in inference") {
    val dir = Files.createTempDirectory("graft-state-read").toString
    val narrow = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val wide = Seq((3L, 3.0, "x")).toDF("k", "v", "extra")
      .select(col("k"), col("v"), col("extra").as("extra",
        new org.apache.spark.sql.types.MetadataBuilder().putLong("since", 2).build()))
    narrow.write.parquet(s"$dir/p0/vinit")
    wide.write.parquet(s"$dir/p1/v1")
    wide.write.parquet(s"$dir/p0/v1")
    narrow.coalesce(1).write.parquet(s"$dir/p2/vinit")
    Seq(
      Seq(s"$dir/p0/vinit", s"$dir/p1/v1"),
      Seq(s"$dir/p1/v1", s"$dir/p0/vinit"),
      Seq(s"$dir/p0/v1", s"$dir/p2/vinit"),
      Seq(s"$dir/p2/vinit", s"$dir/p0/v1", s"$dir/p1/v1")).foreach { paths =>
      val (got, jobs) = graft.Jobs.during(spark)(StateRead(spark, paths: _*))
      assert(jobs.isEmpty, s"$paths: $jobs")
      val inferred = spark.read.parquet(paths: _*)
      assert(got.schema == inferred.schema,
        s"$paths:\n${got.schema.treeString}\n${inferred.schema.treeString}")
      assert(got.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq, paths)
    }
  }

  test("a nested layout falls back to Spark's inferring read; a missing one raises Spark's error") {
    val dir = Files.createTempDirectory("graft-state-nested").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "part").write.partitionBy("part").parquet(s"$dir/t")
    assert(StateRead.read(spark, Seq(s"$dir/t")).isEmpty)
    val got = StateRead(spark, s"$dir/t")
    assert(got.schema == spark.read.parquet(s"$dir/t").schema)
    assert(got.orderBy("k").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    val e = intercept[org.apache.spark.sql.AnalysisException](StateRead(spark, s"$dir/missing"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("rowCount sums the footers with no job, and stops once the sum passes the limit") {
    val dir = Files.createTempDirectory("graft-state-count").toString
    // four files of 25 rows each
    spark.range(100).repartition(4).write.parquet(s"$dir/t")
    val df = StateRead(spark, s"$dir/t")
    val (all, jobs) = graft.Jobs.during(spark)(StateRead.rowCount(df))
    assert(all.contains(100L) && jobs.isEmpty, s"$all $jobs")
    // the first file read passes 10: its 25 rows, not the whole sum
    assert(StateRead.rowCount(df, limit = 10).contains(25L))
    assert(StateRead.rowCount(df, limit = 99).contains(100L))
    assert(StateRead.rowCount(df.filter(col("id") > 5)).isEmpty)
  }

  /** Inferring reads under `graft/core` and `graft/streaming` that do not
    * read graft-written state: file → the read's argument.
    */
  private val notState = Map(
    // the helper's own fallback, which raises Spark's error on a bad layout
    "StateRead.scala" -> Set("paths: _*"),
    // the gates' fixture tables
    "Streaming.scala" -> Set("s\"$dir/events.parquet\"", "s\"$dir/customer.parquet\"",
      "s\"$dir/documents.parquet\"", "s\"$dir/embeddings.parquet\"", "path"),
    // the caller's plan file, and per-batch output under `batch=` dirs
    "StreamingMixture.scala" -> Set("planPath", "outDir"),
    // the stream's appended output sink
    "Decontaminate.scala" -> Set("outDir"))

  /** The argument of every `.read.parquet(` call outside comments. */
  private def inferringReads(src: String): Seq[String] = {
    val code = src.linesIterator
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/**"))
      .map(l => l.indexOf("//") match { case -1 => l; case i => l.take(i) })
      .mkString("\n")
    "\\.read\\.parquet\\(".r.findAllMatchIn(code).map { m =>
      var depth = 1
      var i = m.end
      while (depth > 0) {
        code(i) match { case '(' => depth += 1; case ')' => depth -= 1; case _ => }
        i += 1
      }
      code.substring(m.end, i - 1).trim
    }.toSeq
  }

  test("graft/core and graft/streaming read their state through StateRead") {
    def scala(dir: String): Seq[Path] =
      Files.list(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val found = (scala("src/main/scala/graft/core") ++ scala("src/main/scala/graft/streaming"))
      .flatMap(p => inferringReads(Files.readString(p)).map(p.getFileName.toString -> _))
    assert(found.exists(_._1 == "Streaming.scala"), found)
    val bare = found.filterNot { case (file, arg) => notState.getOrElse(file, Set.empty)(arg) }
    assert(bare.isEmpty, s"state read with an inferring spark.read.parquet: $bare")
  }
}

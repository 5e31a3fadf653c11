package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The documented tool surface: every main under `graft/tools/` has a row
  * in README's Tools table, and `tools.Profile` runs end to end.
  */
class ToolsSpec extends SparkSpec {

  test("every main under graft/tools has a row in README's Tools table") {
    val mains = Files.list(Paths.get("src/main/scala/graft/tools")).iterator()
      .asScala.toSeq.flatMap { path =>
        val src = Files.readString(path)
        val objects = "object (\\w+)".r.findAllMatchIn(src).toSeq
        // each `def main` belongs to the nearest object declared before it
        "def main\\(".r.findAllMatchIn(src).toSeq.flatMap(m =>
          objects.filter(_.start < m.start).lastOption.map(_.group(1)))
      }
    assert(mains.contains("Profile"), mains)
    val readme = Files.readString(Paths.get("README.md"))
    val rows = readme.linesIterator.dropWhile(_ != "## Tools").drop(1)
      .takeWhile(!_.startsWith("## ")).filter(_.startsWith("|")).toSeq
    val missing = mains.filterNot(m => rows.exists(_.contains(s"`graft.tools.$m`")))
    assert(missing.isEmpty, s"mains missing from README's Tools table: $missing")
  }

  test("Profile prints a build/plan/exec line per repetition, stage lines, and the plan file") {
    val planDir = Files.createTempDirectory("graft-profile").toString
    val lines = ArrayBuffer.empty[String]
    tools.Profile.run(spark, "/root/testdata/sf0.001", Seq("q1_pricing_summary"),
      Some((planDir, "smoke")), line => lines += line)
    val timing = "\\[profile\\] q1_pricing_summary rep (\\d) " +
      "build=\\d+\\.\\d\\d plan=\\d+\\.\\d\\d exec=\\d+\\.\\d\\d s"
    assert(lines.collect { case l if l.matches(timing) => l.split(' ')(3) } ==
      Seq("1", "2"), lines)
    assert(lines.exists(_.startsWith("[stage ")), lines)
    val plan = Files.readString(Paths.get(planDir, "q1_pricing_summary_smoke.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
  }
}

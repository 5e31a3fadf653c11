package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every workload input is a pure function of
  * (seed, sizes): the same seed yields byte-identical pages, queries and
  * vectors, a different seed yields different ones. Sizes never depend on
  * the seed, so the amount of work per op is the same for every seed.
  *
  * Text is lowercase pseudo-words in lines of 11 words that end in a
  * period, which passes graft's C4 and Gopher cleaner unchanged. Junk pages
  * are built to fail exactly one cleaner rule each.
  */
final case class Page(id: Long, text: String, source: String, kind: String)

/** A planted near-duplicate: `dup` is `orig` with two words replaced. */
final case class Planted(orig: Long, dup: Long)

final class Gen(seed: Long) {
  private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17L)
  def fork(salt: Long): SplittableRandom = new SplittableRandom(rng.nextLong() ^ salt)

  val topics = 16
  // three-letter stopwords at fixed positions and six-letter words make
  // every line, page and passage the same byte length for every seed
  private val stop = Array("the", "and", "for")

  private def word(r: SplittableRandom): String = {
    val n = 6
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  private val vr = fork(1)
  val general: Array[String] = Array.fill(400)(word(vr))
  val topicWords: Array[Array[String]] = Array.fill(topics)(Array.fill(120)(word(vr)))

  def line(r: SplittableRandom, topic: Int): String = {
    val ws = Array.tabulate(11) { i =>
      if (i % 4 == 0) stop(r.nextInt(stop.length))
      else if (r.nextInt(2) == 0) general(r.nextInt(general.length))
      else topicWords(topic)(r.nextInt(topicWords(topic).length))
    }
    ws.mkString(" ") + "."
  }

  def goodText(r: SplittableRandom, topic: Int, lines: Int): String =
    Seq.fill(lines)(line(r, topic)).mkString("\n")

  /** Junk that the cleaner drops: lorem-ipsum flag, too few sentences,
    * or numeric lines that fail the Gopher alphabetic-word rule.
    */
  def junkText(r: SplittableRandom, variant: Int): String = variant % 3 match {
    case 0 => goodText(r, r.nextInt(topics), 5) + "\nlorem ipsum dolor sit amet consectetur."
    case 1 => goodText(r, r.nextInt(topics), 2)
    case _ => Seq.fill(8)(Seq.fill(10)((10000 + r.nextInt(90000)).toString).mkString(" ") + ".")
      .mkString("\n")
  }

  /** `text` with two non-stopwords (not the line-final one) replaced. */
  def nearDup(r: SplittableRandom, text: String): String = {
    val lines = text.split("\n")
    var k = 0
    while (k < 2) {
      val li = r.nextInt(lines.length)
      val ws = lines(li).split(" ")
      val wi = Iterator.continually(r.nextInt(ws.length - 1)).find(_ % 4 != 0).get
      ws(wi) = general(r.nextInt(general.length))
      lines(li) = ws.mkString(" ")
      k += 1
    }
    lines.mkString("\n")
  }

  private val sources = Array("web" -> 50, "news" -> 25, "forum" -> 15, "books" -> 10)
  def source(r: SplittableRandom): String = {
    var u = r.nextInt(100)
    sources.find { case (_, w) => u -= w; u < 0 }.get._1
  }

  /** A batch of raw pages with ids in [base, base + n): `junk` junk pages,
    * `dups` near-duplicates of earlier unique pages of the same batch, the
    * rest unique. Returns pages in id order and the planted pairs.
    */
  def batch(r: SplittableRandom, base: Long, n: Int, junk: Int, dups: Int,
      lines: Int): (IndexedSeq[Page], IndexedSeq[Planted]) = {
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((Seq.fill(junk)("junk") ++ Seq.fill(dups)("dup") ++
        Seq.fill(n - junk - dups)("unique")).toIndexedSeq)
    // a dup needs an earlier, not yet copied unique page: every dup slot
    // sits after at least one more unique slot than dup slots before it
    val fixed = {
      val out = kinds.toBuffer
      var freeU = 0
      var i = 0
      while (i < out.length) {
        if (out(i) == "unique") freeU += 1
        else if (out(i) == "dup") {
          if (freeU == 0) {
            val j = out.indexOf("unique", i)
            out(j) = "dup"; out(i) = "unique"; freeU += 1
          } else freeU -= 1
        }
        i += 1
      }
      out.toIndexedSeq
    }
    val pages = new scala.collection.mutable.ArrayBuffer[Page](n)
    val planted = new scala.collection.mutable.ArrayBuffer[Planted]
    val uniques = new scala.collection.mutable.ArrayBuffer[Page]
    fixed.zipWithIndex.foreach { case (k, i) =>
      val id = base + i
      val p = k match {
        case "junk" => Page(id, junkText(r, i), source(r), "junk")
        case "dup" =>
          // copy a unique page no other dup copies, so every planted
          // cluster is exactly one pair
          val o = uniques.remove(r.nextInt(uniques.size))
          planted += Planted(o.id, id)
          Page(id, nearDup(r, o.text), source(r), "dup")
        case _ =>
          val u = Page(id, goodText(r, r.nextInt(topics), lines), source(r), "unique")
          uniques += u
          u
      }
      pages += p
    }
    (pages.toIndexedSeq, planted.toIndexedSeq)
  }

  /** One random unit-norm centroid per topic. */
  def centroids(dim: Int): Array[Array[Double]] = {
    val r = fork(2)
    Array.fill(topics)(normalize(Array.fill(dim)(r.nextDouble() * 2 - 1)))
  }

  /** Unit-norm vector near `c`: uniform noise of width `noise` per dim. */
  def near(r: SplittableRandom, c: Array[Double], noise: Double): Array[Double] =
    normalize(c.map(x => x + (r.nextDouble() * 2 - 1) * noise))

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => x / n)
  }
}

/** Generated inputs land as JSON lines written without Spark; graft reads
  * them with an explicit schema.
  */
object Input {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.types._

  val pageSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType)))
  val vectorSchema: StructType = StructType(Seq(StructField("idx", LongType),
    StructField("feat", ArrayType(DoubleType))))

  def pages(path: String, ps: Seq[Page]): Unit =
    write(path, ps.map(p =>
      s"""{"doc_id":${p.id},"text":${Json.str(p.text)},"source":${Json.str(p.source)}}"""))

  def vectors(path: String, vs: Seq[(Long, Array[Double])]): Unit =
    write(path, vs.map { case (id, v) =>
      s"""{"idx":$id,"feat":[${v.map(Json.num).mkString(",")}]}""" })

  private def write(path: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("part-0.json"), lines.mkString("", "\n", "\n"))
  }

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}

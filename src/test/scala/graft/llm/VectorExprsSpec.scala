package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{transform => arrTransform, _}

/** Parity of the codegen'd vector kernels (cosine, squared-dists
  * assignment, simhash vote fold) against the exact relational HOF forms
  * they replaced — the forms the DuckDB oracles replay. Doubles must be
  * BIT-identical (same index-order IEEE folds), so comparisons use
  * exceptAll / collected equality, never tolerances.
  */
class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  private def hofCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0d), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private def hofSquaredDists(v: Column, cents: Seq[Seq[Double]]): Column =
    arrTransform(typedLit(cents), c =>
      aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
        lit(0d), (acc, vv) => acc + vv))

  private def hofSimhash(tokens: Column): Column = {
    val th = arrTransform(tokens, xxhash64(_))
    val zeros = typedLit(Seq.fill(64)(0L))
    val powers = typedLit(Seq.tabulate(64)(b => 1L << b))
    val votes = aggregate(th, zeros, (acc, h) =>
      zip_with(acc, powers,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  test("cosine matches the HOF form bit-for-bit on random double vectors") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map { i =>
      (i.toLong,
        Seq.fill(64)(rnd.nextDouble() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id", DedupOps.cosine($"a", $"b").as("c"))
    val want = df.select($"id", hofCosine($"a", $"b").as("c"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("cosine edge cases: nulls, length mismatch, zero vectors, floats") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, null, Seq[java.lang.Double](1.0, 1.0)),
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0)),
      (4L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0))
    ).toDF("id", "a", "b")
    val got = df.select($"id", DedupOps.cosine($"a", $"b").as("c"))
      .orderBy("id").collect().toSeq
    val want = df.select($"id", hofCosine($"a", $"b").as("c"))
      .orderBy("id").collect().toSeq
    assert(got == want)

    // zero-norm divisor: under ANSI (the Spark 4 default this suite runs
    // with) BOTH forms raise DIVIDE_BY_ZERO
    val z = Seq((5L, Seq[java.lang.Double](0.0, 0.0),
      Seq[java.lang.Double](1.0, 2.0))).toDF("id", "a", "b")
    val eGot = intercept[Exception] {
      z.select(DedupOps.cosine($"a", $"b")).collect()
    }
    val eWant = intercept[Exception] {
      z.select(hofCosine($"a", $"b")).collect()
    }
    assert(eGot.getMessage.contains("DIVIDE_BY_ZERO") ||
      eGot.getCause != null && eGot.getCause.getMessage.contains("DIVIDE_BY_ZERO"))
    assert(eWant.getMessage.contains("DIVIDE_BY_ZERO") ||
      eWant.getCause != null && eWant.getCause.getMessage.contains("DIVIDE_BY_ZERO"))

    // float inputs take the cast("double") path
    val f = Seq((1L, Seq(1.5f, 2.5f), Seq(0.5f, 4.5f)),
      (2L, Seq(0.1f, 0.2f), Seq(0.3f, 0.7f))).toDF("id", "a", "b")
    val gf = f.select($"id", DedupOps.cosine($"a", $"b").as("c"))
      .orderBy("id").collect().toSeq
    val wf = f.select($"id", hofCosine($"a", $"b").as("c"))
      .orderBy("id").collect().toSeq
    assert(gf == wf)
  }

  test("squaredDists matches the HOF form bit-for-bit incl. poisoning") {
    val cents = ClusterBalancedSamplePipe.formulaCentroids(16, 8)
    val rnd = new scala.util.Random(11)
    val good = (1 to 300).map(i =>
      (i.toLong, Seq.tabulate(8)(_ => rnd.nextDouble() * 2 - 1)
        .map(Double.box)))
    val edge = Seq(
      (900L, null),
      (901L, Seq[java.lang.Double](1.0, null, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (902L, Seq[java.lang.Double](1.0, 2.0)), // wrong length
      (903L, Seq.empty[java.lang.Double]))
    val df = (good ++ edge).toDF("id", "v")
    val got = df.select($"id",
      ClusterBalancedSamplePipe.squaredDists($"v", cents).as("d"))
      .orderBy("id").collect().toSeq
    val want = df.select($"id", hofSquaredDists($"v", cents).as("d"))
      .orderBy("id").collect().toSeq
    assert(got == want)
  }

  test("simhash64 matches the HOF vote fold exactly") {
    val rnd = new scala.util.Random(23)
    val texts = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(50)}"))
    } ++ Seq((900L, Seq.empty[String]), (901L, null))
    val df = texts.toDF("id", "toks")
    val got = df.select($"id", DedupOps.simhash64($"toks").as("s"))
      .orderBy("id").collect().toSeq
    val want = df.select($"id", hofSimhash($"toks").as("s"))
      .orderBy("id").collect().toSeq
    assert(got == want)
  }

  test("simhash64 with null token elements (otherwise-branch votes)") {
    val df = Seq((1L, Seq[String]("a", null, "b")), (2L, Seq[String](null)))
      .toDF("id", "toks")
    val got = df.select($"id", DedupOps.simhash64($"toks").as("s"))
      .orderBy("id").collect().toSeq
    val want = df.select($"id", hofSimhash($"toks").as("s"))
      .orderBy("id").collect().toSeq
    assert(got == want)
  }

  private def bits(v: Any): Any = graft.search.HofForms.bits(v)

  private def bothModes(f: => Unit): Unit = graft.search.HofForms.bothModes(spark)(f)

  test("dot kernel matches the HOF form bit-for-bit: nulls, lengths, floats, ints") {
    import graft.search.{HofForms, SearchEngine}
    val rnd = new scala.util.Random(5)
    def v(n: Int): Seq[java.lang.Double] = Seq.fill(n)(Double.box(rnd.nextDouble() * 2 - 1))
    val rows = (1 to 300).map(i => (i.toLong, v(16), v(16))) ++ Seq(
      (900L, null, v(3)),
      (901L, v(3), null),
      (902L, Seq[java.lang.Double](1.0, null, 2.0), v(3)),
      (903L, v(4), v(3)), // length mismatch
      (904L, Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]),
      (905L, Seq[java.lang.Double](-0.0, 0.0), Seq[java.lang.Double](1.0, 1.0)),
      (906L, Seq[java.lang.Double](Double.NaN, 1.0), Seq[java.lang.Double](1.0, 2.0)),
      (907L, Seq[java.lang.Double](Double.PositiveInfinity), Seq[java.lang.Double](0.0)))
    val df = rows.toDF("id", "a", "b")
    bothModes {
      val got = df.select($"id", SearchEngine.dot($"a", $"b").as("d")).orderBy("id")
        .collect().map(bits).toSeq
      val want = df.select($"id", HofForms.dot($"a", $"b").as("d")).orderBy("id")
        .collect().map(bits).toSeq
      assert(got == want)
    }
    // float x double, and the SQ shape: double table x int codes
    val mixed = Seq((1L, Seq(0.1f, 0.7f, -2.5f), Seq(3, 0, 255), Seq(0.3, 0.9, 1.1)),
      (2L, Seq(1e-8f, 3.3f, 0f), Seq(1, 2, 3), Seq(-0.0, 2.0, 4.0)))
      .toDF("id", "f", "i", "d")
    bothModes {
      Seq(($"f", $"d"), ($"d", $"i"), ($"f", $"i")).foreach { case (a, b) =>
        val got = mixed.select($"id", SearchEngine.dot(a, b)).orderBy("id").collect().map(bits).toSeq
        val want = mixed.select($"id", HofForms.dot(a, b)).orderBy("id").collect().map(bits).toSeq
        assert(got == want)
      }
    }
  }

  test("ADC table kernel matches the HOF form bit-for-bit incl. poisoning") {
    import graft.search.{HofForms, PQDenseEngine}
    import org.apache.spark.sql.graft.{AdcTableExpr, ColumnBridge}
    val rnd = new scala.util.Random(17)
    val books = PQDenseEngine.formulaCodebooks(2, 16, 4) :+
      Seq.fill(8)(Seq.fill(4)(rnd.nextGaussian()))
    def v(n: Int): Seq[java.lang.Double] = Seq.fill(n)(Double.box(rnd.nextGaussian()))
    val rows = (1 to 200).map(i => (i.toLong, v(8))) ++ Seq(
      (900L, null),
      (901L, Seq[java.lang.Double](1.0, null, 0.5, 0.25, 1.0, 2.0, 3.0, 4.0)), // null in slice 0 only
      (902L, v(6)), // slice 1 comes out short
      (903L, v(10)), // longer than the index: slices still full
      (904L, Seq.empty[java.lang.Double]),
      (905L, Seq[java.lang.Double](-0.0, -0.0, -0.0, -0.0, 0.0, 0.0, 0.0, 0.0)))
    val df = rows.toDF("id", "v")
      .withColumn("f", $"v".cast("array<float>"))
    def kernel(c: Column, book: Seq[Seq[Double]], offset: Int): Column =
      ColumnBridge.column(AdcTableExpr(ColumnBridge.expression(c),
        book.map(_.toArray).toArray, offset))
    bothModes {
      for (book <- books; offset <- Seq(0, 4); vc <- Seq($"v", $"f")) {
        val got = df.select($"id", kernel(vc, book, offset)).orderBy("id")
          .collect().map(bits).toSeq
        val want = df.select($"id", HofForms.adcTable(vc, book, offset)).orderBy("id")
          .collect().map(bits).toSeq
        assert(got == want, s"offset $offset")
      }
    }
  }
}

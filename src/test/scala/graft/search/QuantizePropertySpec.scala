package graft.search

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AdcTableExpr, ColumnBridge, SquaredDistsExpr}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties of the build side's per-row kernels ([[Quantize]]): each
  * equals the higher-order form it replaced ([[HofForms]]) bit for bit,
  * generated and interpreted; and the rows an ingest commits
  * ([[IVFPQDenseEngine.quantized]], one projection) carry exactly the
  * cell and codes the added engine's `taggedOwn` and `codesOwn` hold.
  * Generated vectors sit on a coarse grid, so distances tie often, and
  * include null vectors, null elements, other widths and float arrays.
  */
class QuantizePropertySpec extends SparkSpec {

  private def vec(dim: Int): Gen[Seq[Double]] =
    Gen.listOfN(dim, Gen.choose(-4, 4).map(_ * 0.25))

  /** A vector of width `dim`, or an edge row: null, a null element, or
    * one element short or long.
    */
  private def edgeVec(dim: Int): Gen[Option[Seq[Option[Double]]]] = Gen.frequency(
    8 -> vec(dim).map(v => Some(v.map(Some(_)))),
    1 -> Gen.const(None),
    1 -> vec(dim).map(v => Some(v.map(Some(_)).updated(0, None))),
    1 -> Gen.oneOf(dim - 1, dim + 1).flatMap(vec).map(v => Some(v.map(Some(_)))))

  private case class KernelCase(dim: Int, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], rows: Seq[Option[Seq[Option[Double]]]], float: Boolean)

  private val genKernelCase: Gen[KernelCase] = for {
    dim <- Gen.oneOf(1, 2, 4, 6)
    m <- Gen.oneOf(Seq(1, 2, 3).filter(dim % _ == 0))
    k <- Gen.choose(1, 6)
    ks <- Gen.choose(1, 5)
    cents <- Gen.listOfN(k, vec(dim))
    books <- Gen.listOfN(m, Gen.listOfN(ks, vec(dim / m)))
    n <- Gen.choose(0, 12)
    rows <- Gen.listOfN(n, edgeVec(dim))
    float <- Gen.oneOf(false, true)
  } yield KernelCase(dim, cents, books, rows, float)

  private def bitsOf(df: DataFrame): Seq[Any] =
    df.collect().toSeq.map(r => HofForms.bits(r))

  test("plan fingerprints tell centroid and codebook tables apart, and agree on equal ones") {
    val df = spark.range(2).select(array(col("id").cast("double"), lit(1d)).as("v"))
    def dists(c: Seq[Seq[Double]]) = df.select(ColumnBridge.column(
      SquaredDistsExpr(ColumnBridge.expression(col("v")), c.map(_.toArray).toArray)).as("d"))
    def table(b: Seq[Seq[Double]]) = df.select(ColumnBridge.column(
      AdcTableExpr(ColumnBridge.expression(col("v")), b.map(_.toArray).toArray, 0)).as("t"))
    val a = Seq(Seq(0d, 1d), Seq(2d, 3d))
    val b = Seq(Seq(0d, 1d), Seq(2d, 4d))
    def fp(d: DataFrame) = graft.pipes.DatasetFingerprint.of(d)
    assert(fp(dists(a)) != fp(dists(b)), "different centroid rows must not alias")
    assert(fp(dists(a)) == fp(dists(a.map(_.map(identity)))), "equal tables, equal keys")
    assert(fp(table(a)) != fp(table(b)), "different codebooks must not alias")
    assert(fp(table(a)) == fp(table(a.map(_.map(identity)))), "equal tables, equal keys")
    assert(dists(a).queryExecution.analyzed.sameResult(dists(a.map(_.map(identity))).queryExecution.analyzed))
  }

  test("tag, residual and encode kernels equal their higher-order forms (100 generated cases)") {
    val cases = (0 until 100).flatMap(i => genKernelCase(Gen.Parameters.default, Seed(1100L + i)))
    assert(cases.size == 100)
    assert(cases.exists(_.rows.contains(None)) && cases.exists(_.float))
    cases.zipWithIndex.foreach { case (c, i) =>
      val et = if (c.float) FloatType else DoubleType
      val data: Seq[Row] = c.rows.map(r => Row(r.map(_.map(_.map[Any](d =>
        if (c.float) d.toFloat else d).orNull)).orNull))
      val df = spark.createDataFrame(java.util.Arrays.asList(data: _*),
        StructType(Seq(StructField("v", ArrayType(et)))))
      val v = col("v")
      // the residual of each row's own cell, by the oracle's tag
      val cid = HofForms.nearest(v, c.cents)
      val kernel = df.select(Quantize.nearest(v, c.cents) +:
        Quantize.residual(v, cid, c.cents) +: Quantize.codes(v, c.books): _*)
      val oracle = df.select(HofForms.nearest(v, c.cents) +:
        HofForms.residual(v, element_at(typedLit(c.cents), cid + 1)) +:
        HofForms.codes(v, c.books): _*)
      HofForms.bothModes(spark) {
        assert(bitsOf(kernel) == bitsOf(oracle), s"case $i: $c")
      }
    }
  }

  private case class AddCase(residual: Boolean, dim: Int, m: Int,
      cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      base: Seq[Seq[Double]], batch: Seq[Option[Seq[Option[Double]]]])

  private val genAddCase: Gen[AddCase] = for {
    residual <- Gen.frequency(3 -> true, 1 -> false)
    dim <- Gen.oneOf(2, 4, 6)
    m <- Gen.oneOf(Seq(1, 2, 3).filter(dim % _ == 0))
    nlist <- Gen.choose(1, 5)
    ks <- Gen.choose(1, 6)
    cents <- Gen.listOfN(nlist, vec(dim))
    books <- Gen.listOfN(m, Gen.listOfN(ks, vec(dim / m)))
    nb <- Gen.choose(1, 10)
    base <- Gen.listOfN(nb, vec(dim))
    n <- Gen.choose(0, 12)
    // a width the PQ encode rejects fails both forms alike: keep widths
    // right without residuals, where a wrong one raises
    batch <- Gen.listOfN(n, if (residual) edgeVec(dim) else Gen.frequency(
      6 -> vec(dim).map(v => Some(v.map(Some(_)))), 1 -> Gen.const(None),
      1 -> vec(dim).map(v => Some(v.map(Some(_)).updated(0, None)))))
  } yield AddCase(residual, dim, m, cents, books, base, batch)

  test("commit rows from one projection equal the added engine's tagged and codes state (100 generated cases)") {
    val cases = (0 until 100).flatMap(i => genAddCase(Gen.Parameters.default, Seed(1300L + i)))
    assert(cases.size == 100)
    assert(cases.exists(!_.residual) && cases.exists(_.batch.contains(None)))
    val schema = StructType(Seq(StructField("idx", LongType), StructField("vector", ArrayType(DoubleType))))
    cases.zipWithIndex.foreach { case (c, i) =>
      def frame(vs: Seq[Option[Seq[Option[Double]]]], from: Long) = spark.createDataFrame(
        java.util.Arrays.asList(vs.zipWithIndex.map { case (v, j) =>
          Row(from + j, v.map(_.map(_.map(Double.box).orNull)).orNull) }: _*), schema)
      val base = IVFPQDenseEngine(frame(c.base.map(v => Some(v.map(Some(_)))), 0L),
        nlist = c.cents.size, nprobe = c.cents.size, m = c.m, codebookSize = c.books.head.size,
        config = SearchConfig(k = 3, fillMaskedIndices = false), residual = c.residual,
        fixedCentroids = Some(c.cents), fixedCodebooks = Some(c.books))
      val batch = frame(c.batch, 100L)
      val added = base.addVectors(batch)
      val codes = (0 until c.m).map(j => col(s"__c$j"))
      val got = added.quantized(batch, col("vector")).select(col("idx") +: col("cid") +: codes: _*)
      val want = added.ivf.taggedOwn.select("idx", "cid")
        .join(added.pq.codesOwn, Seq("idx")).select(col("idx") +: col("cid") +: codes: _*)
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows(got) == rows(want), s"case $i: $c")
    }
  }
}

package graft.search

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties of the [[Lloyd]] quantizer trainer over seeded generated
  * corpora: partition- and order-independence (bit for bit), seed
  * determinism, the bounded hash-chosen sample, degenerate inputs, and
  * inertia against `spark.ml` KMeans as the yardstick.
  */
class LloydSpec extends SparkSpec {
  import spark.implicits._

  private def cases[T](n: Int, gen: Gen[T]): Seq[T] = {
    val out = (0 until n).flatMap(i => gen(Gen.Parameters.default, Seed(i.toLong)))
    assert(out.size == n, "generator should not fail")
    out
  }

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("idx", "vector")

  private def fit(df: DataFrame, k: Int, seed: Long): Seq[Seq[Double]] =
    Lloyd.train(Lloyd.sample(df, col("idx"), col("vector"), k, seed), k, seed)
      .map(_.toSeq).toSeq

  private def bits(c: Seq[Seq[Double]]) =
    c.map(_.map(java.lang.Double.doubleToRawLongBits))

  /** Points near `k` random centres, with a few exact repeats. */
  private val genCorpus: Gen[(Seq[(Long, Array[Double])], Int, Long)] = for {
    n <- Gen.choose(1, 300)
    d <- Gen.choose(1, 6)
    k <- Gen.choose(1, 9)
    seed <- Gen.choose(0L, 1000L)
    pts <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-5.0, 5.0)))
  } yield (pts.zipWithIndex.map { case (p, i) =>
    ((i * 7919L) % 100003L, (if (i % 10 == 9) pts.head else p).toArray) }, k, seed)

  test("centres are bit-identical for 1 vs 8 partitions and shuffled rows, per seed") {
    cases(100, genCorpus).foreach { case (rows, k, seed) =>
      val one = fit(frame(rows).repartition(1), k, seed)
      val eight = fit(frame(new scala.util.Random(seed).shuffle(rows)).repartition(8), k, seed)
      assert(one.size == k && one.forall(_.size == rows.head._2.length))
      assert(bits(one) == bits(eight), s"k=$k seed=$seed n=${rows.size}")
      assert(bits(fit(frame(rows), k, seed)) == bits(one),
        "the same seed must give the same centres")
    }
  }

  test("the sample is exactly min(n, 256k) rows with the smallest idx hash, in idx order") {
    val gen = for {
      n <- Gen.choose(1, 1200)
      k <- Gen.choose(1, 4)
      seed <- Gen.choose(-50L, 50L)
    } yield (n, k, seed)
    cases(100, gen).foreach { case (n, k, seed) =>
      val ids = (0 until n).map(i => i * 31L - 500L)
      val got = Lloyd.sample(frame(ids.map(i => (i, Array(i.toDouble)))),
        col("idx"), col("vector"), k, seed).map(_.head.toLong).toSeq
      val cap = math.min(n, Lloyd.MaxPointsPerCentroid * k)
      // xxhash64(idx, seed): Spark's seed-42 chain over the two columns
      val want = ids.sortBy(i => (XXH64.hashLong(seed, XXH64.hashLong(i, 42L)), i))
        .take(cap).sorted
      assert(got == want, s"n=$n k=$k seed=$seed")
    }
  }

  /** Plain Lloyd: every pass scans every centre, lowest index on ties. */
  private def plainLloyd(x: Array[Double], d: Int, init: Array[Double]): Array[Double] = {
    val (n, k, cents) = (x.length / d, init.length / d, init.clone())
    def dist(i: Int, c: Int) = (0 until d).foldLeft(0d) { (s, t) =>
      val v = x(i * d + t) - cents(c * d + t); s + v * v }
    var assign = Array.fill(n)(-1)
    var (changed, iter) = (true, 0)
    while (changed && iter < Lloyd.MaxIter) {
      val next = Array.tabulate(n)(i => (0 until k).minBy(dist(i, _)))
      changed = !next.sameElements(assign)
      assign = next
      if (changed) {
        val (sums, counts) = (new Array[Double](k * d), new Array[Int](k))
        for (i <- 0 until n; t <- 0 until d) sums(assign(i) * d + t) += x(i * d + t)
        assign.foreach(c => counts(c) += 1)
        for (c <- 0 until k if counts(c) > 0; t <- 0 until d)
          cents(c * d + t) = sums(c * d + t) / counts(c)
      }
      iter += 1
    }
    cents
  }

  test("the pruned Lloyd passes give the plain full-scan result, bit for bit") {
    val gen = for {
      n <- Gen.choose(1, 400)
      d <- Gen.choose(1, 6)
      k <- Gen.choose(1, 13)
      spread <- Gen.oneOf(0.2, 1.0, 5.0)
      pts <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-5.0, 5.0)))
      picks <- Gen.listOfN(k, Gen.choose(0, n - 1))
    } yield {
      // clustered around the first points, with exact repeats and
      // repeated initial centres to exercise ties
      val x = pts.zipWithIndex.flatMap { case (p, i) =>
        if (i % 7 == 6) pts.head else p.zip(pts(i % 5)).map { case (a, b) => b + a * spread / 5 }
      }.toArray
      (x, d, picks.flatMap(j => x.slice(j * d, (j + 1) * d)).toArray)
    }
    cases(100, gen).foreach { case (x, d, init) =>
      val want = plainLloyd(x, d, init)
      val got = Lloyd.iterate(x, d, init.clone())
      assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        want.map(java.lang.Double.doubleToRawLongBits).toSeq,
        s"n=${x.length / d} d=$d k=${init.length / d}")
    }
  }

  test("degenerate inputs: n < k, all-equal points, all-zero corpus, empty corpus") {
    val gen = for {
      kind <- Gen.choose(0, 2)
      n <- Gen.choose(1, 12)
      d <- Gen.choose(1, 8)
      k <- Gen.choose(1, 16)
      p <- Gen.listOfN(d, Gen.choose(-3.0, 3.0))
      pts <- Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-3.0, 3.0)))
      seed <- Gen.choose(0L, 99L)
    } yield kind match {
      case 0 => (pts.map(_.toArray).toArray, k.max(n + 1), seed) // n < k
      case 1 => (Array.fill(n)(p.toArray), k, seed) // all equal
      case _ => (Array.fill(n)(Array.fill(d)(0.0)), k, seed) // all zero
    }
    cases(120, gen).foreach { case (pts, k, seed) =>
      val cents = Lloyd.train(pts.map(_.clone()), k, seed)
      assert(cents.length == k)
      // every centre is an input point: k-means++ draws points, and a
      // cluster mean over identical points is that point (up to the
      // rounding of sum / count)
      assert(cents.forall(c => pts.exists(p => p.indices.forall(t =>
        math.abs(p(t) - c(t)) <= 1e-12 * math.max(1.0, math.abs(p(t)))))),
        s"k=$k n=${pts.length}")
      if (pts.length < k) assert(Lloyd.inertia(pts, cents) < 1e-18)
    }
    // a zeroed corpus, built as in EngineStateSpec, trains zero centres
    val zeroed = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").as("idx"),
        transform(col("embedding"), _ => lit(0.0f)).as("vector"))
    assert(fit(zeroed, 10, 42L).flatten.forall(_ == 0.0))
    intercept[IllegalArgumentException](fit(zeroed.limit(0), 4, 42L))
  }

  test("inertia is within 2% of spark.ml KMeans on clustered data") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val gen = for {
      k <- Gen.choose(2, 8)
      d <- Gen.choose(2, 8)
      centres <- Gen.listOfN(k, Gen.listOfN(d, Gen.choose(-10.0, 10.0)))
      sizes <- Gen.listOfN(k, Gen.choose(10, 40))
      seed <- Gen.choose(0L, 1000L)
    } yield (k, centres, sizes, seed)
    cases(100, gen).foreach { case (k, centres, sizes, seed) =>
      val r = new scala.util.Random(seed)
      val pts = centres.zip(sizes).flatMap { case (c, s) =>
        Seq.fill(s)(c.map(_ + r.nextGaussian() * 0.5).toArray) }.toArray
      val df = frame(pts.indices.map(i => (i.toLong, pts(i)))).cache()
      val ours = fit(df, k, seed).map(_.toArray).toArray
      val ml = new KMeans().setK(k).setSeed(seed).setMaxIter(20)
        .fit(df.select(array_to_vector(col("vector")).as("features")))
        .clusterCenters.map(_.toArray)
      df.unpersist()
      val (a, b) = (Lloyd.inertia(pts, ours), Lloyd.inertia(pts, ml))
      assert(a <= 1.02 * b, s"k=$k seed=$seed: lloyd $a vs spark.ml $b")
    }
  }
}

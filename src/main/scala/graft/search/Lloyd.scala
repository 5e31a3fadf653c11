package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The k-means trainer behind the PQ codebooks ([[PQDenseEngine]], and
  * so the fine quantizer of [[IVFPQDenseEngine]]) — FAISS's host-side
  * `Clustering` (warp_pipes/search/vector_base/utils/faiss.py:204-244)
  * with its defaults as fixed constants:
  *
  *   - one Spark job collects a bounded sample: at most
  *     [[MaxPointsPerCentroid]]·k rows (FAISS `max_points_per_centroid`),
  *     the ones with the smallest `xxhash64(idx, seed)`, then sorted by
  *     idx on the driver — so the sample, and everything trained from it,
  *     is independent of partitioning and row order;
  *   - greedy k-means++ seeding, then Lloyd iterations until no assignment
  *     changes or [[MaxIter]] pass (FAISS `niter`); an empty cluster keeps
  *     its previous centre;
  *   - the lowest-inertia result of [[Restarts]] seeded restarts (FAISS
  *     `nredo`).
  *
  * Driver memory is bounded by config, not data: the sample holds at most
  * `MaxPointsPerCentroid · k · d` doubles (16 MB at k = 64, d = 128) —
  * the same argument [[IVFDenseEngine.addVectors]] makes when it collects
  * the centroids. Driver time scales with s·k·d, where
  * s = min(n, MaxPointsPerCentroid·k): per restart, seeding scores
  * (2 + ln k) candidates per centre against all s points, and each of
  * up to [[MaxIter]] passes scans all k centres for the points that
  * Hamerly's bounds cannot settle. The passes run on the driver's cores
  * (restarts and fixed chunks of points as fork-join tasks; the PQ
  * subspaces train in parallel too). Measured on a 4-core host, PQ
  * with m = 8, k = 256 over 65,536 rows of d = 64 (s = 65,536, the
  * largest sample at k = 256) trains in 28–33 s, where the distributed
  * `spark.ml` KMeans fit it replaced took 37–51 s; the benchmark's
  * `qa_serve` IVF-PQ build (books m = 2, k = 64) drops from 10.5 s to
  * 4.9–5.7 s. The cost grows with k² at full sample, so a coarse
  * quantizer with thousands of lists would want a sample cap below 256
  * per centre.
  * Always returns exactly k centres; with fewer than k distinct points
  * some repeat (argmin-L2 encoding breaks ties to the lowest code, so
  * the repeats stay unused).
  */
object Lloyd {
  val MaxPointsPerCentroid = 256
  val MaxIter = 25
  val Restarts = 3

  /** The training sample of `(idx, vector)` rows as driver-side doubles,
    * in idx order (ties, i.e. repeated idx values, by vector).
    */
  def sample(df: DataFrame, idx: Column, vec: Column, k: Int,
      seed: Long): Array[Array[Double]] = {
    val ord = Ordering.Tuple2(Ordering.Long,
      Ordering.Implicits.seqOrdering[Seq, Double](Ordering.Double.TotalOrdering))
    df.select(idx.cast("long").as("i"), transform(vec, _.cast("double")).as("v"))
      .filter(col("i").isNotNull && col("v").isNotNull)
      .orderBy(xxhash64(col("i"), lit(seed)), col("i"), col("v"))
      .limit(MaxPointsPerCentroid * k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sorted(ord)
      .map(_._2.toArray)
  }

  /** k centres over `points` — deterministic in (points, k, seed). */
  def train(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train a quantizer on an empty corpus")
    val d = points.head.length
    require(k > 0 && d > 0 && points.forall(_.length == d),
      "k-means needs k > 0 and non-empty vectors of one dimension")
    val x = points.flatten
    val rng = new java.util.SplittableRandom(seed)
    val rngs = Seq.fill(Restarts)(rng.split())
    val runs = parallel(Restarts)(r => iterate(x, d, seedPlusPlus(x, d, k, rngs(r))))
    // first of equals: the earliest restart
    runs.minBy(inertia(x, d, _)).grouped(d).toArray
  }

  /** Sum of squared L2 distances from each point to its nearest centre. */
  def inertia(points: Array[Array[Double]], cents: Array[Array[Double]]): Double =
    inertia(points.flatten, points.head.length, cents.flatten)

  // Points and centres below are flat row-major arrays of dimension d:
  // row i is x(i·d until (i+1)·d).

  private def inertia(x: Array[Double], d: Int, cents: Array[Double]): Double = {
    val (d2, bounds) = (new Array[Double](x.length / d), new Array[Double](x.length / d))
    inChunks(d2.length) { i =>
      d2(i) = sq(x, i, cents, nearest(x, i, d, cents, bounds, bounds), d) }
    sum(d2, 0, d2.length)
  }

  /** Greedy k-means++ (Arthur & Vassilvitskii 2007, with the
    * 2 + ln k local trials of scikit-learn's default): each next centre
    * is the best, by resulting inertia, of several points drawn with
    * probability proportional to their squared distance to the nearest
    * chosen centre (uniform when every point coincides with a centre).
    * The trials of one centre share a single pass over the points.
    */
  private def seedPlusPlus(x: Array[Double], d: Int, k: Int,
      rng: java.util.SplittableRandom): Array[Double] = {
    val n = x.length / d
    val trials = 2 + math.log(k).toInt
    val cents = new Array[Double](k * d)
    System.arraycopy(x, rng.nextInt(n) * d, cents, 0, d)
    val d2 = new Array[Double](n)
    inChunks(n) { j => d2(j) = sq(x, j, cents, 0, d) }
    var parts = chunkSums(d2)
    val nd2 = Array.ofDim[Double](trials, n)
    for (c <- 1 until k) {
      val cand = Array.fill(trials)(draw(d2, parts, rng))
      inChunks(n) { j =>
        var t = 0
        while (t < trials) {
          nd2(t)(j) = math.min(d2(j), sq(x, j, x, cand(t), d, d2(j)))
          t += 1
        }
      }
      val candParts = nd2.map(chunkSums)
      // first of equals: the earliest draw
      val best = candParts.indices.minBy(t => sum(candParts(t), 0, candParts(t).length))
      System.arraycopy(x, cand(best) * d, cents, c * d, d)
      System.arraycopy(nd2(best), 0, d2, 0, n)
      parts = candParts(best)
    }
    cents
  }

  /** Index i drawn with probability d2(i) / sum(d2), uniform when all are
    * 0. `parts` are d2's per-chunk sums, which locate the chunk first.
    */
  private def draw(d2: Array[Double], parts: Array[Double],
      rng: java.util.SplittableRandom): Int = {
    val total = sum(parts, 0, parts.length)
    if (!(total > 0)) return rng.nextInt(d2.length)
    var r = rng.nextDouble() * total
    var ch = 0
    while (ch < parts.length - 1 && r >= parts(ch)) { r -= parts(ch); ch += 1 }
    var i = ch * Chunk
    val end = math.min(d2.length, i + Chunk)
    while (i < end - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
    i
  }

  /** Lloyd iterations from `cents` (updated in place and returned), with
    * Hamerly's bounds (SDM 2010) so most points skip the k-centre scan:
    * `upper(i)` bounds the distance to the assigned centre from above,
    * `lower(i)` the distance to every other centre from below. A point
    * whose upper bound is below both its lower bound and half the gap
    * from its centre to the nearest other centre cannot change centre.
    * The skip tests keep a 1e-9 relative margin for rounding, so the
    * assignments are the plain full scan's.
    */
  private[search] def iterate(x: Array[Double], d: Int,
      cents: Array[Double]): Array[Double] = {
    val (n, k) = (x.length / d, cents.length / d)
    val assign = new Array[Int](n)
    val upper = new Array[Double](n)
    val lower = new Array[Double](n)
    inChunks(n) { i => assign(i) = nearest(x, i, d, cents, upper, lower) }
    var changed = true
    var iter = 1 // assignment passes so far; each is followed by an update
    while (changed) {
      val old = cents.clone()
      val sums = new Array[Double](k * d)
      val counts = new Array[Int](k)
      for (i <- 0 until n) {
        val c = assign(i)
        counts(c) += 1
        var t = 0
        while (t < d) { sums(c * d + t) += x(i * d + t); t += 1 }
      }
      for (c <- 0 until k if counts(c) > 0; t <- 0 until d)
        cents(c * d + t) = sums(c * d + t) / counts(c)
      val drift = Array.tabulate(k)(c => math.sqrt(sq(old, c, cents, c, d)))
      val maxDrift = drift.max
      val halfGap = Array.tabulate(k) { c =>
        var gap = Double.PositiveInfinity
        for (o <- 0 until k if o != c) gap = math.min(gap, sq(cents, c, cents, o, d))
        math.sqrt(gap) / 2
      }
      val moved = new java.util.concurrent.atomic.AtomicBoolean(false)
      if (iter < MaxIter) inChunks(n) { i =>
        val a = assign(i)
        upper(i) += drift(a)
        lower(i) -= maxDrift
        val z = math.max(halfGap(a), lower(i)) * (1 - 1e-9)
        if (upper(i) > z) {
          upper(i) = math.sqrt(sq(x, i, cents, a, d))
          if (upper(i) > z) {
            assign(i) = nearest(x, i, d, cents, upper, lower)
            if (assign(i) != a) moved.set(true)
          }
        }
      }
      changed = moved.get
      iter += 1
    }
    cents
  }

  /** Argmin squared L2 from point i, lowest index on ties — the
    * tagging/encoding rule. Also sets upper(i) and lower(i) to the
    * distances to the nearest and the second-nearest centre. Four
    * centres are scanned at once, as four independent sums, each still
    * in dimension order, so every distance is bit-identical to [[sq]].
    */
  private def nearest(x: Array[Double], i: Int, d: Int, cents: Array[Double],
      upper: Array[Double], lower: Array[Double]): Int = {
    val k = cents.length / d
    val o = i * d
    var best = 0
    var bestD = Double.PositiveInfinity
    var nextD = Double.PositiveInfinity
    @inline def offer(c: Int, s: Double): Unit =
      if (s < bestD) { nextD = bestD; best = c; bestD = s }
      else if (s < nextD) nextD = s
    var c = 0
    while (c + 4 <= k) {
      val b0 = c * d
      val b1 = b0 + d
      val b2 = b1 + d
      val b3 = b2 + d
      var s0 = 0d
      var s1 = 0d
      var s2 = 0d
      var s3 = 0d
      var t = 0
      while (t < d) {
        val p = x(o + t)
        val v0 = p - cents(b0 + t)
        val v1 = p - cents(b1 + t)
        val v2 = p - cents(b2 + t)
        val v3 = p - cents(b3 + t)
        s0 += v0 * v0
        s1 += v1 * v1
        s2 += v2 * v2
        s3 += v3 * v3
        t += 1
      }
      offer(c, s0)
      offer(c + 1, s1)
      offer(c + 2, s2)
      offer(c + 3, s3)
      c += 4
    }
    while (c < k) { offer(c, sq(x, i, cents, c, d)); c += 1 }
    upper(i) = math.sqrt(bestD)
    lower(i) = math.sqrt(nextD)
    best
  }

  /** Squared L2 between row i of `x` and row j of `y`. Stops early, with
    * a partial sum above `bound`, once the sum exceeds `bound`.
    */
  private def sq(x: Array[Double], i: Int, y: Array[Double], j: Int, d: Int,
      bound: Double = Double.PositiveInfinity): Double = {
    var s = 0d
    var t = 0
    while (t < d && s <= bound) { val v = x(i * d + t) - y(j * d + t); s += v * v; t += 1 }
    s
  }

  private val Chunk = 1024

  /** Sums of `a` over each chunk of [[inChunks]], each in index order. */
  private def chunkSums(a: Array[Double]): Array[Double] =
    Array.tabulate((a.length + Chunk - 1) / Chunk)(ch =>
      sum(a, ch * Chunk, math.min(a.length, (ch + 1) * Chunk)))

  /** a(from) + ... + a(until - 1) in index order (`Array.sum` boxes). */
  private def sum(a: Array[Double], from: Int, until: Int): Double = {
    var s = 0d
    var i = from
    while (i < until) { s += a(i); i += 1 }
    s
  }

  /** `f(0) .. f(n - 1)` as tasks on the common fork-join pool, in order. */
  private[search] def parallel[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  /** `f(i)` for every i in [0, n), fixed chunks spread over the common
    * fork-join pool. Callers write only slot i of their own arrays and
    * reduce afterwards in index order, so results do not depend on the
    * thread count.
    */
  private def inChunks(n: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, (n + Chunk - 1) / Chunk).parallel()
      .forEach { ch =>
        var i = ch * Chunk
        val end = math.min(n, i + Chunk)
        while (i < end) { f(i); i += 1 }
      }
}

package graft.streaming

import graft.SparkSpec
import graft.operators.UpsertMerge
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: one [[PartitionedUpsert.applyBatch]] over a key-partitioned
  * table reads the same as [[UpsertMerge]] over the same rows kept flat,
  * and leaves every partition the batch does not touch at its old
  * version. Generated tables (empty to 24 rows, 1 to 8 partitions) and
  * batches of inserts, updates and deletes whose keys sit in one
  * partition, spread over many, empty a partition, or are absent (an
  * empty batch).
  */
class PartitionedUpsertPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Case(n: Int, base: Seq[(Long, Int)],
      batch: Seq[(Long, Int, Boolean)])

  /** Spark's `pmod(xxhash64(k), n)` on the driver (seed 42, as
    * `functions.xxhash64`).
    */
  private def part(k: Long, n: Int): Int =
    java.lang.Math.floorMod(XXH64.hashLong(k, 42L), n.toLong).toInt

  private val genCase: Gen[Case] = for {
    n <- Gen.oneOf(1, 2, 3, 8)
    baseKeys <- Gen.choose(0, 24).flatMap(Gen.pick(_, 0L until 40L))
    base <- Gen.sequence[Seq[(Long, Int)], (Long, Int)](
      baseKeys.sorted.map(k => Gen.choose(0, 99).map(v => (k, v))))
    // "purge" deletes every base row of one partition, emptying it
    spread <- Gen.oneOf("one", "many", "purge", "empty")
    target <- Gen.oneOf((if (spread == "purge" && base.nonEmpty) base.map(_._1)
      else 0L until 48L).map(part(_, n)).distinct)
    // keys 0..47: those in the base become updates or deletes, the rest
    // inserts (or deletes of a missing key, which change nothing)
    pool = (0L until 48L).filter(k => spread != "one" || part(k, n) == target)
    size <- Gen.choose(1, math.min(12, pool.size))
    keys <- Gen.pick(size, pool)
    batch <- Gen.sequence[Seq[(Long, Int, Boolean)], (Long, Int, Boolean)](
      keys.sorted.map(k => for {
        v <- Gen.choose(100, 199)
        del <- Gen.frequency(3 -> false, 1 -> true)
      } yield (k, v, del)))
  } yield Case(n, base, spread match {
    case "empty" => Nil
    case "purge" =>
      base.collect { case (k, v) if part(k, n) == target => (k, v, true) } ++
        batch.filter(b => part(b._1, n) != target)
    case _ => batch
  })

  /** The partitions that hold rows after the merge (plain Scala). */
  private def live(c: Case): Set[Int] = {
    val (dels, ups) = c.batch.partition(_._3)
    ((c.base.map(_._1).toSet -- dels.map(_._1)) ++ ups.map(_._1)).map(part(_, c.n))
  }

  test("applyBatch equals UpsertMerge over the flat table (100 generated cases)") {
    val cases = (0 until 100).flatMap(i =>
      genCase(Gen.Parameters.default, Seed(600L + i)))
    assert(cases.size == 100, "generator should not fail")
    // every shape the property promises is among the cases
    assert(cases.exists(_.batch.isEmpty) && cases.exists(_.base.isEmpty))
    assert(cases.exists(c => c.batch.map(b => part(b._1, c.n)).distinct.size == 1))
    assert(cases.exists(c => c.batch.map(b => part(b._1, c.n)).distinct.size > 1))
    assert(cases.exists(_.batch.exists(_._3)))
    assert(cases.exists(c => c.batch.exists(b => c.base.exists(_._1 == b._1))))
    assert(cases.exists(c => !c.base.map(b => part(b._1, c.n)).toSet.subsetOf(live(c))))
    cases.zipWithIndex.foreach { case (c, i) =>
      val dir = java.nio.file.Files.createTempDirectory("pups-prop").toString
      val base = c.base.toDF("k", "v")
      val batch = c.batch.toDF("k", "v", "del")
      PartitionedUpsert.seed(base, s"$dir/t", Seq("k"), c.n)
      val before = PartitionedUpsert.readManifest(spark, s"$dir/t").get
      PartitionedUpsert.applyBatch(batch, 0L, s"$dir/t", Seq("k"), Some("del"))
      val got = PartitionedUpsert.latest(spark, s"$dir/t")
        .map(_.as[(Long, Int)].collect().toSeq.sorted).getOrElse(Nil)
      val want = UpsertMerge(base, batch, Seq("k"), Some("del"))
        .as[(Long, Int)].collect().toSeq.sorted
      assert(got == want, s"case $i: $c")
      val after = PartitionedUpsert.readManifest(spark, s"$dir/t").get
      val touched = c.batch.map(b => part(b._1, c.n)).toSet
      assert(after.id == 0L && after.n == c.n, s"case $i")
      assert((after.parts -- touched) == (before.parts -- touched), s"case $i: $c")
      // a touched partition names the new version, or drops out when emptied
      assert(after.parts.keySet == live(c), s"case $i: $c")
      assert((touched & live(c)).forall(after.parts(_) == "v0"), s"case $i: $c")
    }
  }
}

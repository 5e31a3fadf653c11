package graft.llm

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

import scala.collection.mutable

/** The served form of [[IncrementalMinHashDedupPipe]]: both sides' MinHash
  * band rows and shingle sets packed into arrays on the executors, and the
  * pairs decided on the driver with the join form's rules:
  *   - candidates: a batch row and a corpus row (cross), or two batch rows
  *     with `id_a < id_b` (within), that share a `(band, bh)` bucket and
  *     pass the size-ratio prune `least(n_a, n_b) >= t · greatest(n_a, n_b)`,
  *     each distinct `(id_a, id_b)` once;
  *   - verification: every shingle set of `id_a` against every one of
  *     `id_b` (one of each for unique ids), Jaccard
  *     `|a ∩ b| / (|a| + |b| − |a ∩ b|)` with `array_intersect`'s distinct
  *     count, kept when `jaccard >= t` in Spark's double order (NaN is
  *     largest).
  * A null id takes part in no pair, and a row with no shingle has no band
  * rows, as in the join form. The join form stays the oracle
  * (`IncrementalMinHashDedupPipe.joined`).
  */
private[llm] object BandDedup {

  /** One document: its id, shingle hashes (null for a null array) and
    * band hashes (null when it has no band rows).
    */
  final case class Doc(id: Long, sh: Array[Long], n: Long, bh: Array[Long])

  /** Docs of one partition of `(id, sh, n, __bh__)` rows, or None once
    * they hold more than `cap` band rows (the batch is then too large to
    * serve).
    */
  def packDocs(cap: Long): Iterator[InternalRow] => Option[Array[Doc]] = rows => {
    val out = mutable.ArrayBuffer.empty[Doc]
    var bandRows = 0L
    while (rows.hasNext && bandRows <= cap) {
      val r = rows.next()
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val sh = r.getArray(1).toLongArray()
        val bh = if (sh.isEmpty) null else r.getArray(3).toLongArray()
        if (bh != null) bandRows += bh.length
        out += Doc(r.getLong(0), sh, r.getLong(2), bh)
      }
    }
    if (bandRows > cap) None else Some(out.toArray)
  }

  /** One bucket's members: ids and their shingle counts. */
  final class Bucket(val ids: Array[Long], val ns: Array[Long]) extends Serializable

  /** A packed corpus partition: band rows by band then bucket hash, or
    * shingle sets by id.
    */
  final class CorpusPart(
      val bands: Map[Int, Map[Long, Bucket]], val shingles: Map[Long, Seq[Array[Long]]])
    extends Serializable

  /** Frame 0 holds the corpus band rows `(id, n, band, bh)`, frame 1 its
    * shingle rows `(id, sh)`; a row with a null id joins nothing and is
    * dropped, as is a null shingle array (its Jaccard is null).
    */
  val packCorpus: (Int, Iterator[InternalRow]) => CorpusPart = (frame, rows) =>
    if (frame == 0) {
      val acc = mutable.HashMap.empty[(Int, Long), (mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofLong)]
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val (ids, ns) = acc.getOrElseUpdate((r.getInt(2), r.getLong(3)),
            (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofLong))
          ids.addOne(r.getLong(0)); ns.addOne(r.getLong(1))
        }
      }
      new CorpusPart(acc.toSeq.groupMap(_._1._1) { case ((_, bh), (ids, ns)) =>
        bh -> new Bucket(ids.result(), ns.result())
      }.map { case (b, bs) => b -> bs.toMap }, Map.empty)
    } else {
      val acc = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Array[Long]]]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1))
          acc.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer.empty) += r.getArray(1).toLongArray()
      }
      new CorpusPart(Map.empty, acc.map { case (id, shs) => id -> shs.toSeq }.toMap)
    }

  /** The partitions merged: per band, one bucket per hash. */
  final class Corpus(parts: Seq[CorpusPart]) {
    val bands: Map[Int, Map[Long, Bucket]] =
      parts.flatMap(_.bands.toSeq).groupMap(_._1)(_._2).map { case (b, ms) =>
        b -> ms.flatten.groupMap(_._1)(_._2).map { case (bh, bs) =>
          bh -> (if (bs.size == 1) bs.head
            else new Bucket(bs.flatMap(_.ids).toArray, bs.flatMap(_.ns).toArray))
        }
      }
    val shingles: Map[Long, Seq[Array[Long]]] =
      parts.flatMap(_.shingles.toSeq).groupMap(_._1)(_._2).map { case (id, s) => id -> s.flatten }
  }

  private def pruned(na: Long, nb: Long, t: Double): Boolean =
    math.min(na.toDouble, nb.toDouble) >= t * math.max(na.toDouble, nb.toDouble)

  /** `size(array_intersect(a, b)) / (size(a) + size(b) − that)`. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inB = new java.util.HashSet[Long](b.length * 2)
    b.foreach(inB.add)
    val seen = new java.util.HashSet[Long](a.length * 2)
    var i = 0
    a.foreach(x => if (inB.contains(x) && seen.add(x)) i += 1)
    i.toDouble / (a.length.toDouble + b.length.toDouble - i.toDouble)
  }

  /** The number of candidate checks [[pairs]] makes before its prune:
    * each batch band row's corpus bucket size, plus the square of each
    * batch bucket's size. One bucket shared by many documents (templated
    * pages) makes it quadratic; counted from the bucket sizes alone.
    */
  def candidates(batch: Seq[Doc], corpus: Corpus): Long = {
    var n = 0L
    val within = mutable.HashMap.empty[(Int, Long), Long]
    for (d <- batch if d.bh != null; b <- d.bh.indices) {
      n += corpus.bands.get(b).flatMap(_.get(d.bh(b))).fold(0)(_.ids.length)
      within((b, d.bh(b))) = within.getOrElse((b, d.bh(b)), 0L) + 1
    }
    within.valuesIterator.foldLeft(n)((acc, k) => acc + k * k)
  }

  /** `(id_a, id_b, jaccard, pair_src)` rows: cross pairs of the batch
    * against the corpus, then within-batch pairs.
    */
  def pairs(batch: Seq[Doc], corpus: Corpus, t: Double): Seq[Row] = {
    val batchSh: Map[Long, Seq[Array[Long]]] = batch.filter(_.sh != null).groupMap(_.id)(_.sh)
    def verified(cands: Iterable[(Long, Long)], shA: Map[Long, Seq[Array[Long]]],
        shB: Map[Long, Seq[Array[Long]]], src: String): Iterable[Row] = for {
      (a, b) <- cands
      sa <- shA.getOrElse(a, Nil)
      sb <- shB.getOrElse(b, Nil)
      j = jaccard(sa, sb)
      if SQLOrderingUtil.compareDoubles(j, t) >= 0
    } yield Row(a, b, j, src)

    val cross = mutable.LinkedHashSet.empty[(Long, Long)]
    for (d <- batch if d.bh != null; b <- d.bh.indices) {
      corpus.bands.get(b).flatMap(_.get(d.bh(b))).foreach { bucket =>
        var j = 0
        while (j < bucket.ids.length) {
          if (pruned(d.n, bucket.ns(j), t)) cross += ((d.id, bucket.ids(j)))
          j += 1
        }
      }
    }
    val within = mutable.LinkedHashSet.empty[(Long, Long)]
    val buckets = mutable.LinkedHashMap.empty[(Int, Long), mutable.ArrayBuffer[Doc]]
    for (d <- batch if d.bh != null; b <- d.bh.indices)
      buckets.getOrElseUpdate((b, d.bh(b)), mutable.ArrayBuffer.empty) += d
    for (docs <- buckets.values; x <- docs; y <- docs)
      if (x.id < y.id && pruned(x.n, y.n, t)) within += ((x.id, y.id))
    (verified(cross, batchSh, corpus.shingles, "cross") ++
      verified(within, batchSh, batchSh, "batch")).toSeq
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.reflect.ClassTag

/** Per-row search kernels over a standing index held in memory: the
  * served path of [[graft.search.BM25Engine]] and
  * [[graft.search.IVFPQDenseEngine]]. The engine collects its persisted
  * state once into an index object and ships it as a Spark broadcast
  * variable; each query row then calls one kernel that returns its ranked
  * top-k as `struct<idx: array<bigint>, score: array<double>>`, so a query
  * batch is one narrow projection — no join back onto the query rows, no
  * per-query broadcast of the state, no exchange for the top-k.
  *
  * Each kernel reproduces the join plan it stands in for: the same
  * expressions where the join plan evaluates expressions (they are bound
  * through [[ServeKernels.bound]] and evaluated per row), and the order of
  * [[graft.search.SearchEngine.collapseTopK]]'s heap key for the ranking
  * ([[ServeTopK]]).
  */
object ServeKernels {
  /** `c` resolved against columns of `schema` and bound to their ordinals:
    * evaluate it over an `InternalRow` laid out as `schema`. Analysis
    * applies the session's type coercion and ANSI mode exactly as it does
    * for the same column in a query; no Spark job runs.
    */
  def bound(spark: SparkSession, schema: StructType, c: Column): Expression = {
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(c.as("__bound__"))
    val p = df.queryExecution.analyzed.asInstanceOf[Project]
    BindReferences.bindReference(
      p.projectList.head.asInstanceOf[Alias].child, p.child.output)
  }

  /** Every partition of `df` folded on its executor by `pack` over its
    * Catalyst rows (rows are reused: `pack` copies what it keeps), in one
    * Spark job: the driver receives one packed value per partition, never
    * an object per row.
    */
  def collectPacked[T: ClassTag](df: DataFrame)(pack: Iterator[InternalRow] => T): Array[T] =
    df.queryExecution.toRdd.mapPartitions(rows => Iterator.single(pack(rows))).collect()

  /** [[collectPacked]] over several frames in one Spark job: `pack` gets
    * the index of the frame a partition belongs to, and the result holds
    * the packed partitions of the first frame, then the second's, and so
    * on.
    */
  def collectPackedAll[T: ClassTag](dfs: DataFrame*)(
      pack: (Int, Iterator[InternalRow]) => T): Array[T] = {
    val rdds = dfs.map(_.queryExecution.toRdd)
    val frameOf = rdds.zipWithIndex.flatMap { case (r, i) => Seq.fill(r.getNumPartitions)(i) }.toArray
    rdds.head.sparkContext.union(rdds)
      .mapPartitionsWithIndex((p, rows) => Iterator.single(pack(frameOf(p), rows))).collect()
  }

  /** Boxed Java source of a generated value, for `Object[]` argument lists. */
  private[graft] def boxed(g: ExprCode, t: DataType): String =
    if (CodeGenerator.isPrimitiveType(t)) s"${CodeGenerator.boxedType(t)}.valueOf(${g.value})"
    else g.value.toString
}

/** Best-first top-k of `(idx, score)` candidates in the order of
  * [[graft.search.SearchEngine.collapseTopK]]'s heap key `(score IS NULL,
  * NOT isnan(score), -score, idx)`: non-null before null, NaN first, then
  * score descending with Spark's double order (-0.0 = 0.0), then idx
  * ascending. Insertion into a sorted array of at most k slots: most
  * candidates lose one comparison against the current k-th.
  */
private[graft] final class ServeTopK(k: Int) {
  private var ids = new Array[Long](math.max(math.min(k, 16), 0))
  private var scores = new Array[Double](ids.length)
  private var nulls = new Array[Boolean](ids.length)
  private var size = 0

  /** Does the candidate sort strictly before slot `i`? */
  private def before(id: Long, s: Double, sNull: Boolean, i: Int): Boolean =
    ServeTopK.compare(sNull, s, id, nulls(i), scores(i), ids(i)) < 0

  def offer(id: Long, s: Double, sNull: Boolean): Unit =
    if (k > 0 && (size < k || before(id, s, sNull, k - 1))) {
      if (size == ids.length && size < k) {
        val grown = math.min(k.toLong, 2L * size).toInt
        ids = java.util.Arrays.copyOf(ids, grown)
        scores = java.util.Arrays.copyOf(scores, grown)
        nulls = java.util.Arrays.copyOf(nulls, grown)
      }
      var i = if (size < k) { size += 1; size - 1 } else k - 1
      while (i > 0 && before(id, s, sNull, i - 1)) {
        ids(i) = ids(i - 1); scores(i) = scores(i - 1); nulls(i) = nulls(i - 1)
        i -= 1
      }
      ids(i) = id; scores(i) = s; nulls(i) = sNull
    }

  def result(): InternalRow = InternalRow(
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(ids, size)),
    VecUtil.doubles(java.util.Arrays.copyOf(scores, size), java.util.Arrays.copyOf(nulls, size)))
}

private[graft] object ServeTopK {
  def compare(aNull: Boolean, a: Double, aId: Long, bNull: Boolean, b: Double, bId: Long): Int =
    if (aNull != bNull) { if (aNull) 1 else -1 }
    else {
      val byScore =
        if (aNull) 0
        else if (a.isNaN != b.isNaN) { if (a.isNaN) -1 else 1 }
        else SQLOrderingUtil.compareDoubles(-a, -b)
      if (byScore != 0) byScore else java.lang.Long.compare(aId, bId)
    }
}

/** The IVF-PQ state a serve kernel reads: the centroid rows in collected
  * order, the members of each centroid row's list, and the PQ codebooks.
  */
final class IvfPqIndex(
    val cids: Array[Int], val centroids: Array[ArrayData], val centroidType: DataType,
    val lists: Array[IvfPqList], val books: Array[Array[Array[Double]]]) extends Serializable

/** One inverted list: member ids, then `m` codes per member; `codeNull`
  * flags the codes the frame holds as null, and is null when none is.
  */
final class IvfPqList(val ids: Array[Long], val codes: Array[Int], val codeNull: Array[Boolean])
  extends Serializable

object IvfPqList {
  val empty = new IvfPqList(Array.empty, Array.empty, null)

  /** One partition's `(cid, idx, __c0..)` member rows as lists by cid. A
    * member with a null cid or idx (an untaggable vector) pairs with no
    * centroid in the probe's equi-join and is dropped.
    */
  def pack(m: Int): Iterator[InternalRow] => Map[Int, IvfPqList] = rows => {
    final class Acc {
      val ids = new mutable.ArrayBuilder.ofLong
      val codes = new mutable.ArrayBuilder.ofInt
      val codeNull = new mutable.ArrayBuilder.ofBoolean
      var anyNull = false
    }
    val byCid = mutable.HashMap.empty[Int, Acc]
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val acc = byCid.getOrElseUpdate(r.getInt(0), new Acc)
        acc.ids.addOne(r.getLong(1))
        var j = 0
        while (j < m) {
          val isNull = r.isNullAt(2 + j)
          acc.codes.addOne(if (isNull) 0 else r.getInt(2 + j))
          acc.codeNull.addOne(isNull)
          acc.anyNull ||= isNull
          j += 1
        }
      }
    }
    byCid.map { case (cid, acc) =>
      cid -> new IvfPqList(acc.ids.result(), acc.codes.result(),
        if (acc.anyNull) acc.codeNull.result() else null)
    }.toMap
  }

  /** The lists of all partitions, concatenated per cid. */
  def merge(parts: Seq[Map[Int, IvfPqList]]): Map[Int, IvfPqList] =
    parts.flatten.groupMap(_._1)(_._2).map { case (cid, ls) =>
      cid -> (if (ls.size == 1) ls.head else new IvfPqList(
        Array.concat(ls.map(_.ids): _*), Array.concat(ls.map(_.codes): _*),
        if (ls.forall(_.codeNull == null)) null
        else Array.concat(ls.map(l =>
          if (l.codeNull != null) l.codeNull else new Array[Boolean](l.codes.length)): _*)))
    }
}

object IvfPqIndex {
  /** From collected `(cid, centroid)` rows and the members' lists by cid:
    * every centroid row of a cid probes that cid's list, as the probe's
    * equi-join pairs them.
    */
  def apply(centroidRows: Array[Row], centroidType: DataType, lists: Map[Int, IvfPqList],
      books: Seq[Seq[Seq[Double]]]): IvfPqIndex = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(centroidType)
    new IvfPqIndex(
      centroidRows.map(_.getInt(0)),
      centroidRows.map(r => toCatalyst(r.get(1)).asInstanceOf[ArrayData]), centroidType,
      centroidRows.map(r => lists.getOrElse(r.getInt(0), IvfPqList.empty)),
      books.map(_.map(_.toArray).toArray).toArray)
  }
}

/** Per-task settings of [[IvfPqServeExpr]] beside the broadcast index:
  * `key` names the index in the query plan (the engine fingerprint and
  * the identity of the frames it was collected from), `rotation` is the engine's query rotation bound over `(q)` (None for
  * identity), `lookup` is `element_at(t, c + 1)` bound over `(t, c)`, the
  * join plan's table lookup, evaluated only for a code outside the table.
  */
final class IvfPqServe(
    val index: Broadcast[IvfPqIndex], val key: String, val nprobe: Int, val k: Int, val residual: Boolean,
    val rotation: Option[Expression], val lookup: Expression) extends Serializable

object IvfPqServe {
  /** Schema `lookup` is resolved against: an ADC table and a code. */
  val lookupSchema: StructType = StructType(Seq(
    StructField("t", ArrayType(DoubleType)), StructField("c", IntegerType)))
}

/** The IVF-PQ serve kernel over the query vector `child`. Per query row,
  * exactly the join plan's arithmetic:
  *   - probe: [[DotExpr]] of the unrotated query with every centroid row,
  *     ordered score descending (nulls last, NaN first), then cid
  *     ascending; the first `nprobe` rows are probed;
  *   - one [[AdcTableExpr.table]] per subspace over the rotated query;
  *   - each member of a probed list scores `((t0[c0] + t1[c1]) + …)`, plus
  *     the probe score in front when `residual`;
  *   - the top-k by [[ServeTopK]].
  * A null, short or null-holding query gets null probe scores and null
  * tables, so it returns the first lists' members with null scores, as
  * the join plan does.
  */
case class IvfPqServeExpr(child: Expression, serve: IvfPqServe) extends UnaryExpression {
  override def dataType: DataType = FusionKernel.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_pq_serve"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"index ${serve.key}", serve.nprobe, serve.k, serve.residual)

  @transient private lazy val ix = serve.index.value
  @transient private lazy val dot = DotExpr(
    BoundReference(0, child.dataType, nullable = true),
    BoundReference(1, ix.centroidType, nullable = true))
  @transient private lazy val tables: Array[AdcTableExpr] = {
    val qType = serve.rotation.map(_.dataType).getOrElse(child.dataType)
    val dsub = ix.books.head.head.length
    ix.books.zipWithIndex.map { case (b, j) =>
      AdcTableExpr(BoundReference(0, qType, nullable = true), b, j * dsub)
    }
  }

  /** `element_at(t, c + 1)`, null for a null slot; a code outside the
    * table goes through the bound `lookup`, which fails or yields null as
    * the join plan's `element_at` does.
    */
  private def slot(t: ArrayData, c: Int, row: GenericInternalRow): java.lang.Double =
    if (c >= 0 && c < t.numElements()) {
      if (t.isNullAt(c)) null else t.getDouble(c)
    } else {
      row.update(0, t); row.update(1, c)
      serve.lookup.eval(row).asInstanceOf[java.lang.Double]
    }

  def search(q: ArrayData): InternalRow = {
    val nc = ix.cids.length
    // probe scores and order
    val cs = new Array[Double](nc)
    val csNull = new Array[Boolean](nc)
    var i = 0
    while (i < nc) {
      val s = if (q == null) null else dot.nullSafeEval(q, ix.centroids(i))
      if (s == null) csNull(i) = true else cs(i) = s.asInstanceOf[Double]
      i += 1
    }
    val order = (0 until nc).toArray.sortWith { (a, b) =>
      val byScore =
        if (csNull(a) != csNull(b)) { if (csNull(a)) 1 else -1 }
        else if (csNull(a)) 0
        else -SQLOrderingUtil.compareDoubles(cs(a), cs(b))
      if (byScore != 0) byScore < 0 else ix.cids(a) < ix.cids(b)
    }
    // ADC tables of the rotated query, once per row
    val rq = serve.rotation match {
      case Some(r) => r.eval(InternalRow(q)).asInstanceOf[ArrayData]
      case None => q
    }
    val t = tables.map(_.table(rq))
    val m = t.length
    val top = new ServeTopK(serve.k)
    val lookupRow = new GenericInternalRow(2)
    var p = 0
    while (p < math.min(serve.nprobe, nc)) {
      val ci = order(p)
      val list = ix.lists(ci)
      var r = 0
      while (r < list.ids.length) {
        var acc = 0d
        var isNull = false
        var j = 0
        while (j < m && !isNull) {
          val at = r * m + j
          if (list.codeNull != null && list.codeNull(at)) isNull = true
          else {
            val v = slot(t(j), list.codes(at), lookupRow)
            if (v == null) isNull = true
            else acc = if (j == 0) v.doubleValue else acc + v.doubleValue
          }
          j += 1
        }
        if (serve.residual) {
          if (csNull(ci)) isNull = true
          else acc = cs(ci) + acc
        }
        top.offer(list.ids(r), if (isNull) 0d else acc, isNull)
        r += 1
      }
      p += 1
    }
    top.result()
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    search(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPqServe", this, classOf[IvfPqServeExpr].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      InternalRow ${ev.value} = $ref.search(${childGen.isNull} ? null : ${childGen.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfPqServeExpr =
    copy(child = newChild)
}

/** The BM25 state a serve kernel reads: per term, the rows of the join
  * plan's `postings ⋈ dfreq ⋈ docs`, each with its doc id, its idf and tf
  * parts (computed by Spark at collect time, with the join plan's
  * expressions) and, with a filter key, the doc's filter value as a
  * Catalyst value.
  */
final class Bm25Index(val terms: java.util.HashMap[UTF8String, Bm25Postings]) extends Serializable {
  def rows: Long = {
    var n = 0L
    terms.values.forEach(p => n += p.docIds.length)
    n
  }
}

final class Bm25Postings(val docIds: Array[Long], val idf: Array[Double], val tfPart: Array[Double],
    val filters: Array[Any]) extends Serializable

object Bm25Index {
  /** One partition's `(term, docId, idf, tfPart[, __filter__])` rows as a
    * partial index. A row with a null term or doc id joins nothing and is
    * dropped.
    */
  def pack(filterType: Option[DataType]): Iterator[InternalRow] => Bm25Index = rows => {
    final class Acc {
      val docIds = new mutable.ArrayBuilder.ofLong
      val idf = new mutable.ArrayBuilder.ofDouble
      val tfPart = new mutable.ArrayBuilder.ofDouble
      val filters = mutable.ArrayBuffer.empty[Any]
    }
    val byTerm = new java.util.HashMap[UTF8String, Acc]
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        if (r.isNullAt(2) || r.isNullAt(3))
          throw new IllegalStateException("BM25 posting row with a null idf or tf part")
        val term = r.getUTF8String(0)
        var acc = byTerm.get(term)
        if (acc == null) { acc = new Acc; byTerm.put(term.clone(), acc) }
        // addOne, not +=: Growable's += boxes the primitive
        acc.docIds.addOne(r.getLong(1)); acc.idf.addOne(r.getDouble(2))
        acc.tfPart.addOne(r.getDouble(3))
        filterType.foreach(t => acc.filters += InternalRow.copyValue(r.get(4, t)))
      }
    }
    val terms = new java.util.HashMap[UTF8String, Bm25Postings]
    byTerm.forEach { (term, acc) =>
      terms.put(term, new Bm25Postings(acc.docIds.result(), acc.idf.result(),
        acc.tfPart.result(), if (filterType.isDefined) acc.filters.toArray else null))
    }
    new Bm25Index(terms)
  }

  /** The partial indexes of all partitions, concatenated per term. */
  def merge(parts: Seq[Bm25Index]): Bm25Index =
    if (parts.size == 1) parts.head
    else {
      val byTerm = new java.util.HashMap[UTF8String, mutable.ArrayBuffer[Bm25Postings]]
      parts.foreach(_.terms.forEach { (term, ps) =>
        byTerm.computeIfAbsent(term, _ => mutable.ArrayBuffer.empty) += ps
      })
      val terms = new java.util.HashMap[UTF8String, Bm25Postings]
      byTerm.forEach { (term, pss) =>
        terms.put(term,
          if (pss.size == 1) pss.head
          else new Bm25Postings(Array.concat(pss.map(_.docIds).toSeq: _*),
            Array.concat(pss.map(_.idf).toSeq: _*), Array.concat(pss.map(_.tfPart).toSeq: _*),
            if (pss.head.filters == null) null else Array.concat(pss.map(_.filters).toSeq: _*)))
      }
      new Bm25Index(terms)
    }
}

/** Per-task settings of [[Bm25ServeExpr]]: `key` names the index in the
  * query plan (as [[IvfPqServe]]'s does), `post` is the temperature
  * division and rounding bound over `(score)`, `filterEq` is
  * `__filter__ = __qfilter__` bound over `(filter, qfilter)`.
  */
final class Bm25Serve(
    val index: Broadcast[Bm25Index], val key: String, val k: Int, val hasAux: Boolean,
    val post: Option[Expression], val filterEq: Option[Expression]) extends Serializable

/** The BM25 serve kernel. Children: the query's main-field tokens; with
  * an aux field, its tokens and its weight; with a filter key, the query's
  * filter value. Per query row, exactly the join plan's candidates and
  * arithmetic:
  *   - every main-field term occurrence contributes `(1 * idf) * tfPart`
  *     to each doc of the term's rows whose filter value `=` the query's
  *     (when filtering), every aux occurrence `(w * idf) * tfPart` to each
  *     doc of the term's rows (the join plan filters the main field only);
  *     every doc a kept row reaches is a candidate;
  *   - a doc's score is the sum of its contributions in term-occurrence
  *     order, from 0d, then `post` (temperature division, Spark's
  *     `Round`). No contribution is null: the weight is 1, a literal, or
  *     `1 + greatest(...)` of a non-null literal, and idf and tf parts of
  *     a joined row are non-null;
  *   - the top-k by [[ServeTopK]].
  * The join plan sums in an unspecified order, so ulp-level differences
  * are possible before rounding.
  */
case class Bm25ServeExpr(children: Seq[Expression], serve: Bm25Serve) extends Expression {
  override def dataType: DataType = FusionKernel.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "bm25_serve"
  override def stringArgs: Iterator[Any] =
    Iterator(children, s"index ${serve.key}", serve.k)

  @transient private lazy val ix = serve.index.value

  /** `vals`: the evaluated children, in order. */
  def search(vals: Array[AnyRef]): InternalRow = {
    val sums = new FusionSums
    val eqRow = new GenericInternalRow(2)
    val qf = if (serve.filterEq.isDefined) vals(vals.length - 1) else null

    def field(toks: ArrayData, w: Double, filtered: Boolean): Unit =
      if (toks != null) {
        var pos = 0
        while (pos < toks.numElements()) {
          val ps = if (toks.isNullAt(pos)) null else ix.terms.get(toks.getUTF8String(pos))
          if (ps != null) {
            var r = 0
            while (r < ps.docIds.length) {
              val keep = !filtered || {
                eqRow.update(0, ps.filters(r)); eqRow.update(1, qf)
                serve.filterEq.get.eval(eqRow) == true
              }
              if (keep) sums.add(ps.docIds(r), (w * ps.idf(r)) * ps.tfPart(r), scoreIsNull = false)
              r += 1
            }
          }
          pos += 1
        }
      }

    field(vals(0).asInstanceOf[ArrayData], 1d, serve.filterEq.isDefined)
    if (serve.hasAux)
      field(vals(1).asInstanceOf[ArrayData], vals(2).asInstanceOf[java.lang.Double].doubleValue,
        filtered = false)
    val top = new ServeTopK(serve.k)
    val postRow = new GenericInternalRow(1)
    sums.foreach { (id, sum, _) =>
      val s: Any = serve.post match {
        case Some(p) => postRow.update(0, sum); p.eval(postRow)
        case None => sum
      }
      if (s == null) top.offer(id, 0d, sNull = true)
      else top.offer(id, s.asInstanceOf[Double], sNull = false)
    }
    top.result()
  }

  override def eval(input: InternalRow): Any =
    search(children.map(_.eval(input).asInstanceOf[AnyRef]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25Serve", this, classOf[Bm25ServeExpr].getName)
    val vals = ctx.freshName("vals")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val g = c.genCode(ctx)
      s"""${g.code}
      $vals[$i] = ${g.isNull} ? null : (Object) ${ServeKernels.boxed(g, c.dataType)};"""
    }.mkString("\n")
    ev.copy(code = code"""
      Object[] $vals = new Object[${children.length}];
      $fill
      InternalRow ${ev.value} = $ref.search($vals);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25ServeExpr = copy(children = newChildren)
}

object Bm25ServeExpr {
  /** Schemas the bound settings are resolved against. */
  val scoreSchema: StructType = StructType(Seq(StructField("score", DoubleType)))
  def filterSchema(filterType: DataType, queryType: DataType): StructType =
    StructType(Seq(StructField("filter", filterType), StructField("qfilter", queryType)))
}

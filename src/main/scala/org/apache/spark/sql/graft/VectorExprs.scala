package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}

/** Codegen'd one-pass twins of the interpreted higher-order-function
  * vector kernels in [[graft.llm.DedupOps]],
  * [[graft.llm.ClusterBalancedSamplePipe]] and the search query path
  * ([[graft.search.SearchEngine.dot]], the PQ ADC tables,
  * [[graft.search.SearchResultOps]]' fusions). HOF chains
  * (`aggregate(zip_with(...))`) never enter whole-stage codegen and
  * allocate one intermediate array per zip_with per row — on the
  * within-cell pairwise cosine join and the nearest-centroid assignment
  * map stage those are THE per-row hot kernels at scale. Each expression
  * below documents, and its spec proves, bit-exact value parity with the
  * HOF form it replaces, including null/length-mismatch semantics and
  * IEEE accumulation order (same index-order left fold).
  */
private object VecUtil {
  /** Element getter honoring the HOF forms' `cast("double")` on float
    * inputs (exact widening).
    */
  def getD(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** `cast("double")` of element i of an array of a primitive numeric
    * type (exact widening, or Java's rounding long-to-double, as Spark's
    * Cast does).
    */
  def getNum(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => arr.getDouble(i)
    case FloatType => arr.getFloat(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
  }

  /** Java source of [[getNum]] for generated code. */
  def getNumCode(arr: String, i: String, t: DataType): String =
    s"((double) ${CodeGenerator.getValue(arr, t, i)})"

  def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  def numericArrays(name: String, es: Seq[Expression]): TypeCheckResult =
    es.find(e => e.dataType match {
      case ArrayType(DoubleType | FloatType | IntegerType | LongType | ShortType | ByteType, _) =>
        false
      case _ => true
    }) match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$name needs arrays of a primitive numeric type, got ${e.dataType.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  /** FNV-1a over the shape and the bit patterns of a literal table: what
    * a kernel holding the table renders and compares in plans, so two
    * kernels over different tables never alias in a plan fingerprint.
    */
  def tableFp(rows: Array[Array[Double]]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = h = (h ^ v) * 0x100000001b3L
    mix(rows.length.toLong)
    rows.foreach { r =>
      mix(r.length.toLong)
      r.foreach(d => mix(java.lang.Double.doubleToRawLongBits(d)))
    }
    h
  }

  /** Equal bit patterns, row by row; the shared array (a plan's copies of
    * one kernel) answers without a scan.
    */
  def sameTable(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    (a eq b) || a.length == b.length && a.indices.forall { i =>
      val (x, y) = (a(i), b(i))
      x.length == y.length && x.indices.forall(j =>
        java.lang.Double.doubleToRawLongBits(x(j)) == java.lang.Double.doubleToRawLongBits(y(j)))
    }

  /** A double array as Spark array data: unsafe (no boxing) when no slot
    * is null.
    */
  def doubles(v: Array[Double], isNull: Array[Boolean]): ArrayData =
    if (!isNull.contains(true)) UnsafeArrayData.fromPrimitiveArray(v)
    else new GenericArrayData(v.indices.map(i =>
      if (isNull(i)) null else v(i)).toArray[Any])
}

/** cosine(a, b) = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) with
  * dot(x,y) = aggregate(zip_with(x, y, (p,q) => double(p)*double(q)),
  * 0d, _+_). Parity with the HOF form:
  *   - null `a` or `b` propagates null (null-safe binary expression);
  *   - length mismatch → zip_with pads with null → the fold poisons →
  *     null result;
  *   - any null ELEMENT in the shared range → null result;
  *   - accumulation is the same index-order left fold (bit-identical
  *     IEEE sums), division/sqrt identical, so 0-norm inputs produce
  *     the same Infinity/NaN the relational form does.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  // the relational form's final Divide honors ANSI: a 0.0 divisor
  // (zero-norm input) raises DIVIDE_BY_ZERO when ansi is on (the Spark 4
  // default this repo runs under) and yields the IEEE result when off —
  // captured at construction exactly like Spark's own DivModLike
  private val failOnDivByZero =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def cos(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dab = 0d; var daa = 0d; var dbb = 0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = VecUtil.getD(a, i, leftIsFloat)
      val y = VecUtil.getD(b, i, rightIsFloat)
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val denom = java.lang.Math.sqrt(daa) * java.lang.Math.sqrt(dbb)
    if (denom == 0d && failOnDivByZero) {
      throw org.apache.spark.sql.errors.QueryExecutionErrors
        .divideByZeroError(origin.context)
    }
    dab / denom
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    cos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSimExpr", this,
      classOf[CosineSimExpr].getName)
    val r = ctx.freshName("cosRes")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = $ref.cos($a, $b);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Double) $r).doubleValue(); }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Squared-L2 distances of a vector to each of k literal centroids —
  * the codegen'd twin of
  * `transform(typedLit(centroids), c => aggregate(zip_with(v, c,
  * (x,y) => (x-y)*(x-y)), 0d, _+_))`. Parity:
  *   - the output ARRAY is never null (transform over a non-null
  *     literal): a null input vector, a length != dim vector, or a
  *     vector containing a null element yields an array of k NULL
  *     slots, exactly like the zip_with/fold poisoning;
  *   - per-centroid accumulation is the same index-order left fold of
  *     (x-y)*(x-y) — bit-identical IEEE sums.
  */
case class SquaredDistsExpr(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "squared_dists"

  @transient private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private val dim = centroids.head.length

  // plans render and compare the centroid table by content (as
  // BloomProbeExpr does its bitmap), never by the array's identity
  @transient private lazy val tableFp = VecUtil.tableFp(centroids)
  override def flatArguments: Iterator[Any] =
    Iterator(child, centroids.length, dim, f"fp=$tableFp%016x")
  override def stringArgs: Iterator[Any] = flatArguments
  override def equals(o: Any): Boolean = o match {
    case e: SquaredDistsExpr => child == e.child && VecUtil.sameTable(centroids, e.centroids)
    case _ => false
  }
  override def hashCode(): Int = (child, tableFp).hashCode

  def dists(v: ArrayData): ArrayData = {
    val k = centroids.length
    var ok = v != null && v.numElements() == dim
    if (ok) {
      var i = 0
      while (ok && i < dim) { if (v.isNullAt(i)) ok = false; i += 1 }
    }
    if (!ok) return new GenericArrayData(new Array[Any](k))
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = centroids(j)
      var acc = 0d
      var i = 0
      while (i < dim) {
        val d = VecUtil.getD(v, i, childIsFloat) - c(i)
        acc += d * d
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    dists(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("squaredDistsExpr", this,
      classOf[SquaredDistsExpr].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.dists(${childGen.isNull} ? null : ${childGen.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SquaredDistsExpr =
    copy(child = newChild)
}

/** Element-wise `left − right` of two double arrays — the codegen'd twin
  * of `zip_with(left, right, (x, y) => x - y)` (the IVF-PQ residual
  * `x − centroid`). Parity:
  *   - a null `left` or `right` → null;
  *   - the result is as long as the longer input; a slot past the end of
  *     the shorter one, or null in either, is null (zip_with pads with
  *     null);
  *   - every other slot is the same IEEE subtraction.
  */
case class VecSubExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_sub"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType.isInstanceOf[ArrayType]) &&
        children.forall(VecUtil.elementType(_) == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two arrays of double, got ${children.map(_.dataType.simpleString)}")

  def sub(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Double](n)
    val isNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) isNull(i) = true
      else out(i) = a.getDouble(i) - b.getDouble(i)
      i += 1
    }
    VecUtil.doubles(out, isNull)
  }

  override def nullSafeEval(x: Any, y: Any): Any =
    sub(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecSubExpr", this, classOf[VecSubExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.sub($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubExpr =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash fold over a per-token hash array — the codegen'd twin
  * of the vote fold in [[graft.llm.DedupOps.simhash64]]:
  * `aggregate(th, zeros, (acc,h) => zip_with(acc, powers, (a,p) =>
  * a + when(h&p =!= 0, 1).otherwise(-1)))` then OR of powers with
  * positive votes. Parity:
  *   - null hash ARRAY → null (null-safe unary);
  *   - a null hash ELEMENT votes -1 on every bit (when(null, 1)
  *     .otherwise(-1) takes the otherwise branch);
  *   - empty array → all votes 0, no bit set → 0L — exactly the
  *     relational fold's zero-iteration result.
  * Pure integer arithmetic, so parity is exact, not approximate.
  */
case class Simhash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def fold(th: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = th.numElements()
    var i = 0
    while (i < n) {
      if (th.isNullAt(i)) {
        var b = 0
        while (b < 64) { votes(b) -= 1; b += 1 }
      } else {
        val h = th.getLong(i)
        var b = 0
        while (b < 64) {
          votes(b) += (if ((h & (1L << b)) != 0) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash64Expr", this,
      classOf[Simhash64Expr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.fold($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash64Expr =
    copy(child = newChild)
}

/** Dot product in double precision — the codegen'd twin of
  * `aggregate(zip_with(a, b, (x,y) => double(x)*double(y)), 0d, _+_)`
  * ([[graft.search.SearchEngine.dot]]). Parity:
  *   - a null `a` or `b` → null (null-safe binary expression);
  *   - length mismatch → zip_with pads with null → the fold poisons →
  *     null; so does a null ELEMENT anywhere;
  *   - elements of any primitive numeric type widen to double exactly
  *     as `cast("double")` does; the sum is the same index-order left fold
  *     starting at 0d (bit-identical IEEE sums).
  */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot"

  override def checkInputDataTypes(): TypeCheckResult =
    VecUtil.numericArrays(prettyName, children)

  @transient private lazy val lt = VecUtil.elementType(left)
  @transient private lazy val rt = VecUtil.elementType(right)

  override def nullSafeEval(x: Any, y: Any): Any = {
    val a = x.asInstanceOf[ArrayData]
    val b = y.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += VecUtil.getNum(a, i, lt) * VecUtil.getNum(b, i, rt)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
      int $n = $a.numElements();
      if ($n != $b.numElements()) { ${ev.isNull} = true; }
      else {
        double $acc = 0d;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          $acc += ${VecUtil.getNumCode(a, i, lt)} * ${VecUtil.getNumCode(b, i, rt)};
        }
        ${ev.value} = $acc;
      }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

/** One product-quantization ADC table: the dot product of the query
  * sub-vector `v[offset, offset + dsub)` with each codeword of `book` —
  * the codegen'd twin of
  * `transform(typedLit(book), c => dot(slice(v, offset + 1, dsub), c))`.
  * Parity:
  *   - the output ARRAY is never null (transform over a non-null
  *     literal): a null `v`, a `v` shorter than `offset + dsub` (the
  *     slice comes out short, zip_with pads, the fold poisons) or a null
  *     element inside the slice yields `book.length` NULL slots; elements
  *     outside the slice are never read;
  *   - each slot is the same index-order left fold from 0d of
  *     `double(v[offset + t]) * c[t]`.
  * [[AdcTableExpr.evaluations]] counts calls, so a spec can prove the
  * tables are built once per query row, not once per scored code.
  */
case class AdcTableExpr(child: Expression, book: Array[Array[Double]], offset: Int)
    extends UnaryExpression {
  require(book.nonEmpty && book.forall(_.length == book.head.length) && offset >= 0,
    "an ADC codebook needs equally long codewords and a non-negative offset")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "adc_table"

  // the codebook by content, as SquaredDistsExpr renders its centroids
  @transient private lazy val tableFp = VecUtil.tableFp(book)
  override def flatArguments: Iterator[Any] =
    Iterator(child, book.length, book.head.length, offset, f"fp=$tableFp%016x")
  override def stringArgs: Iterator[Any] = flatArguments
  override def equals(o: Any): Boolean = o match {
    case e: AdcTableExpr =>
      child == e.child && offset == e.offset && VecUtil.sameTable(book, e.book)
    case _ => false
  }
  override def hashCode(): Int = (child, offset, tableFp).hashCode

  override def checkInputDataTypes(): TypeCheckResult =
    VecUtil.numericArrays(prettyName, children)

  @transient private lazy val vt = VecUtil.elementType(child)
  private val dsub = book.head.length

  def table(v: ArrayData): ArrayData = {
    AdcTableExpr.evaluations.increment()
    val k = book.length
    var ok = v != null && v.numElements() >= offset + dsub
    var t = 0
    while (ok && t < dsub) { if (v.isNullAt(offset + t)) ok = false; t += 1 }
    if (!ok) return new GenericArrayData(new Array[Any](k))
    val q = new Array[Double](dsub)
    t = 0
    while (t < dsub) { q(t) = VecUtil.getNum(v, offset + t, vt); t += 1 }
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      val w = book(c)
      var acc = 0d
      t = 0
      while (t < dsub) { acc += q(t) * w(t); t += 1 }
      out(c) = acc
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    table(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcTableExpr", this, classOf[AdcTableExpr].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.table(${childGen.isNull} ? null : ${childGen.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): AdcTableExpr =
    copy(child = newChild)
}

object AdcTableExpr {
  /** Tables built in this JVM (all executors of a local session). */
  val evaluations = new java.util.concurrent.atomic.LongAdder
}

/** Accumulates `(id, score)` contributions into per-id sums, in
  * first-occurrence order of the ids, each a left fold from 0d; a null
  * contribution poisons its id's sum. Shared by the fusion kernels and
  * [[Bm25ServeExpr]].
  */
private[graft] final class FusionSums {
  private val slot = new java.util.HashMap[java.lang.Long, Integer]
  private var ids = new Array[Long](16)
  private var sums = new Array[Double](16)
  private var nulls = new Array[Boolean](16)
  private var n = 0

  def add(id: Long, score: Double, scoreIsNull: Boolean): Unit = {
    val key = java.lang.Long.valueOf(id)
    val at = slot.get(key)
    val u =
      if (at != null) at.intValue
      else {
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, 2 * n)
          sums = java.util.Arrays.copyOf(sums, 2 * n)
          nulls = java.util.Arrays.copyOf(nulls, 2 * n)
        }
        slot.put(key, n); ids(n) = id; n += 1
        n - 1
      }
    if (scoreIsNull) nulls(u) = true
    else if (!nulls(u)) sums(u) += score
  }

  /** Every id with its sum and null flag, in first-occurrence order. */
  def foreach(f: (Long, Double, Boolean) => Unit): Unit = {
    var u = 0
    while (u < n) { f(ids(u), sums(u), nulls(u)); u += 1 }
  }

  /** The sums ordered by the fusion comparator (see [[FusionKernel]]). */
  def result(): InternalRow = {
    val order = new Array[AnyRef](n)
    var i = 0
    while (i < n) { order(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(order, new java.util.Comparator[AnyRef] {
      def compare(l: AnyRef, r: AnyRef): Int = {
        val a = l.asInstanceOf[Integer].intValue
        val b = r.asInstanceOf[Integer].intValue
        val c =
          if (nulls(a) || nulls(b)) 0
          else SQLOrderingUtil.compareDoubles(sums(a), sums(b))
        if (c > 0) -1
        else if (c < 0) 1
        else java.lang.Long.compare(ids(a), ids(b))
      }
    })
    val outIds = new Array[Long](n)
    val outScores = new Array[Double](n)
    val outNull = new Array[Boolean](n)
    i = 0
    while (i < n) {
      val u = order(i).asInstanceOf[Integer].intValue
      outIds(i) = ids(u); outScores(i) = sums(u); outNull(i) = nulls(u)
      i += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(outIds),
      VecUtil.doubles(outScores, outNull))
  }
}

/** Shared machinery of the rank-fusion kernels: contributions
  * `(idx, score)` are collected in the order the HOF form concatenates
  * them (engine by engine, position by position, after dropping null and
  * -1 ids), summed per distinct id in first-occurrence order with the same
  * left fold from 0d (a null contribution poisons its id's sum), then
  * ordered by the HOF form's comparator — score desc (Spark's double
  * order: NaN largest, -0.0 = 0.0; a null score compares by idx only),
  * then idx asc — with the same `java.util.Arrays.sort` `array_sort`
  * runs, so even a non-transitive null case sorts identically.
  * Output: `struct<idx: array<bigint>, score: array<double>>`.
  */
private[graft] abstract class FusionKernel extends Expression {
  override def nullable: Boolean = true
  override def dataType: DataType = FusionKernel.resultType

  /** The fused result of the (all non-null) input arrays. */
  def fuse(arrays: Array[ArrayData]): InternalRow

  override def eval(input: InternalRow): Any = {
    val arrays = children.map(_.eval(input).asInstanceOf[ArrayData]).toArray
    if (arrays.contains(null)) null else fuse(arrays)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fusionKernel", this, getClass.getName)
    val arr = ctx.freshName("arrays")
    val gens = children.map(_.genCode(ctx))
    val fill = gens.zipWithIndex.map { case (g, i) =>
      s"""${g.code}
      if (${g.isNull}) { $arr = null; } else if ($arr != null) { $arr[$i] = ${g.value}; }"""
    }.mkString("\n")
    ev.copy(code = code"""
      org.apache.spark.sql.catalyst.util.ArrayData[] $arr =
        new org.apache.spark.sql.catalyst.util.ArrayData[${children.length}];
      $fill
      boolean ${ev.isNull} = $arr == null;
      InternalRow ${ev.value} = ${ev.isNull} ? null : $ref.fuse($arr);
      """)
  }
}

private[graft] object FusionKernel {
  val resultType: StructType = StructType(Seq(
    StructField("idx", ArrayType(LongType, containsNull = false)),
    StructField("score", ArrayType(DoubleType, containsNull = true))))

  /** Input i must be an array of `element(i)`. */
  def checkTypes(name: String, children: Seq[Expression],
      element: Int => DataType): TypeCheckResult =
    children.zipWithIndex.collectFirst {
      case (e, i) if (e.dataType match {
        case ArrayType(t, _) => t != element(i)
        case _ => true
      }) => TypeCheckResult.TypeCheckFailure(
        s"$name needs array<${element(i).simpleString}> at argument ${i + 1}, " +
          s"got ${e.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
}

/** Reciprocal-rank fusion of ranked idx arrays — the codegen'd twin of
  * the `transform`/`filter`/`aggregate`/`array_sort` program
  * [[graft.search.SearchResultOps.rrf]] used to be (the specs keep it as
  * their oracle): each id at 0-based position
  * `pos` of an engine's array contributes `1 / ((rrfK + pos) + 1)`; null
  * and -1 (padding) ids contribute nothing; any null input array makes
  * the result null. A zero divisor raises DIVIDE_BY_ZERO under ANSI and
  * poisons the position's contribution otherwise, as Spark's Divide does.
  */
case class RrfExpr(children: Seq[Expression], rrfK: Double) extends FusionKernel {
  require(children.nonEmpty, "rrf needs at least one ranked array")
  override def prettyName: String = "rrf"

  // Spark's Divide honors ANSI on a zero divisor: captured at construction
  // exactly like CosineSimExpr
  private val failOnDivByZero = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  override def checkInputDataTypes(): TypeCheckResult =
    FusionKernel.checkTypes(prettyName, children, _ => LongType)

  def fuse(arrays: Array[ArrayData]): InternalRow = {
    val sums = new FusionSums
    var e = 0
    while (e < arrays.length) {
      val ids = arrays(e)
      var pos = 0
      while (pos < ids.numElements()) {
        val denom = (rrfK + pos.toDouble) + 1d
        val zero = denom == 0d
        if (zero && failOnDivByZero) {
          throw org.apache.spark.sql.errors.QueryExecutionErrors
            .divideByZeroError(origin.context)
        }
        if (!ids.isNullAt(pos) && ids.getLong(pos) != -1L)
          sums.add(ids.getLong(pos), if (zero) 0d else 1d / denom, zero)
        pos += 1
      }
      e += 1
    }
    sums.result()
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RrfExpr = copy(children = newChildren)
}

/** Min-max weighted fusion — the codegen'd twin of the higher-order
  * program [[graft.search.SearchResultOps.minMaxFuse]] used to be (the
  * specs keep it as their oracle). `children` holds
  * `(idx, score)` array pairs, one per engine, with one weight each.
  * Per engine: `mn`/`mx` are the first min / max (Spark's double order)
  * of the non-null scores other than -Infinity; position p of
  * `zip_with(idx, score)` (the shorter side padded with null)
  * contributes `((s - mn) / (mx - mn)) * w` when `mx > mn`, else `1 * w`
  * (a null `s` poisons only the first form); null and -1 ids contribute
  * nothing. Any null input array makes the result null.
  */
case class MinMaxFuseExpr(children: Seq[Expression], weights: Seq[Double])
    extends FusionKernel {
  require(children.nonEmpty && children.length == 2 * weights.length,
    "min-max fusion needs one (idx, score) pair per weight")
  override def prettyName: String = "min_max_fuse"

  override def checkInputDataTypes(): TypeCheckResult =
    FusionKernel.checkTypes(prettyName, children,
      i => if (i % 2 == 0) LongType else DoubleType)

  private val ws = weights.toArray

  def fuse(arrays: Array[ArrayData]): InternalRow = {
    val sums = new FusionSums
    var e = 0
    while (e < ws.length) {
      val ids = arrays(2 * e)
      val scores = arrays(2 * e + 1)
      var mn = 0d; var mx = 0d; var seen = false
      var p = 0
      while (p < scores.numElements()) {
        if (!scores.isNullAt(p)) {
          val s = scores.getDouble(p)
          if (s != Double.NegativeInfinity) {
            if (!seen) { mn = s; mx = s; seen = true }
            else {
              if (SQLOrderingUtil.compareDoubles(s, mn) < 0) mn = s
              if (SQLOrderingUtil.compareDoubles(s, mx) > 0) mx = s
            }
          }
        }
        p += 1
      }
      val spread = seen && SQLOrderingUtil.compareDoubles(mx, mn) > 0
      val w = ws(e)
      val len = math.max(ids.numElements(), scores.numElements())
      p = 0
      while (p < len) {
        val sNull = p >= scores.numElements() || scores.isNullAt(p)
        // mx > mn makes mx - mn non-zero (NaN or infinite at worst), so
        // the divide never meets a zero divisor
        val v = if (spread && !sNull) ((scores.getDouble(p) - mn) / (mx - mn)) * w else w
        if (p < ids.numElements() && !ids.isNullAt(p) && ids.getLong(p) != -1L)
          sums.add(ids.getLong(p), v, spread && sNull)
        p += 1
      }
      e += 1
    }
    sums.result()
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinMaxFuseExpr = copy(children = newChildren)
}

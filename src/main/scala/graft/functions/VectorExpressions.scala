package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._

/** Native Catalyst integer dot product for quantized embedding columns.
  *
  * The similarity hot paths score O(pairs) candidate rows; expressed as a
  * dim-term `element_at(a,i)*element_at(b,i)` chain, each term pays
  * per-call dispatch and the whole chain bloats the generated method —
  * measured ~4-8 µs/pair for dim=64 on the bench. This expression
  * evaluates the whole dot in ONE tight loop over the underlying ArrayData
  * (the same one-virtual-call-per-row pattern as [[WordShingleHashes]] and
  * Spark's own regexp/json expressions), keeping the scoring stage a
  * codegen-fused map.
  *
  * Value semantics on WELL-FORMED input (equal-length arrays, no null
  * elements, |terms| within the documented 2^54 bounds) are EXACTLY the
  * form it replaces (this matters — the results sit under the DuckDB
  * hash gate): Σ a(i)·b(i) over long arrays — 64-bit integer arithmetic,
  * order-free, == the unrolled integer chain and the oracle's
  * list_sum(list_transform(...)).
  *
  * On MALFORMED input the old element_at chains failed quietly (null
  * propagation / silent Long wrap under non-ANSI) — which downstream of a
  * hash gate surfaces as an inscrutable oracle mismatch. This expression
  * fails LOUDLY instead: length mismatch and null elements throw
  * IllegalArgumentException, and Math.addExact/multiplyExact make a
  * violation of the 2^54 contract an ArithmeticException at the offending
  * row, not a wrong hash. (We do not statically reject
  * ArrayType(containsNull=true): Spark marks containsNull conservatively
  * on most constructed arrays, so the nullability check must be
  * per-element at runtime.) */
final case class LongArrayDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> columns, got $l / $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_array_dot"

  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = VectorExpressions.checkedLength(prettyName, a, b)
    var s = 0L
    var i = 0
    while (i < n) {
      s = Math.addExact(s, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dot", this, classOf[LongArrayDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LongArrayDot = copy(left = newLeft, right = newRight)
}

/** Quantize-then-sign-project in ONE native pass: out(j) = Σᵢ sign(j,i) ·
  * floor(xᵢ · scale) over an array<float|double> column — the
  * Johnson–Lindenstrauss projection of [[graft.operators.Similarity
  * .signProjectTopK]]. As a composed column expression this is an
  * outDim·dim-node tree (every term its own element_at), whose generated
  * code Janino compiles for ~seconds before the first row — a fixed cost
  * that dwarfed the actual q98 work at bench SFs. Here the whole
  * projection is one reference-object call and a dim + outDim·dim tight
  * loop: identical values (floor per element once, then exact long
  * sign-sums), tiny generated code.
  *
  * `signs` is an IndexedSeq (structural equality — an Array field would
  * compare by reference and break expression canonicalization); the hot
  * loop reads a private lazy Array copy. */
final case class SignProjectQuantized(child: Expression,
    signs: IndexedSeq[IndexedSeq[Long]], scale: Double)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> column, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_project_quantized"

  @transient private lazy val signArr: Array[Array[Long]] =
    signs.map(_.toArray).toArray
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(a: ArrayData): ArrayData = {
    val sa = signArr
    val outDim = sa.length
    val dim = if (outDim == 0) 0 else sa(0).length
    val n = a.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"$prettyName: vector length $n != projection input dim $dim")
    val lf = isFloat
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"$prettyName: null element at index $i")
      val x: Double = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      q(i) = math.floor(x * scale).toLong
      i += 1
    }
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      val row = sa(j)
      var s = 0L
      var k = 0
      while (k < dim) { s += (if (row(k) > 0) q(k) else -q(k)); k += 1 }
      out(j) = s
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("proj", this, classOf[SignProjectQuantized].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SignProjectQuantized =
    copy(child = newChild)
}

object VectorExpressions {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
  import org.apache.spark.unsafe.Platform

  /** True iff any of the first `n` slots is null. For [[UnsafeArrayData]]
    * (what every post-projection/post-shuffle array is) the null flags are
    * a packed bitset right after the 8-byte length header, with unused
    * trailing bits zeroed by UnsafeArrayWriter — so the scan is an OR over
    * ceil(n/64) words: ONE long read for dim ≤ 64, instead of n virtual
    * isNullAt calls per side per pair. Other ArrayData implementations
    * (Generic, Columnar) fall back to the per-element loop; they only
    * appear off the hot scoring path (literals, pre-exchange scans). */
  private def hasNulls(a: ArrayData, n: Int): Boolean = a match {
    case u: UnsafeArrayData =>
      val base = u.getBaseObject
      var off = u.getBaseOffset + 8L
      val end = off + (((n + 63) >> 6).toLong << 3)
      var acc = 0L
      while (off < end) { acc |= Platform.getLong(base, off); off += 8L }
      acc != 0L
    case _ =>
      var i = 0
      while (i < n && !a.isNullAt(i)) i += 1
      i < n
  }

  /** Validates the two sides are equal-length with no null slots; returns
    * the common length. Loud failure beats a silently-wrong dot (see the
    * class doc): garbage from a null slot or a truncated loop would only
    * surface later as an oracle hash mismatch. The null check is the
    * word-wise [[hasNulls]]; only when it trips do we rescan per-element
    * to name the offending index. */
  private[functions] def checkedLength(op: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"$op requires equal-length arrays, got $n vs ${b.numElements()}")
    if (hasNulls(a, n) || hasNulls(b, n)) {
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i))
          throw new IllegalArgumentException(s"$op: null element at index $i")
        i += 1
      }
    }
    n
  }

  /** Exact integer dot of two array<bigint> columns (order-free). */
  def longDot(a: Column, b: Column): Column =
    ColumnGlue.column(LongArrayDot(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  /** floor-quantize + ±1-project an array<float|double> column to
    * array<bigint> in one native pass (see [[SignProjectQuantized]]). */
  def signProject(v: Column, signs: IndexedSeq[IndexedSeq[Long]], scale: Double): Column =
    ColumnGlue.column(SignProjectQuantized(ColumnGlue.expression(v), signs, scale))
}

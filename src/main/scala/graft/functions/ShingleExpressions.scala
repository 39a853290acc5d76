package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct 64-bit hashes of the word n-gram
  * shingles of a string, computed in ONE pass over the UTF-8 bytes with no
  * intermediate token/shingle materialization.
  *
  * Semantically identical (modulo 2⁻⁶⁴ hash collisions) to
  * `xxhash64(explode(array_distinct(<wordShingles HOF>)))`, but ~an order
  * of magnitude cheaper per row: the HOF formulation allocates a token
  * array, n slice arrays and a concat per shingle, and evaluates its
  * lambdas interpreted outside whole-stage codegen. Here each shingle is a
  * BYTE SPAN of the original string — `split(text, " ")` rejoined with a
  * single space is exactly the original span (single-byte separator), and
  * 0x20 never occurs inside a UTF-8 multi-byte sequence, so hashing the
  * span equals hashing the reconstructed shingle string:
  * XXH64 over the same bytes, same seed as Spark's built-in xxhash64()
  * (verified byte-for-byte in ShingleExpressionSpec).
  *
  * At 100 TB this is the difference between the shingle stage being a
  * codegen-fused map and being the pipeline bottleneck. */
final case class WordShingleHashes(child: Expression, n: Int)
  extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  def compute(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    // word i spans [start(i), end(i)): split on every single 0x20 byte —
    // the same tokenization as split(text, " ") incl. empty tokens
    var spaces = 0
    var i = 0
    while (i < len) { if (s.getByte(i) == 0x20) spaces += 1; i += 1 }
    val t = spaces + 1 // token count
    val spacePos = new Array[Int](spaces)
    var j = 0; i = 0
    while (i < len) { if (s.getByte(i) == 0x20) { spacePos(j) = i; j += 1 }; i += 1 }
    @inline def wordStart(w: Int): Int = if (w == 0) 0 else spacePos(w - 1) + 1
    @inline def wordEnd(w: Int): Int = if (w == t - 1) len else spacePos(w)

    val count = math.max(t - n, 0) + 1
    val out = new Array[Long](count)
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    var outLen = 0
    i = 0
    while (i < count) {
      val last = math.min(i + n - 1, t - 1)
      val from = wordStart(i)
      val to = wordEnd(last)
      val h = XXH64.hashUnsafeBytes(base, off + from, to - from, 42L)
      if (seen.add(h)) { out(outLen) = h; outLen += 1 }
      i += 1
    }
    new GenericArrayData(if (outLen == count) out else java.util.Arrays.copyOf(out, outLen))
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one virtual call per row into compute() — stays inside the generated
    // pipeline (same pattern as Spark's regexp/json expressions)
    val ref = ctx.addReferenceObj("shingler", this, classOf[WordShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

object ShingleExpressions {
  /** array<long>: distinct xxhash64 values of the word n-gram shingles —
    * drop-in for xxhash64 over the HOF shingle pipeline. */
  def wordShingleHashes(text: Column, n: Int): Column =
    ColumnGlue.column(WordShingleHashes(ColumnGlue.expression(text), n))
}

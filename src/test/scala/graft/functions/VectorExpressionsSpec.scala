package graft.functions

import graft.SparkSpec
import graft.functions.VectorExpressions.longDot
import org.apache.spark.sql.functions._

/** Value-identity guard for the native dot-product expression: the DuckDB
  * hash gate depends on [[LongArrayDot]] producing EXACTLY the numbers the
  * element_at chains it replaced produced. Any future edit to compute()
  * that changes the arithmetic breaks q32/q35/q39/q50/q81/q82's hashes —
  * this spec catches it before the gate does, on adversarial inputs
  * (mixed signs, values up to the 2^24 scoring grid). */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  test("LongArrayDot == unrolled element_at integer chain (exact, order-free)") {
    val rnd = new scala.util.Random(7)
    // values up to the 2^24 scoring grid, mixed signs
    val rows = Seq.fill(200)((
      Seq.fill(dim)(rnd.nextLong() % (1L << 24)),
      Seq.fill(dim)(rnd.nextLong() % (1L << 24))))
    val df = rows.toDF("a", "b")
    val chain = (1 to dim).map(i => element_at(col("a"), i) * element_at(col("b"), i))
      .reduce(_ + _)
    val diff = df.select(longDot(col("a"), col("b")).as("nat"), chain.as("old"))
      .filter(col("nat") =!= col("old")).count()
    assert(diff === 0L)
  }

  test("a null array side propagates to a null result") {
    val lf = Seq((Some(Seq(2L, 3L)), Option.empty[Seq[Long]])).toDF("a", "b")
    assert(lf.select(longDot(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("type checking rejects mismatched inputs loudly") {
    val df = Seq((Seq(1L, 2L), Seq(1.0, 2.0))).toDF("l", "d")
    intercept[Exception](df.select(longDot(col("l"), col("d"))).collect())
  }
}

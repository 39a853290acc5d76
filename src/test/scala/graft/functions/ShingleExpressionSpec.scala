package graft.functions

import graft.SparkSpec
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Parity contract for the native shingle-hash expression: byte-for-byte
  * equal to the HOF composition xxhash64 over array_distinct(wordShingles)
  * — on pathological inputs too. */
class ShingleExpressionSpec extends SparkSpec {
  import spark.implicits._

  private val tricky = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b a b a b a b",          // repeated shingles → distinctness matters
    "single",                    // fewer tokens than n
    "two words",
    "",                          // empty string → one empty token
    "  leading and  double spaces", // empty tokens from split(" ")
    "trailing space ",
    "über Ω snow ☃ mixed UTF-8 bytes",
    "exact three words")

  private val rnd = new scala.util.Random(7)
  private val fuzz = Seq.fill(200) {
    val words = Seq.fill(rnd.nextInt(12))(rnd.alphanumeric.take(rnd.nextInt(6)).mkString)
    words.mkString(" ")
  }

  private def parity(n: Int): Unit = {
    val df = (tricky ++ fuzz).toDF("text")
    val hof = df.select(
      sort_array(transform(wordShingles(col("text"), n), s => xxhash64(s))).as("expected"),
      sort_array(ShingleExpressions.wordShingleHashes(col("text"), n)).as("got"),
      col("text"))
    hof.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"xxhash64 n=$n text='${r.getString(2)}'")
    }
  }

  test("native expression == HOF pipeline for n=1..4 (incl. empty/multi-space/UTF-8)") {
    (1 to 4).foreach(parity)
  }

  test("distinct-shingle count matches size(wordShingles) (q30 sizes contract)") {
    val df = (tricky ++ fuzz).toDF("text")
    val rows = df.select(
      size(wordShingles(col("text"), 3)).as("expected"),
      size(ShingleExpressions.wordShingleHashes(col("text"), 3)).as("got")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(10)
      .select(concat_ws(" ", lit("a"), col("id").cast("string"), lit("b c")).as("text"))
      .select(ShingleExpressions.wordShingleHashes(col("text"), 3).as("h"))
    val plan = df.queryExecution.executedPlan.toString()
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [word_shingle_hashes"), plan)
    assert(df.collect().length === 10)
  }
}

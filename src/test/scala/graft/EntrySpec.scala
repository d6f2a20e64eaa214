package graft

import graft.pipe.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() must return rows (>0) and sane columns. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry returns non-empty extraction output") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains("extracted_text"))
    val n = df.count()
    assert(n > 0, s"entry produced $n rows")
    assert(df.filter("extracted_text != ''").count() > 0)
  }

  test("x_resume diff: two empty outputs match (0, 0) instead of " +
    "failing on the NULL sum over zero rows") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("conv_id", "turn_idx")
    assert(SparkEntry.resumeDiff(empty, empty) == ((0L, 0L)))
    val one = Seq(("c", 1L)).toDF("conv_id", "turn_idx")
    assert(SparkEntry.resumeDiff(one, empty) == ((1L, 1L)))
    assert(SparkEntry.resumeDiff(empty, one) == ((1L, -1L)))
  }
}

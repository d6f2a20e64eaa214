package graft.ops

import graft.pipe.SparkTestSession
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CappedBucketsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Cap = 5
  private val Keys = Seq("k", "s")

  /** (k, s, id, tag) rows: random buckets of size 1..9 (ids < 40,
    * random tags) plus fixed buckets (ids >= 100, tag = 10 x id + the
    * row's index) of size 1, Cap and Cap + 1, and a bucket holding one
    * id three times among two other ids.
    */
  private def fixture(): Seq[(Int, String, Long, Long)] = {
    val r = new java.util.Random(17)
    val random = (0 until 120).flatMap { b =>
      val size = 1 + r.nextInt(9)
      (0 until size).map(_ =>
        (b % 7, s"b$b", r.nextInt(40).toLong, r.nextLong()))
    }
    def bucket(s: String, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (id, i) => (-1, s, id, id * 10 + i) }
    random ++
      bucket("one", Seq(100L)) ++
      bucket("cap", (201L to 200L + Cap).reverse) ++
      bucket("over", 301L to 301L + Cap) ++
      bucket("dup", Seq(408L, 402L, 408L, 409L, 408L))
  }

  private def rowsDf(rows: Seq[(Int, String, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "s", "id", "tag").repartition(3)
  }

  /** All pairs within each bucket of 2..Cap rows, by plain Scala. */
  private def bruteForcePairs(rows: Seq[(Int, String, Long, Long)])
      : Seq[(Long, Long, Long, Long)] =
    rows.groupBy(r => (r._1, r._2)).values.toSeq
      .filter(b => b.size > 1 && b.size <= Cap)
      .flatMap { b =>
        for {
          i <- b.indices
          j <- b.indices if i < j && b(i)._3 != b(j)._3
        } yield {
          val (x, y) = if (b(i)._3 < b(j)._3) (b(i), b(j)) else (b(j), b(i))
          (x._3, y._3, x._4, y._4)
        }
      }

  test("selfPairs equals brute-force all pairs within each kept bucket") {
    import spark.implicits._
    val rows = fixture()
    val got = CappedBuckets.selfPairs(rowsDf(rows), Keys, Cap, null)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val want = bruteForcePairs(rows)
    assert(got.sorted == want.sorted)
    // the fixed buckets: size 1 and Cap + 1 give nothing, Cap gives
    // every pair once, a duplicated id never pairs with itself, and
    // each tag travels with its own id
    val fixed = got.filter(_._1 >= 100)
    assert(!fixed.exists(p => p._1 == 100L || p._1 / 100 == 3))
    assert(fixed.filter(_._1 / 100 == 2).map(p => (p._1, p._2)).sorted ==
      (for (a <- 201L to 200L + Cap; b <- a + 1 to 200L + Cap)
        yield (a, b)))
    val dup = fixed.filter(_._1 / 100 == 4)
    assert(dup.map(p => (p._1, p._2)).sorted ==
      Seq.fill(3)((402L, 408L)) ++ Seq((402L, 409L)) ++
        Seq.fill(3)((408L, 409L)))
    assert(fixed.forall { case (a, b, ta, tb) =>
      ta / 10 == a && tb / 10 == b })
    assert(!got.exists(p => p._1 >= p._2))
  }

  test("kept ledger equals the oversized buckets aggregated") {
    import spark.implicits._
    val rows = fixture()
    val df = rowsDf(rows)
    val obs = new Observation("capped-ledger")
    val kept = CappedBuckets.kept(df, Keys, Cap, obs)
    val keptKeys = df.join(kept, Keys).select($"k", $"s").distinct()
      .as[(Int, String)].collect().toSet
    val sizes = rows.groupBy(r => (r._1, r._2)).map { case (k, b) =>
      k -> b.size }
    assert(keptKeys == sizes.filter(_._2 <= Cap).keySet)
    val over = CappedBuckets.oversized(df, Keys, Cap)
      .agg(count(lit(1)), sum($"n")).collect()(0)
    val m = obs.get
    assert(m("dropped_buckets") == over.getLong(0), m)
    assert(m("dropped_rows") == over.getLong(1), m)
    assert(over.getLong(0) == sizes.count(_._2 > Cap))
    assert(over.getLong(1) == sizes.values.filter(_ > Cap).sum)
  }

  test("the three nearDuplicates plans hold no lambda chain") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    val r = new java.util.Random(23)
    val texts = (0 until 20).map(i =>
      (i.toLong, (0 until 30).map(_ => s"w${r.nextInt(60)}")
        .mkString(" ")))
    val docs = spark.createDataset(texts)
    val vecs = spark.createDataset((0 until 20).map(i =>
      (i.toLong, Seq.fill(8)(r.nextFloat() * 2 - 1)))).toDF("id", "vec")
    val plans = Seq(
      MinHashDedup.nearDuplicates(spark, docs),
      SimHash.nearDuplicates(spark, docs),
      EmbeddingDedup.nearDuplicates(spark, vecs, dim = 8))
    for (df <- plans) {
      val plan = df.queryExecution.optimizedPlan
      val lambdas = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: HigherOrderFunction => e
        case e: LambdaFunction => e
      }))
      assert(lambdas.isEmpty, plan.toString)
    }
  }
}

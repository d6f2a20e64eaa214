package graft.ops

import graft.pipe.SparkTestSession
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.LongType
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

  private val members = CappedMembers(BoundReference(0, LongType, false),
    BoundReference(1, LongType, false), Cap)

  private def held(b: MemberBuf): Seq[(Long, Long)] =
    (0 until b.m).map(i => (b.xs(2 * i), b.xs(2 * i + 1)))

  /** A partial buffer of the (id, id * 10) rows for `ids`. */
  private def partial(ids: Seq[Long]): MemberBuf =
    ids.foldLeft(members.createAggregationBuffer())((b, id) =>
      members.update(b, InternalRow(id, id * 10)))

  test("CappedMembers update, merge and serialize round trip") {
    val a = members.deserialize(members.serialize(partial(Seq(1L, 2L))))
    assert(a.n == 2 && held(a) == Seq((1L, 10L), (2L, 20L)))
    val empty = members.deserialize(members.serialize(
      members.createAggregationBuffer()))
    assert(empty.n == 0 && held(empty).isEmpty)
    val b = members.deserialize(members.serialize(
      members.merge(partial(Seq(3L)), empty)))
    val ab = members.merge(a, b)
    assert(ab.n == 3 && held(ab) == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // a round trip after the cap keeps n and no members
    val over = members.deserialize(members.serialize(
      partial(1L to Cap + 3L)))
    assert(over.n == Cap + 3 && held(over).isEmpty)
    // eval: struct(n, [(id, tag)])
    val out = members.eval(ab).asInstanceOf[InternalRow]
    val xs = out.getArray(1)
    assert(out.getLong(0) == 3L)
    assert((0 until xs.numElements()).map { i =>
      val m = xs.getStruct(i, 2)
      (m.getLong(0), m.getLong(1))
    } == held(ab))
    assert(members.eval(over).asInstanceOf[InternalRow]
      .getArray(1).numElements() == 0)
  }

  test("no CappedMembers buffer ever holds more than cap members") {
    val r = new java.util.Random(31)
    var (seenHeld, seenOver) = (false, false)
    def check(b: MemberBuf): MemberBuf = {
      assert(b.m <= Cap && b.xs.length <= 2 * Cap, (b.n, b.m))
      assert(b.m == (if (b.n <= Cap) b.n else 0L), (b.n, b.m))
      seenHeld ||= b.m > 1
      seenOver ||= b.n > Cap
      b
    }
    var pool = Vector.fill(8)(members.createAggregationBuffer())
    for (_ <- 0 until 400) {
      val i = r.nextInt(pool.length)
      pool = r.nextInt(4) match {
        case 0 => // merge two buffers, one through a round trip
          val j = r.nextInt(pool.length)
          val o = members.deserialize(members.serialize(pool(j)))
          pool.updated(i, check(members.merge(pool(i), o)))
            .updated(j, members.createAggregationBuffer())
        case _ =>
          pool.updated(i, check(members.update(pool(i),
            InternalRow(r.nextLong(), r.nextLong()))))
      }
    }
    assert(seenHeld && seenOver)
  }

  test("a bucket of cap + 1 rows split into partials of at most cap " +
    "rows ends with n = cap + 1 and no members") {
    val ids = (1L to Cap + 1L).toVector
    val splits = Seq(Seq(Cap, 1), Seq(1, Cap), Seq(3, 3), Seq(2, 2, 2),
      Seq.fill(Cap + 1)(1))
    for (sizes <- splits) {
      val parts = sizes.scanLeft(0)(_ + _).sliding(2).map {
        case Seq(from, to) => partial(ids.slice(from, to))
      }.toSeq
      assert(parts.forall(p => p.n <= Cap && p.m == p.n), sizes)
      val all = parts.map(p => members.deserialize(members.serialize(p)))
        .reduce(members.merge)
      assert(all.n == Cap + 1 && held(all).isEmpty, sizes)
    }
  }
}

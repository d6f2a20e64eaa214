package graft.functions

import graft.pipe.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val M = 4096
  private val K = 7

  /** Reference membership: a value is positive iff all k of its probe
    * positions are among the reference set's positions — the oracle's
    * formulation, independent of the blob's bit layout.
    */
  private def refContains(set: Seq[String], v: String): Boolean = {
    def fold(s: String, p: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % p)
    def positions(s: String): Seq[Long] = {
      val h1 = fold(s, 1000000007L); val step = 2 * fold(s, 998244353L) + 1
      (0 until K).map(i => (h1 + i * step) % M)
    }
    val setPos = set.flatMap(positions).toSet
    positions(v).forall(setPos.contains)
  }

  private def buildBlob(values: Seq[String]): Array[Byte] = {
    import spark.implicits._
    values.toDF("v").agg(Bloom.bloomAgg($"v", M, K).as("b"))
      .head.getAs[Array[Byte]](0)
  }

  test("every inserted value is contained; membership of arbitrary " +
    "probes matches the position-set reference exactly (FPs included)") {
    import spark.implicits._
    val inserted = (1 to 200).map(i => s"tok_$i")
    val blob = buildBlob(inserted)
    assert(blob.length == M / 8)
    val probes = inserted.take(20) ++ (1 to 500).map(i => s"other_$i")
    val got = probes.toDF("v")
      .select($"v", Bloom.bloomContains(lit(blob), $"v", K).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    probes.foreach { p =>
      assert(got(p) == refContains(inserted, p), s"probe $p")
    }
    assert(inserted.take(20).forall(got(_)), "no false negatives ever")
  }

  test("merge of per-slice blobs equals the blob of the union, " +
    "bit for bit; empty-input blooms contain nothing") {
    import spark.implicits._
    val vals = (1 to 300).map(i => s"w$i")
    val merged = vals.zipWithIndex.map { case (v, i) => (i % 3, v) }
      .toDF("slice", "v")
      .groupBy($"slice").agg(Bloom.bloomAgg($"v", M, K).as("b"))
      .agg(Bloom.bloomMerge($"b").as("b")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, buildBlob(vals)))
    val empty = Seq.empty[String].toDF("v")
      .agg(Bloom.bloomAgg($"v", M, K).as("b")).head.getAs[Array[Byte]](0)
    val r = Seq("anything").toDF("v")
      .select(Bloom.bloomContains(lit(empty), $"v", K)).head
    assert(!r.getBoolean(0))
  }

  test("merging blobs of different m fails loudly; SQL surface equals " +
    "the Column API") {
    import spark.implicits._
    GraftOpFunctions.register(spark)
    val a = buildBlob(Seq("x"))
    val b = Seq("x").toDF("v")
      .agg(Bloom.bloomAgg($"v", 2 * M, K).as("b"))
      .head.getAs[Array[Byte]](0)
    val e = intercept[Exception] {
      Seq(a, b).toDF("b").agg(Bloom.bloomMerge($"b")).collect()
    }
    assert(e.getMessage.contains("blob sizes differ") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("blob sizes differ"))
    Seq("p", "q").toDF("v").createOrReplaceTempView("bloom_in")
    val viaSql = spark.sql(
      s"SELECT graft_bloom_agg(v, $M, $K) AS b FROM bloom_in")
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, buildBlob(Seq("p", "q"))))
    val hits = spark.sql(
      s"SELECT v, graft_bloom_contains(" +
        s"(SELECT graft_bloom_agg(v, $M, $K) FROM bloom_in), v, $K) " +
        s"AS hit FROM bloom_in").collect()
    assert(hits.forall(_.getBoolean(1)))
  }

  test("a broadcast probe equals the literal probe; both compare by " +
    "blob content and render the blob as its size, never as hex") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.graft.ColumnBridge
    val inserted = (1 to 100).map(i => s"tok_$i")
    val blob = buildBlob(inserted)
    // repartition: a projection straight over local rows would be
    // folded into a LocalRelation before execution, leaving no probe
    val probes = (inserted.take(10) ++ (1 to 200).map(i => s"x_$i"))
      .toDF("v").repartition(2)
    val shipped = spark.sparkContext.broadcast(blob)
    def hits(c: org.apache.spark.sql.Column) =
      probes.select($"v", c.as("hit")).collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val viaBroadcast = probes.select($"v",
      Bloom.bloomContains(shipped, $"v", K).as("hit"))
    assert(hits(Bloom.bloomContains(shipped, $"v", K)) ==
      hits(Bloom.bloomContains(lit(blob), $"v", K)))
    // the optimized plan holds the handle, not the bytes
    val optimized = viaBroadcast.queryExecution.optimizedPlan
    assert(optimized.flatMap(_.expressions.flatMap(_.collect {
      case l @ Literal(_: Array[Byte], BinaryType) => l
    })).isEmpty)
    assert(optimized.toString.contains(s"<blob ${M / 8} bytes, broadcast"))
    // identity by content: a second handle, or none, is the same probe
    val e1 = ColumnBridge.expression(Bloom.bloomContains(shipped, $"v", K))
    val e2 = ColumnBridge.expression(Bloom.bloomContains(
      spark.sparkContext.broadcast(blob.clone()), $"v", K))
    val e3 = ColumnBridge.expression(Bloom.bloomContains(lit(blob), $"v", K))
    assert(e1 == e2 && e1 == e3)
    assert(e1.canonicalized == e2.canonicalized)
    val other = blob.clone(); other(0) = (other(0) ^ 1).toByte
    assert(e1 != ColumnBridge.expression(Bloom.bloomContains(
      spark.sparkContext.broadcast(other), $"v", K)))
    val hex = blob.take(16).map(b => f"$b%02X").mkString
    for (e <- Seq(e1, e3)) {
      assert(e.toString.startsWith(s"graft_bloom_contains(<blob ${M / 8} " +
        "bytes>"), e.toString)
      assert(!e.toString.toUpperCase.contains(hex))
    }
    // the SQL surface renders a literal blob the same way, through
    // optimization (the probe over a column is not constant-folded)
    GraftOpFunctions.register(spark)
    probes.createOrReplaceTempView("bloom_probes")
    val viaSql = spark.sql(s"SELECT v, graft_bloom_contains(X'${blob
      .map(b => f"$b%02X").mkString}', v, $K) AS hit FROM bloom_probes")
    assert(viaSql.collect().map(r => r.getString(0) -> r.getBoolean(1))
      .toMap == hits(Bloom.bloomContains(shipped, $"v", K)))
    val plan = viaSql.queryExecution.executedPlan.toString
    assert(plan.contains(s"<blob ${M / 8} bytes>"), plan)
    assert(!plan.toUpperCase.contains(hex), plan)
  }
}

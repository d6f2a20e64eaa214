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

  /** The retired decontamination chain, kept as the reference for the
    * one-pass kernel: non-empty ' '-split tokens, n-grams as joined
    * strings, array_distinct, and a probe lambda per distinct gram.
    */
  private def refGramHits(blob: org.apache.spark.broadcast.Broadcast[
      Array[Byte]], text: org.apache.spark.sql.Column, n: Int,
      k: Int): org.apache.spark.sql.Column = {
    val ws = filter(split(text, " "), w => w =!= "")
    val grams = when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array())
    size(filter(array_distinct(grams),
      g => Bloom.bloomContains(blob, g, k))).cast("long")
  }

  /** Random documents as raw bytes over a small vocabulary (so grams
    * repeat within and across docs): ASCII, é/İ/CJK, emoji, tabs and
    * newlines inside tokens, malformed UTF-8, runs of spaces, and the
    * degenerate null / "" / all-space docs.
    */
  private def randomDocs(count: Int, seed: Int): Seq[Array[Byte]] = {
    val r = new scala.util.Random(seed)
    def utf8(s: String) = s.getBytes("UTF-8")
    def raw(b: Int*) = b.map(_.toByte).toArray
    val vocab: IndexedSeq[Array[Byte]] =
      Seq("a", "b", "c", "d", "the", "of", "caf\u00e9", "\u0130stanbul",
        "\u4e2d\u6587", "\ud83d\ude00", "x\u00e9\ud83d\ude00y", "tab\tbed",
        "new\nline", "\u00e9").map(utf8).toIndexedSeq ++
        Seq(raw(0xFF), raw(0xFE), raw(0xC3), raw(0x80),
          raw(0xC0, 0x80), raw(0xED, 0xA0, 0x80), raw(0xE0, 0x80, 0x80),
          raw(0xF4, 0x90, 0x80, 0x80), raw(0xF0, 0x9F, 0x98),
          raw('q', 0xE2, 'z'))
    (0 until count).map { i =>
      i % 101 match {
        case 0 => null
        case 1 => Array.emptyByteArray
        case 2 => utf8(" " * (1 + r.nextInt(5)))
        case 3 => // one phrase repeated: every gram repeats
          val p = Seq.fill(3)(vocab(r.nextInt(vocab.length)))
          Seq.fill(1 + r.nextInt(6))(p).flatten
            .reduce((a, b) => a ++ utf8(" ") ++ b)
        case _ =>
          val toks = Seq.fill(r.nextInt(18))(
            vocab(r.nextInt(if (r.nextInt(4) == 0) vocab.length else 6)))
          val seps = Seq.fill(toks.length + 1)(
            utf8(" " * (if (r.nextInt(6) == 0) r.nextInt(3) + 2 else 1)))
          val body = toks.zip(seps.tail)
            .flatMap { case (t, sp) => t ++ sp }.toArray
          (if (r.nextBoolean()) seps.head else Array.emptyByteArray) ++
            body.dropRight(if (r.nextBoolean()) 1 else 0)
      }
    }
  }

  private def docsDf(docs: Seq[Array[Byte]]) = {
    import spark.implicits._
    // a binary -> string cast keeps malformed bytes as they are
    docs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("doc_id", "raw").repartition(4)
      .select($"doc_id", $"raw".cast("string").as("text"))
  }

  test("gram-width bloomAgg builds the blob of explode(n-grams) + " +
    "bloomAgg byte for byte, malformed UTF-8 included") {
    import spark.implicits._
    val docs = docsDf(randomDocs(3000, 41))
    assert(docs.filter(!expr("is_valid_utf8(text)")).count() > 0)
    for (n <- Seq(1, 3, 13)) {
      val ws = filter(split($"text", " "), w => w =!= "")
      val old = docs.select(explode(when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)), i =>
          array_join(slice(ws, i, lit(n)), " "))).otherwise(array()))
        .as("g"))
        .agg(Bloom.bloomAgg($"g", 1 << 14, 5).as("b"))
        .head.getAs[Array[Byte]](0)
      val direct = docs.agg(Bloom.bloomAgg($"text", 1 << 14, 5, gram = n))
        .head.getAs[Array[Byte]](0)
      assert(old.exists(_ != 0), s"n=$n")
      assert(java.util.Arrays.equals(old, direct), s"n=$n")
    }
  }

  test("gramHits equals the retired string chain on 20k random docs " +
    "(null, blank, space runs, tabs, non-ASCII, emoji, malformed " +
    "UTF-8, short docs, repeated grams), n = 1 and 3, empty blob") {
    import spark.implicits._
    val docs = docsDf(randomDocs(20200, 7)).cache()
    val k = 3
    for ((n, m) <- Seq((3, 1 << 16), (1, 1 << 10))) {
      val blob = docs.filter($"doc_id" % 50 === 0)
        .agg(Bloom.bloomAgg($"text", m, k, gram = n))
        .head.getAs[Array[Byte]](0)
      for (b <- Seq(blob, Array.emptyByteArray)) {
        val shipped = spark.sparkContext.broadcast(b)
        val rows = docs.select($"doc_id",
          Bloom.gramHits(shipped, $"text", n, k).as("got"),
          refGramHits(shipped, $"text", n, k).as("want"))
          .as[(Long, Long, Long)].collect()
        assert(rows.length == 20200)
        val bad = rows.filter(r => r._2 != r._3)
        assert(bad.isEmpty, s"n=$n blob=${b.length}: ${bad.take(5)
          .mkString(", ")}")
        val hits = rows.map(_._2)
        if (b.isEmpty) assert(hits.forall(_ == 0))
        else {
          // a real mix: clean docs, single hits and multi-gram hits
          assert(hits.count(_ == 0) > 1000, s"n=$n")
          assert(hits.count(_ > 1) > 1000, s"n=$n")
        }
      }
    }
    docs.unpersist()
  }

  test("gramHits counts distinct grams by content: repeats count " +
    "once, grams differing only in malformed bytes are one gram") {
    import spark.implicits._
    def bytes(s: String) = s.getBytes("UTF-8")
    val docs = docsDf(Seq(
      bytes("a b a b a b"),                  // 2-grams "a b", "b a"
      bytes("a b") ++ Array(0xFF.toByte) ++ bytes(" a b") ++
        Array(0xFE.toByte),                  // "a b U+FFFD" twice
      bytes("  a\tb  a\tb  a\tb "),           // "a\tb a\tb" twice
      bytes("\ud83d\ude00 \u4e2d \ud83d\ude00 \u4e2d")))
    val blob = docs.agg(Bloom.bloomAgg($"text", 1 << 12, 4, gram = 2))
      .head.getAs[Array[Byte]](0)
    val got = docs.select(Bloom.gramHits(
      spark.sparkContext.broadcast(blob), $"text", 2, 4))
      .as[Long].collect().toSeq
    // docsDf repartitions: compare as a multiset
    assert(got.sorted == Seq(1L, 2L, 2L, 2L))
  }

  test("gramHits counts the distinct grams of long documents whose " +
    "grams all hit: its own blob and a saturated blob") {
    import spark.implicits._
    // t0..t(w-1) twice: 2w-2 3-grams, w of them distinct. The retired
    // chain re-splits the text inside its lambda, so it is the
    // reference only for the shorter document; the long one (30,000
    // distinct hit grams) checks against a plain Scala count
    for (w <- Seq(3000, 30000)) {
      val toks = (0 until 2 * w).map(i => s"t${i % w}")
      assert(toks.sliding(3).map(_.mkString(" ")).toSet.size == w)
      val docs = docsDf(Seq(toks.mkString(" ").getBytes("UTF-8")))
      val own = docs.agg(Bloom.bloomAgg($"text", 1 << 20, 3, gram = 3))
        .head.getAs[Array[Byte]](0)
      for (b <- Seq(own, Array.fill[Byte](1 << 10)(-1))) {
        val shipped = spark.sparkContext.broadcast(b)
        val got = docs.select(Bloom.gramHits(shipped, $"text", 3, 3))
          .as[Long].head
        assert(got == w)
        if (w == 3000) assert(docs.select(refGramHits(shipped, $"text", 3,
          3)).as[Long].head == w)
      }
    }
  }
}

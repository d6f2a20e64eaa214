package graft.ops

import graft.pipe.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("decontaminate flags exactly the docs sharing an n-gram with " +
    "the benchmark, counting distinct shared grams") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e"),     // grams(3): "a b c" "b c d" "c d e"
      (2L, "x y z w"),       // clean
      (3L, "b c d b c d e"), // shares "b c d" (twice -> once) + "c d e"
      (4L, "b c")            // too short for any 3-gram
    ).toDF("doc_id", "text")
    val bench = Seq("b c d", "c d e q q q").toDF("text")
    val out = Retrieval.decontaminate(spark, corpus, bench, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 2L, 3L -> 2L))
  }

  test("decontaminate on a 24k-token document counts the distinct " +
    "shared grams a plain Scala count finds; no gram lambda re-splits " +
    "the text") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    val rnd = new scala.util.Random(20)
    val words = IndexedSeq.tabulate(30)(i => s"w$i")
    // double spaces leave empty tokens for toks to drop
    val toks = IndexedSeq.fill(24000)(words(rnd.nextInt(words.size)))
    val doc = toks.zipWithIndex
      .map { case (w, i) => if (i % 97 == 0) s" $w" else w }.mkString(" ")
    // bench docs: slices of the document (hits) and random text (few)
    val bench = (0 until 40).map { b =>
      if (b % 2 == 0) {
        val at = rnd.nextInt(toks.size - 60)
        toks.slice(at, at + 60).mkString(" ")
      } else Seq.fill(60)(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val n = 5
    val shared = bloomGrams(doc, n).toSet
      .intersect(bench.flatMap(bloomGrams(_, n)).toSet).size.toLong
    val corpusDf = Seq((1L, doc), (2L, "w0 w1")).toDF("doc_id", "text")
    val out = Retrieval.decontaminate(spark, corpusDf, bench.toDF("text"),
      n = n)
    assert(shared > 1000)
    assert(out.as[(Long, Long)].collect().toMap == Map(1L -> shared))
    val lambdas = out.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect {
        case l: LambdaFunction => l
      }))
    assert(lambdas.nonEmpty)
    assert(!lambdas.exists(_.function.exists(_.isInstanceOf[StringSplit])),
      out.queryExecution.optimizedPlan.toString)
  }

  test("bm25 ranks higher-tf docs above lower-tf at comparable length " +
    "and never returns docs without any query term") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana"),
      (2L, "apple apple banana"),
      (3L, "cherry")
    ).toDF("doc_id", "text")
    val queries = Seq((10L, Seq("apple"))).toDF("qid", "terms")
    val rows = Retrieval.bm25TopK(spark, corpus, queries, k = 5)
      .orderBy("rn").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // hand check: idf = ln(1 + (3-2+0.5)/2.5); doc2 tf=2 dl=3 beats
    // doc1 tf=1 dl=2 (2.2*2/3.65 > 2.2/2.2); doc3 has no query term
    assert(rows.map(_._2).toSeq == Seq(2L, 1L))
    assert(rows(0)._3 > rows(1)._3)
    val idf = math.log(1 + (3 - 2 + 0.5) / 2.5)
    val exp1 = math.round(idf * (1 * 2.2) /
      (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / 2.0)) * 1e6)
    assert(rows(1)._3 == exp1)
  }

  test("bm25 treats a query as a term SET: repeated terms (and a " +
    "repeated query row) score identically to the deduped query") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana"),
      (2L, "apple apple banana"),
      (3L, "cherry")
    ).toDF("doc_id", "text")
    val clean = Seq((10L, Seq("apple")))
      .toDF("qid", "terms")
    val noisy = Seq((10L, Seq("apple", "apple")), (10L, Seq("apple")))
      .toDF("qid", "terms")
    val a = Retrieval.bm25TopK(spark, corpus, clean, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val b = Retrieval.bm25TopK(spark, corpus, noisy, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("temperatureBalance: sqrt budgets flatten a 16-vs-4 split " +
    "(budget 6 and 3 of a half-corpus total 10)") {
    import spark.implicits._
    val corpus = ((0 until 16).map(i => (i.toLong, s"a-text-$i", "A")) ++
      (0 until 4).map(i => (100L + i, s"b-text-$i", "B")))
      .toDF("doc_id", "text", "source")
    val out = Retrieval.temperatureBalance(spark, corpus)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // T=20, half=10, weights 4e6/6e6 and 2e6/6e6 -> floor(6.67)=6,
    // floor(3.33)=3; kept == budget (both under the source totals)
    assert(out("A") == ((16L, 6L, 6L)))
    assert(out("B") == ((4L, 3L, 3L)))
  }

  test("chunk: hand-computed windows — counts, trailing short chunk, " +
    "full token coverage, exact content hashes") {
    import spark.implicits._
    val words = (1 to 80).map(i => s"w$i")
    val corpus = Seq(
      (1L, words.mkString(" ")),  // 80 tokens: chunks at 0,24,48 len 32,32,32
      (2L, words.take(10).mkString(" ")), // single short chunk
      (3L, "")                    // zero tokens -> absent
    ).toDF("doc_id", "text")
    val out = Retrieval.chunk(spark, corpus)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getString(3)))).toMap
    // n=80: nc = 1 + ceil(48/24) = 3; chunk2 covers 49..80 (32 tokens)
    assert(out.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    assert(out((1L, 0L))._1 == 32 && out((1L, 2L))._1 == 32)
    assert(out((2L, 0L))._1 == 10)
    def h(s: Seq[String]) = java.security.MessageDigest
      .getInstance("MD5").digest(s.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out((1L, 1L))._2 == h(words.slice(24, 56)))
    assert(out((2L, 0L))._2 == h(words.take(10)))
    // every token of doc 1 is covered by some chunk
    val covered = Seq(0, 24, 48).flatMap(s => s until (s + 32)).toSet
    assert((0 until 80).forall(covered))
  }

  test("pack: per-stream prefix sums and context-window spans") {
    import spark.implicits._
    val corpus = (1L to 40L)
      .map(id => (id, Seq.fill((id % 7).toInt * 30)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Retrieval.pack(spark, corpus, contextLen = 100)
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // empty docs (id % 7 == 0) are dropped
    assert(out.keySet == (1L to 40L).filter(_ % 7 != 0).toSet)
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // recompute every stream by hand: order by (md5, id), prefix-sum
    val byBucket = out.toSeq
      .map { case (id, t) => (md5hex(id.toString), id, t) }
      .groupBy(_._1.take(1))
    for ((bucket, rows) <- byBucket) {
      var cum = 0L
      for ((_, id, t) <- rows.sortBy(r => (r._1, r._2))) {
        val n = (id % 7) * 30
        assert(t == ((bucket, n, cum, cum / 100,
          (cum + n - 1) / 100, (cum + n - 1) / 100 - cum / 100 + 1)),
          s"id=$id")
        cum += n
      }
    }
    // a document never spans more contexts than ceil(n/L) + 1
    assert(out.values.forall { case (_, n, _, _, _, cn) =>
      cn <= n / 100 + 2 })
  }

  test("lmScore: add-one bigram NLL, hand-computed") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo")
    ).toDF("doc_id", "text")
    val out = Retrieval.lmScore(spark, corpus)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    // vocab {a,b,c,solo} V=4; c(a,b)=2 c(a,c)=1 c1(a)=3;
    // p(b|a)=(2+1)/(3+4)=3/7, p(c|a)=2/7; doc4 has no bigram
    val nllB = math.round(-math.log(3 * 1.0 / 7) * 1e6)
    val nllC = math.round(-math.log(2 * 1.0 / 7) * 1e6)
    assert(out == Map(1L -> ((1L, nllB)), 2L -> ((1L, nllB)),
      3L -> ((1L, nllC))))
  }

  /** A corpus where some docs carry 4-word windows of a bench doc
    * (true hits) and the rest are random words (clean unless the
    * filter has a false positive).
    */
  private def decontamFixture() = {
    import spark.implicits._
    val r = new scala.util.Random(5)
    def words(k: Int) = Seq.fill(k)(s"w${r.nextInt(400)}")
    val bench = Seq.fill(30)(words(12).mkString(" "))
    val corpus = (1 to 200).map { i =>
      val base = words(6 + r.nextInt(20))
      val text =
        if (i % 7 == 0) {
          val b = bench(r.nextInt(bench.length)).split(" ")
          val at = r.nextInt(b.length - 3)
          (base ++ b.slice(at, at + 4 + r.nextInt(3))).mkString(" ")
        } else base.mkString(" ")
      (i.toLong, text)
    }
    (corpus.toDF("doc_id", "text"), bench.toDF("text"), corpus, bench)
  }

  private def bloomGrams(text: String, n: Int): Seq[String] =
    text.split(" ").filter(_.nonEmpty).sliding(n)
      .filter(_.length == n).map(_.mkString(" ")).toSeq.distinct

  test("decontaminateBloom flags exactly the docs a plain Scala " +
    "BloomOps evaluation flags, with the same distinct-gram counts") {
    import spark.implicits._
    val (corpusDf, benchDf, corpus, bench) = decontamFixture()
    val (n, m, k) = (4, 1 << 12, 7)
    val blob = new Array[Byte](m / 8)
    bench.flatMap(bloomGrams(_, n))
      .foreach(graft.functions.BloomOps.add(blob, _, k))
    val expected = corpus.map { case (id, t) =>
      id -> bloomGrams(t, n).count(g => graft.functions.BloomOps
        .contains(blob, org.apache.spark.unsafe.types.UTF8String
          .fromString(g), k)).toLong
    }.filter(_._2 > 0).toMap
    val got = Retrieval.decontaminateBloom(spark, corpusDf, benchDf,
      n = n, m = m, k = k).as[(Long, Long)].collect().toMap
    assert(expected.size >= 28, "fixture plants hits in every 7th doc")
    assert(got == expected)
  }

  test("decontaminateBloom ships a 4 MiB blob as a broadcast: small " +
    "plan strings, no large binary literal after optimization") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val (corpusDf, benchDf, _, _) = decontamFixture()
    // repartition: a projection straight over local rows would be
    // folded into a LocalRelation before execution, leaving no probe
    val out = Retrieval.decontaminateBloom(spark, corpusDf.repartition(3),
      benchDf, n = 4, m = 1 << 25, k = 7)
    assert(out.count() >= 28)
    val qe = out.queryExecution
    def binaryLiterals(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Seq[Int] =
      p.flatMap(_.expressions.flatMap(_.collect {
        case Literal(b: Array[Byte], BinaryType) => b.length
      }))
    // the logical plan still carries the blob (plan identity)...
    assert(binaryLiterals(qe.logical) == Seq(4 << 20))
    // ...the optimized plan only the broadcast handle
    assert(binaryLiterals(qe.optimizedPlan).forall(_ <= 64 * 1024))
    val executed = qe.executedPlan.toString
    assert(executed.length < 64 * 1024, s"${executed.length} chars")
    assert(executed.contains("<blob 4194304 bytes, broadcast"))
    assert(qe.analyzed.toString.contains("<blob 4194304 bytes>"))
    assert(qe.analyzed.toString.length < 64 * 1024)
  }

  test("decontaminateBloom's optimized plan holds no lambda chain: " +
    "one gram-hits probe over the broadcast handle") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val (corpusDf, benchDf, _, _) = decontamFixture()
    val out = Retrieval.decontaminateBloom(spark, corpusDf.repartition(3),
      benchDf, n = 4, m = 1 << 12, k = 7)
    val exprs = out.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(!exprs.exists {
      case _: HigherOrderFunction | _: LambdaFunction => true
      case _ => false
    }, out.queryExecution.optimizedPlan.toString)
    assert(exprs.count {
      case i: StaticInvoke => i.functionName == "gramHits"
      case _ => false
    } == 1)
  }

  test("decontaminateBloom over a stream probes the shipped blob " +
    "exactly like the batch call") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (corpusDf, benchDf, corpus, _) = decontamFixture()
    val batch = Retrieval.decontaminateBloom(spark, corpusDf, benchDf,
      n = 4, m = 1 << 12).as[(Long, Long)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val stream = Retrieval.decontaminateBloom(spark,
      mem.toDF().toDF("doc_id", "text"), benchDf, n = 4, m = 1 << 12)
    val q = stream.writeStream.format("memory")
      .queryName("bloom_decontam_out").outputMode("append").start()
    val (a, b) = corpus.splitAt(corpus.length / 2)
    mem.addData(a)
    q.processAllAvailable()
    mem.addData(b) // a second micro-batch re-plans the same probe
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_shared FROM bloom_decontam_out")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(batch.nonEmpty)
    assert(got == batch)
  }
}

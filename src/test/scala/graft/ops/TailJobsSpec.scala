package graft.ops

import graft.pipe.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Job ledger of the curation tail: MinHash pairs -> cluster keepers ->
  * Bloom decontamination over a fixed small corpus held in ONE cached
  * partition (the single-file shape), each step materialized once as a
  * pipeline would. On small inputs the job count is the latency, so a
  * rise in any operator's count fails here.
  */
class TailJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Key = "graft.test.tail-op"

  /** Jobs started per value of the `Key` local property. */
  private final class JobsByOp extends SparkListener {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach(op => counts.merge(op, 1, _ + _))
  }

  private val cached = scala.collection.mutable.Buffer.empty[DataFrame]

  private def done(df: DataFrame): DataFrame = {
    cached += df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** 150 random docs, 10 near-copies of them (one word changed), a
    * 70-copy family (over the cap of 64 in every band) and 6 docs that
    * quote 13 words of an eval doc; 20 eval docs on their own words.
    */
  private def fixture(): (Seq[(Long, String)], Seq[String], Set[Long]) = {
    val r = new java.util.Random(5)
    def words(p: String, n: Int, vocab: Int) =
      Seq.fill(n)(s"$p${r.nextInt(vocab)}")
    val base = (0 until 150).map(i => i.toLong -> words("w", 40, 2000))
    val near = (0 until 10).map { i =>
      val ws = base(i)._2.toArray
      ws(20) = "changed"
      (1000L + i) -> ws.toSeq
    }
    val family = (0 until 70).map(i =>
      (2000L + i) -> Seq.fill(40)("same").zipWithIndex.map {
        case (w, j) => s"$w$j" })
    val eval = (0 until 20).map(_ => words("e", 60, 5000))
    val contaminated = (0 until 6).map { i =>
      (3000L + i) -> (words("w", 20, 2000) ++ eval(i).slice(10, 23) ++
        words("w", 20, 2000))
    }
    val docs = (base ++ near ++ family ++ contaminated)
      .map { case (id, ws) => id -> ws.mkString(" ") }
    (docs, eval.map(_.mkString(" ")), contaminated.map(_._1).toSet)
  }

  test("nearDuplicates, keepers and decontaminateBloom job counts") {
    import spark.implicits._
    val (rows, evalRows, contaminated) = fixture()
    val docs = done(rows.toDF("doc_id", "text").coalesce(1))
    val eval = done(evalRows.toDF("text"))
    val sc = spark.sparkContext
    val rec = new JobsByOp
    sc.addSparkListener(rec)
    def op[T](name: String)(f: => T): T = {
      sc.setLocalProperty(Key, name)
      try f finally sc.setLocalProperty(Key, null)
    }
    try {
      val ledger = new Observation("tail-jobs-ledger")
      val pairs = op("minhash")(done(MinHashDedup.nearDuplicates(spark,
        docs.as[(Long, String)], ledger = ledger)))
      val keepers = op("clusters")(done(Clusters.keepers(spark, pairs,
        docs.select($"doc_id".as("id")))))
      val kept = docs.join(keepers.filter($"is_keeper"),
        $"doc_id" === $"id", "left_semi")
      val flagged = op("decontam")(done(Retrieval.decontaminateBloom(
        spark, kept, eval, 13, 1 << 16, 7)))

      // outputs first: the counts below mean nothing on a wrong answer
      assert(ledger.get == Map("dropped_buckets" -> 16L,
        "dropped_rows" -> 16L * 70))
      val got = pairs.select($"id_a", $"id_b").as[(Long, Long)]
        .collect().toSet
      assert(got == (0 until 10).map(i => (i.toLong, 1000L + i)).toSet)
      assert(keepers.filter(!$"is_keeper").select($"id").as[Long]
        .collect().toSet == got.map(_._2))
      assert(flagged.select($"doc_id").as[Long].collect().toSet ==
        contaminated)

      org.apache.spark.TestBus.drain(sc)
      val jobs = Map("minhash" -> 0, "clusters" -> 0, "decontam" -> 0) ++
        scala.jdk.CollectionConverters.MapHasAsScala(rec.counts).asScala
      info(s"jobs per operator: $jobs")
      assert(jobs("minhash") <= 9, jobs)
      assert(jobs("clusters") <= 6, jobs)
      assert(jobs("decontam") <= 5, jobs)
    } finally {
      sc.removeSparkListener(rec)
      cached.foreach(_.unpersist())
    }
  }
}

package perfbench

import graft.ops.{Clusters, Lexicon, MinHashDedup, Retrieval, TextStats}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.storage.StorageLevel

/** curate_tail: the `ops` chain over a document table read from ONE
  * parquet file — redaction and quality, language id, MinHash near-dup
  * pairs, duplicate clusters, Bloom decontamination against a held-out
  * eval set, and a write. Each step's output is materialised once and
  * reused downstream. Closed loop, one client.
  */
object CurateTail {
  val Input = Gen.Corpus(docs = 900, bigFamilies = 2, bigSize = 80,
    exactPairs = 25, nearTriples = 50, contaminated = 20,
    evalDocs = 500, evalWords = 60)
  val K = 7

  val BloomBits: Int = 1 << 25

  private def done(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK).count()
    df
  }

  final case class Result(kept: DataFrame, keepers: DataFrame,
      pairs: DataFrame, flagged: DataFrame, ledger: Map[String, Any],
      cached: Seq[DataFrame])

  def chain(ctx: Ctx, docsPath: String, evalPath: String,
      outPath: String): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = ctx.span("ops.textstats") {
      done(spark.read.parquet(docsPath)
        .select($"doc_id", TextStats.redactPII($"text").as("text"))
        .withColumn("quality", TextStats.qualityScore($"text")))
    }
    val tagged = ctx.span("ops.lexicon.langid") {
      done(docs.withColumn("lang", Lexicon.langId($"text")))
    }
    val ledger = new Observation()
    val pairs = ctx.span("ops.minhash") {
      done(MinHashDedup.nearDuplicates(spark,
        tagged.select($"doc_id", $"text").as[(Long, String)],
        ledger = ledger))
    }
    val keepers = ctx.span("ops.clusters") {
      done(Clusters.keepers(spark, pairs,
        tagged.select($"doc_id".as("id"))))
    }
    val kept = tagged.join(keepers.filter($"is_keeper"),
      $"doc_id" === $"id", "left_semi")
    val flagged = ctx.span("ops.retrieval.decontam") {
      done(Retrieval.decontaminateBloom(spark, kept.select($"doc_id", $"text"),
        spark.read.parquet(evalPath), Gen.NGram, BloomBits, K))
    }
    ctx.span("ops.write") {
      kept.join(flagged, Seq("doc_id"), "left_outer")
        .withColumn("contaminated", $"n_shared".isNotNull)
        .write.mode("overwrite").parquet(outPath)
    }
    Result(kept, keepers, pairs, flagged, ledger.get,
      Seq(docs, tagged, pairs, keepers, flagged))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val docsPath = ctx.dir("docs")
    val evalPath = ctx.dir("eval")
    val outPath = ctx.dir("out")
    val sessionS = ctx.sinceJvmStart()
    val genS = Stats.timed(
      Gen.writeCorpus(spark, Input, ctx.seed, docsPath, evalPath))._2
    val docFiles = new java.io.File(docsPath).listFiles()
      .count(_.getName.endsWith(".parquet"))

    var last: Result = null
    val peaks = scala.collection.mutable.ArrayBuffer[Double]()
    val cpus = scala.collection.mutable.ArrayBuffer[Double]()
    def pass(): Double = {
      if (last != null) last.cached.foreach(_.unpersist(blocking = true))
      val ((s, cpu), mb) = ctx.measure {
        val (res, s) = Stats.timed(chain(ctx, docsPath, evalPath, outPath))
        last = res
        s
      }
      peaks += mb
      cpus += cpu
      s
    }
    val warmS = pass() // warm-up
    peaks.clear()
    cpus.clear()
    val setupS = ctx.sinceJvmStart()

    val prints = scala.collection.mutable.ArrayBuffer[String]()
    val (plain, withTrace) = ctx.closedLoop(if (ctx.trace) 2 else 1) { _ =>
      val s = pass()
      prints += Files.fingerprint(spark.read.parquet(outPath))
      s
    }
    val peakMb = Stats.median(peaks.toSeq)
    val passS = Stats.median(plain)

    // ---- correctness ------------------------------------------------
    val comp = last.keepers.select($"id", $"keeper_id").as[(Long, Long)]
      .collect().toMap
    val planted = Input.dupPairs
    val recalled = planted.count { case (a, b) => comp(a) == comp(b) }
    val nearRecall = recalled.toDouble / planted.length
    val flaggedIds = last.flagged.select($"doc_id").as[Long].collect().toSet
    val keptIds = last.kept.select($"doc_id").as[Long].collect().toSet
    val plantedContam = Input.contaminatedIds.map(_.toLong).filter(keptIds)
    val contamRecall =
      plantedContam.count(flaggedIds).toDouble / plantedContam.length
    val blob = blobBytes(last.flagged)
    val checks = Seq(
      Check("output is the same on every pass", prints.distinct.length == 1,
        prints.distinct.mkString(" ")),
      Check("planted contamination recall is 1",
        plantedContam.length == Input.contaminated && contamRecall == 1.0,
        s"${plantedContam.count(flaggedIds)}/${plantedContam.length} " +
          s"flagged of ${Input.contaminated} planted"),
      Check("single-file scan", docFiles == 1, s"$docFiles files"),
      Check("Bloom blob larger than one core's L2 (2 MiB)",
        blob > 2 * 1024 * 1024, s"$blob bytes"))

    val e2e = Outcome.e2e(Stats.mean(plain), peakMb, setupS, ctx.probe)
    val dropped = last.ledger
    val info = Map[String, Any](
      "docs" -> Input.docs, "doc_files" -> docFiles,
      "docs_per_s" -> Input.docs / passS,
      "cpu_s_per_op" -> Stats.median(cpus.toSeq),
      "docs_mb" -> Files.bytes(docsPath) / 1048576.0,
      "eval_docs" -> Input.evalDocs, "eval_grams" -> Input.evalGrams,
      "bloom_bits" -> BloomBits, "bloom_blob_kb" -> blob / 1024.0,
      "planted_dup_pairs" -> planted.length,
      "planted_exact_big_families" -> s"${Input.bigFamilies}x${Input.bigSize}",
      "planted_contaminated" -> Input.contaminated,
      "near_dup_recall" -> nearRecall,
      "dropped_buckets" -> dropped.getOrElse("dropped_buckets", 0L),
      "dropped_rows" -> dropped.getOrElse("dropped_rows", 0L),
      "passes" -> (plain.length + withTrace.length), "pass_s" -> plain,
      "setup_session_s" -> sessionS, "setup_generate_s" -> genS,
      "setup_warmup_s" -> warmS)
    val (layers, detail) =
      if (!ctx.trace) (Nil, Nil)
      else traceLayers(ctx, last, keptIds, flaggedIds, plantedContam.toSet,
        nearRecall, contamRecall, blob, plain, withTrace, docsPath, evalPath)
    Outcome(e2e, layers, detail, checks, attempted = plain.length + withTrace.length, info = info)
  }

  private val opNames = Seq("textstats" -> "ops.textstats",
    "lexicon" -> "ops.lexicon.langid", "minhash" -> "ops.minhash",
    "clusters" -> "ops.clusters", "retrieval" -> "ops.retrieval.decontam")

  private def traceLayers(ctx: Ctx, last: Result, keptIds: Set[Long],
      flaggedIds: Set[Long], plantedContam: Set[Long], nearRecall: Double,
      contamRecall: Double, blob: Int, plain: Seq[Double],
      withTrace: Seq[Double],
      docsPath: String, evalPath: String): (Seq[Metric], Seq[Metric]) = {
    val spark = ctx.spark
    import spark.implicits._
    val passes = withTrace.length
    def self(name: String): Double =
      Stats.median(ctx.tracer.spans(name, "pass-").map(ctx.tracer.selfSeconds))
    val times = Seq(
      "ops.textstats.s" -> "ops.textstats",
      "ops.lexicon.langid_s" -> "ops.lexicon.langid",
      "ops.minhash.s" -> "ops.minhash",
      "ops.clusters.s" -> "ops.clusters",
      "ops.retrieval.decontam_s" -> "ops.retrieval.decontam",
      "ops.write_s" -> "ops.write").map { case (m, s) => Metric(m, self(s), "s") }
    val counts = opNames.flatMap { case (op, scope) =>
      val a = ctx.scopes.get(spark, scope)
      Seq(Metric(s"ops.$op.jobs", a.jobs.toDouble / passes, "count"),
        Metric(s"ops.$op.shuffle_write_mb",
          a.shuffleWrite / passes / 1048576.0, "MB"),
        Metric(s"ops.$op.scan_tasks", a.firstStageTasks.toDouble, "count"))
    }
    val jobsPerPass = opNames.map(o => ctx.scopes.get(spark, o._2).jobs).sum +
      ctx.scopes.get(spark, "ops.write").jobs
    val floor = ctx.jobFloorSeconds()

    // candidate pairs = the same LSH with no Jaccard threshold
    val text = last.kept.sparkSession.read.parquet(docsPath)
      .select($"doc_id", TextStats.redactPII($"text").as("text"))
      .as[(Long, String)]
    val (candidates, verified) = ctx.tracer.inPass("minhash-candidates") {
      ctx.traced(on = true)(ctx.span("ops.minhash.candidates") {
        (MinHashDedup.nearDuplicates(spark, text, threshold = 0.0).count(),
          last.pairs.count())
      })
    }
    val components = last.keepers.filter(!$"is_keeper")
      .select($"keeper_id").distinct().count()
    // decontaminateBloom builds its blob eagerly and returns a lazy
    // frame, so a call over an empty corpus times the build alone
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val buildS = ctx.tracer.inPass("bloom-build") {
      ctx.traced(on = true)(ctx.span("functions.bloom.build") {
        Stats.median((1 to 3).map(_ => Stats.timed(Retrieval
          .decontaminateBloom(spark, noDocs, spark.read.parquet(evalPath),
            Gen.NGram, BloomBits, K))._2))
      })
    }
    val unplanted = keptIds.size - plantedContam.size
    // the curation corpus is not a transcript table: the source scan is
    // the documents read to a noop sink
    val scan = ctx.tracer.inPass("sources-scan") {
      ctx.traced(on = true)(ctx.span("sources.scan") {
        Stats.median((1 to 3).map(_ => Stats.timed(spark.read
          .parquet(docsPath).write.format("noop").mode("overwrite").save())._2))
      })
    }
    val all = ctx.scopes.sum(spark, opNames.map(_._2) :+ "ops.write")
    val layers = Outcome.layers(scan,
      (Files.bytes(docsPath) + Files.bytes(evalPath)) / 1048576.0, all, passes,
      floor * jobsPerPass / passes / Stats.median(plain),
      Stats.median(withTrace) / Stats.median(plain) - 1,
      Kernels.rates(ctx, Kernels.sample(ctx.seed, Gen.Transcripts(600, 0, 0))))
    val detail = Seq(
      Metric("ops.minhash.pairs", verified.toDouble, "count"),
      Metric("ops.minhash.verified_frac",
        verified.toDouble / math.max(candidates, 1L), "ratio"),
      Metric("ops.minhash.dropped_buckets", num(last.ledger, "dropped_buckets"),
        "count"),
      Metric("ops.minhash.dropped_rows", num(last.ledger, "dropped_rows"),
        "count"),
      Metric("ops.minhash.planted_recall", nearRecall, "ratio"),
      Metric("ops.clusters.components", components.toDouble, "count"),
      Metric("ops.retrieval.flagged_docs", flaggedIds.size.toDouble, "count"),
      Metric("ops.retrieval.planted_recall", contamRecall, "ratio"),
      Metric("ops.retrieval.false_flag_frac",
        (flaggedIds -- plantedContam).size.toDouble / unplanted, "ratio"),
      Metric("functions.bloom.blob_kb", blob / 1024.0, "KiB"),
      Metric("functions.bloom.build_s", buildS, "s"),
      Metric("bench.blocking_path_s",
        times.map(_.value).sum, "s")
    ) ++ times ++ counts
    (layers, detail)
  }

  private def num(m: Map[String, Any], k: String): Double = m.get(k) match {
    case Some(n: Number) => n.doubleValue
    case _ => 0.0
  }

  /** Size in bytes of the Bloom blob a `decontaminateBloom` call built:
    * the binary literal its probe expression carries (0 if there is none).
    */
  def blobBytes(flagged: DataFrame): Int = flagged
    .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    .queryExecution.logical
    .flatMap(_.expressions.flatMap(_.collect {
      case Literal(b: Array[Byte], BinaryType) => b.length
    }))
    .maxOption.getOrElse(0)
}

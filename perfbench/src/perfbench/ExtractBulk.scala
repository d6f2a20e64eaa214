package perfbench

import graft.extract.Extractor
import graft.pipe.Job
import graft.schema.{ExtractedTurn, Extraction, LineageRow, Turn, Versions}
import graft.sources.TranscriptSource
import graft.text.Render
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** extract_bulk: `Job.run` with ordered output over a many-file
  * transcript table, then parquet writes of the output and its lineage.
  * Closed loop, one client.
  */
object ExtractBulk {
  val Input = Gen.Transcripts(convs = 8000, megaEvery = 300, megaTurns = 2500)
  /** The warm-up table: the next conversations of the same seed, a
    * quarter of the input's.
    */
  val Warm = Gen.Transcripts(convs = 2000, megaEvery = 300, megaTurns = 2500)
  val WarmPasses = 3
  val RowsPerFile = 10000
  val Sampled = 300

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val input = ctx.dir("input")
    val outDir = ctx.dir("out")
    val linDir = ctx.dir("lineage")
    val sessionS = ctx.sinceJvmStart()
    val ((turns, stale), genS) = Stats.timed(Gen.writeTranscripts(spark,
      Input, ctx.seed, 0, withStale = true, RowsPerFile,
      spark.sparkContext.defaultParallelism, input))
    val rowsIn = turns + stale
    val warmInput = ctx.dir("warm-input")
    Gen.writeTranscripts(spark, Warm, ctx.seed, Input.convs, withStale = true,
      RowsPerFile, spark.sparkContext.defaultParallelism, warmInput)
    val inputMb = Files.bytes(input) / (1024.0 * 1024.0)

    var lastAcc: CollectionAccumulator[LineageRow] = null
    def pass(i: Int, from: String = input): Double = Stats.timed {
      val (out, acc) = ctx.span("pipe.job.run") {
        Job.run(spark, TranscriptSource.parquet(spark, from), s"bulk-$i")
      }
      ctx.span("pipe.job.write") {
        out.write.mode("overwrite").parquet(outDir)
      }
      ctx.span("pipe.job.lineage") {
        Job.lineage(spark, acc).write.mode("overwrite").parquet(linDir)
      }
      lastAcc = acc
    }._2

    // warm-up passes over the smaller table: the same code paths at a
    // quarter of the cost of a full pass
    val warmS = (1 to WarmPasses).map(k => pass(-k, warmInput)).sum
    val setupS = ctx.sinceJvmStart()

    // each pass's output fingerprint is read between passes, untimed
    val prints = scala.collection.mutable.ArrayBuffer[String]()
    val peaks = scala.collection.mutable.ArrayBuffer[Double]()
    val cpus = scala.collection.mutable.ArrayBuffer[Double]()
    val (plain, withTrace) = ctx.closedLoop(if (ctx.trace) 2 else 1) { i =>
      val ((s, cpu), mb) = ctx.measure(pass(i))
      peaks += mb
      cpus += cpu
      prints += Files.fingerprint(spark.read.parquet(outDir))
      s
    }
    val peakMb = Stats.median(peaks.toSeq)
    val passS = Stats.median(plain)

    // ---- correctness ------------------------------------------------
    val out = spark.read.parquet(outDir).as[ExtractedTurn]
    val lineage = Job.lineage(spark, lastAcc).collect().toSeq
    val outRows = out.count()
    val dropped = lineage.map(l => l.rows_in - l.rows_out).sum
    val rnd = new graft.synth.SynthTranscripts.Rng(ctx.seed ^ 0x5A3L)
    val keys = Seq.fill(Sampled) {
      val c = rnd.nextInt(Input.convs.toInt).toLong
      (c, rnd.nextInt(Input.turnsIn(ctx.seed, c)))
    }.distinct
    val expected = keys.map { case (c, t) =>
      val turn = Gen.turn(ctx.seed, c, t)
      (turn.conv_id, t) -> (turn, Extractor.extract(turn))
    }.toMap
    val got = out.join(expected.keys.toSeq.toDF("conv_id", "turn_idx"),
      Seq("conv_id", "turn_idx"), "left_semi").as[ExtractedTurn].collect()
    val mismatched = got.count { r =>
      val (_, ex) = expected((r.conv_id, r.turn_idx))
      ex.extractor != r.extractor || ex.extracted_text != r.extracted_text ||
        ex.spans != r.spans || ex.error != r.error
    }
    val renderBad = got.count { r =>
      val (turn, _) = expected((r.conv_id, r.turn_idx))
      Render.render(turn.text, r.spans, r.extractor) != r.extracted_text
    }
    val checks = Seq(
      Check("output rows equal distinct keys", outRows == turns,
        s"$outRows rows, $turns distinct keys"),
      Check("dropped rows equal planted stale duplicates", dropped == stale,
        s"$dropped dropped, $stale planted"),
      Check("sampled rows equal single-thread Extractor.extract",
        got.length == expected.size && mismatched == 0,
        s"${got.length}/${expected.size} found, $mismatched differ"),
      Check("sampled rows satisfy RENDER-1", renderBad == 0,
        s"$renderBad of ${got.length} differ from render(spans)"),
      Check("output row set is the same on every pass",
        prints.distinct.length == 1, prints.distinct.mkString(" ")))

    val floor = ctx.jobFloorSeconds()
    val e2e = Outcome.e2e(Stats.mean(plain), peakMb, setupS, ctx.probe)
    val (layers, detail) =
      if (!ctx.trace) (Nil, Nil)
      else traceLayers(ctx, input, lineage, out, plain, withTrace, floor,
        inputMb)
    Outcome(e2e, layers, detail, checks,
      attempted = plain.length + withTrace.length, info = Map(
        "input_rows" -> rowsIn, "distinct_turns" -> turns,
        "turns_per_s" -> rowsIn / passS,
        "cpu_s_per_op" -> Stats.median(cpus.toSeq),
        "planted_stale" -> stale, "input_files" -> new java.io.File(input)
          .listFiles().count(_.getName.endsWith(".parquet")),
        "input_mb" -> inputMb, "passes" -> (plain.length + withTrace.length),
        "pass_s" -> plain, "job_floor_s" -> floor, "setup_session_s" -> sessionS,
        "setup_generate_s" -> genS, "setup_warmup_s" -> warmS))
  }

  private val constFn: Turn => Extraction =
    _ => Extraction("plain", "", Nil, "", Versions.ExtractorVersion)

  private def traceLayers(ctx: Ctx, input: String, lineage: Seq[LineageRow],
      out: Dataset[ExtractedTurn], plain: Seq[Double], withTrace: Seq[Double],
      floor: Double, inputMb: Double): (Seq[Metric], Seq[Metric]) = {
    val spark = ctx.spark
    val all = ctx.scopes.sum(spark,
      Seq("pipe.job.run", "pipe.job.write", "pipe.job.lineage"))
    val pass = ctx.scopes.get(spark, "pipe.job.write")
    val lin = ctx.scopes.get(spark, "pipe.job.lineage")
    val passes = withTrace.length
    val jobsPerPass = (pass.jobs + lin.jobs).toDouble / passes

    // variants of the pass: differences give the layer self times
    def variant(name: String)(f: => Unit): Double =
      (1 to 2).map(k => ctx.tracer.inPass(s"$name-$k") {
        ctx.traced(on = true)(Stats.timed(ctx.span(name)(f))._2)
      }).min
    def turns = TranscriptSource.parquet(spark, input)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val scan = variant("sources.scan")(noop(turns.toDF()))
    val hashConst = variant("pipe.job.hash_const")(noop(
      Job.run(spark, turns, "v", orderOutput = false, extractFn = constFn)
        ._1.toDF()))
    val rangeConst = variant("pipe.job.range_const")(noop(
      Job.run(spark, turns, "v", extractFn = constFn)._1.toDF()))
    val rangeReal = variant("pipe.job.range_extract")(noop(
      Job.run(spark, turns, "v")._1.toDF()))
    val full = withTrace.min
    val blocking = Seq(scan, hashConst - scan, rangeConst - hashConst,
      rangeReal - rangeConst, full - rangeReal).sum

    def skew(xs: Seq[Double]): Double = xs.max / Stats.median(xs)
    val kinds = out.groupBy(col("extractor")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def kind(k: String*): Double = k.map(kinds.getOrElse(_, 0L)).sum.toDouble
    val fallback = out.filter(col("error") =!= "").count().toDouble

    val layers = Outcome.layers(scan, inputMb, all, passes,
      floor * jobsPerPass / Stats.median(plain),
      Stats.median(withTrace) / Stats.median(plain) - 1,
      Kernels.rates(ctx, Kernels.sample(ctx.seed, Input)))
    val detail = Seq(
      Metric("pipe.job.exchange_sort_s", hashConst - scan, "s"),
      Metric("pipe.job.range_sample_s", rangeConst - hashConst, "s"),
      Metric("pipe.job.extract_self_s", rangeReal - rangeConst, "s"),
      Metric("pipe.job.write_s", full - rangeReal, "s"),
      Metric("pipe.job.shuffle_write_mb",
        pass.shuffleWrite / passes / 1048576.0, "MB"),
      Metric("pipe.job.spill_mb", pass.spill / passes / 1048576.0, "MB"),
      Metric("pipe.job.jobs", jobsPerPass, "count"),
      Metric("pipe.job.tasks", (pass.tasks + lin.tasks).toDouble / passes,
        "count"),
      Metric("pipe.job.partition_rows_skew",
        skew(lineage.map(_.rows_out.toDouble)), "ratio"),
      Metric("pipe.job.partition_wall_skew",
        skew(lineage.map(_.wall_ms.toDouble)), "ratio"),
      Metric("pipe.job.dedupe_dropped_rows",
        lineage.map(l => l.rows_in - l.rows_out).sum.toDouble, "count"),
      Metric("extract.plain_turns", kind("plain"), "count"),
      Metric("extract.html_turns", kind("html"), "count"),
      Metric("extract.pdf_turns", kind("pdf"), "count"),
      Metric("extract.md_turns", kind("md"), "count"),
      Metric("extract.tool_turns", kind("tool", "tool_search"), "count"),
      Metric("extract.fallback_turns", fallback, "count"),
      Metric("bench.blocking_path_s", blocking, "s"))
    (layers, detail)
  }
}

package perfbench

import graft.pipe.{Checkpoint, Job}
import graft.schema.ExtractedTurn
import graft.streaming.StreamingJob
import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}
import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** ingest_trickle: small parquet files land on a fixed schedule (open
  * loop, one generator thread). The same arrival stream is replayed
  * into two phases: `Checkpoint.runIncremental` per arrival, then the
  * structured-streaming pipeline. Latency runs from each file's
  * SCHEDULED landing time to the commit that publishes it.
  */
object IngestTrickle {
  /** Files per second; an increment takes well under 1/Rate of a
    * second per file, so the backlog stays bounded.
    */
  val Rate = 5.0
  val RowsPerFile = 300
  val WarmFiles = 12

  /** The generator: lands staged file i at start + i / Rate by copying
    * it beside the input directory and renaming it in (atomic), and
    * signals the consumer.
    */
  final class Lander(staged: IndexedSeq[File], dest: String,
      rate: Double) extends Thread("perfbench-lander") {
    val startNs: Long = System.nanoTime() + 200000000L
    val startEpochMs: Double =
      System.currentTimeMillis() + (startNs - System.nanoTime()) / 1e6
    val landedNs = new Array[Long](staged.length)
    val arrivals = new LinkedBlockingQueue[Integer]()
    setDaemon(true)

    def scheduledNs(i: Int): Long = startNs + (i * 1e9 / rate).toLong
    def scheduledEpochMs(i: Int): Double = startEpochMs + i * 1000.0 / rate
    def name(i: Int): String = f"f$i%05d.parquet"

    override def run(): Unit = {
      val tmp = new File(dest + ".landing")
      tmp.mkdirs()
      new File(dest).mkdirs()
      for (i <- staged.indices) {
        val wait = scheduledNs(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val t = new File(tmp, name(i)).toPath
        JFiles.copy(staged(i).toPath, t, StandardCopyOption.REPLACE_EXISTING)
        JFiles.move(t, new File(dest, name(i)).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        landedNs(i) = System.nanoTime()
        arrivals.put(i)
      }
    }

    def latenessMaxS: Double =
      staged.indices.map(i => (landedNs(i) - scheduledNs(i)) / 1e9).max
  }

  /** Latencies (s), and the largest number of landed but uncommitted
    * files at any landing, in the first and second half of the schedule.
    */
  final case class Phase(latency: Seq[Double], backlog: (Int, Int),
      lateness: Double, progress: Seq[StreamingQueryProgress],
      increments: Seq[Double])

  private def backlog(landed: Seq[Double], committed: Seq[Double])
      : (Int, Int) = {
    val at = landed.indices.map(i =>
      landed.indices.count(j => landed(j) <= landed(i) && committed(j) > landed(i)))
    val half = at.length / 2
    (at.take(half).max, at.drop(half).max)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // each phase's schedule lasts --seconds
    val files = math.max(1, (Rate * ctx.seconds).round.toInt)
    val staging = ctx.dir("staging")
    // enough conversations for files + warm-up files (~21 turns each)
    val convs = ((files + WarmFiles) * RowsPerFile / 15).toLong
    val input = Gen.Transcripts(convs, 0, 0)
    Gen.writeTranscripts(spark, input, ctx.seed,
      first = 0, withStale = false, RowsPerFile, tasks = 1, staging)
    val parts = new File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(f => f.getName.split("-c").last.takeWhile(_.isDigit).toInt)
    require(parts.length >= files + WarmFiles,
      s"generated ${parts.length} files, need ${files + WarmFiles}")
    val warm = parts.take(WarmFiles).toIndexedSeq
    val timed = parts.slice(WarmFiles, WarmFiles + files).toIndexedSeq

    def resume(name: String, staged: IndexedSeq[File], rate: Double): Phase = {
      val in = ctx.dir(s"$name/in")
      val out = ctx.dir(s"$name/out")
      val state = ctx.dir(s"$name/state")
      val lander = new Lander(staged, in, rate)
      val commitNs = mutable.Map[String, Long]()
      val incs = mutable.ArrayBuffer[Double]()
      lander.start()
      var runs = 0
      while (commitNs.size < staged.length) {
        lander.arrivals.take()
        lander.arrivals.clear()
        val (n, s) = Stats.timed(ctx.span("pipe.checkpoint.increment") {
          Checkpoint.runIncremental(spark, in, out, state, f"inc-$runs%05d")
        })
        val done = System.nanoTime()
        if (n > 0) {
          runs += 1
          incs += s
          Checkpoint.readManifest(spark, state).files
            .map(p => new File(new java.net.URI(p)).getName)
            .foreach(f => if (!commitNs.contains(f)) commitNs(f) = done)
        }
      }
      lander.join()
      val lat = staged.indices.map(i =>
        (commitNs(lander.name(i)) - lander.scheduledNs(i)) / 1e9)
      val landed = staged.indices.map(i => lander.landedNs(i) / 1e9)
      val committed = staged.indices.map(i => commitNs(lander.name(i)) / 1e9)
      Phase(lat, backlog(landed, committed), lander.latenessMaxS, Nil,
        incs.toSeq)
    }

    def stream(name: String, staged: IndexedSeq[File], rate: Double): Phase = {
      val in = ctx.dir(s"$name/in")
      val out = ctx.dir(s"$name/out")
      val ckpt = ctx.dir(s"$name/ckpt")
      new File(in).mkdirs()
      val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
      val listener = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
        def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent) = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent) =
          progress.synchronized(progress += e.progress)
      }
      spark.streams.addListener(listener)
      val q = ctx.span("streaming.query") {
        StreamingJob.writer(StreamingJob.extractStream(
          StreamingJob.withDedupe(StreamingJob.readTurnStream(spark, in))),
          out, ckpt).trigger(Trigger.ProcessingTime(0L)).start()
      }
      val lander = new Lander(staged, in, rate)
      lander.start()
      lander.join()
      q.processAllAvailable()
      q.stop()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
      val batchOf = sourceLog(ckpt)
      val endMs = progress.map(p => p.batchId ->
        (java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue)).toMap
      val committedMs = staged.indices.map(i =>
        endMs(batchOf(lander.name(i))).toDouble)
      val lat = staged.indices.map(i =>
        (committedMs(i) - lander.scheduledEpochMs(i)) / 1000.0)
      val landed = staged.indices.map(i => lander.scheduledEpochMs(i) +
        (lander.landedNs(i) - lander.scheduledNs(i)) / 1e6)
      Phase(lat, backlog(landed, committedMs), lander.latenessMaxS,
        progress.filter(_.numInputRows > 0).toSeq, Nil)
    }

    // warm-up: both paths over a short schedule at twice the rate, so
    // that several increments and micro-batches run before timing
    resume("warm-resume", warm, 2 * Rate)
    stream("warm-stream", warm, 2 * Rate)
    val setupS = ctx.sinceJvmStart()

    val ((r, rCpu), rMb) = ctx.measure(resume("resume", timed, Rate))
    val ((s, sCpu), sMb) = ctx.measure(stream("stream", timed, Rate))
    val peakMb = math.max(rMb, sMb)

    // ---- correctness ------------------------------------------------
    val cols = Encoders.product[ExtractedTurn].schema.fieldNames.map(col)
    def print(df: DataFrame): String = Files.fingerprint(df.select(cols: _*))
    val names = timed.indices.map(i => f"f$i%05d.parquet").toSet
    val manifestFiles = scala.io.Source.fromFile(
      ctx.dir("resume/state/manifest.txt"), "UTF-8").getLines()
      .filter(_.startsWith("F ")).map(l => new File(
        new java.net.URI(l.drop(2))).getName).toSeq
    val resumed = print(Checkpoint.readCommitted(spark, ctx.dir("resume/out"),
      ctx.dir("resume/state")))
    val streamed = print(spark.read.parquet(ctx.dir("stream/out")))
    val landedPaths = names.toSeq.sorted.map(n => ctx.dir(s"resume/in/$n"))
    val batch = print(Job.run(spark, spark.read.parquet(landedPaths: _*)
      .as(Encoders.product[graft.schema.Turn]), "batch-check",
      orderOutput = false)._1.toDF())
    val bound = (Rate * 2).toInt
    def grows(p: Phase) = p.backlog._2 > p.backlog._1 + bound
    val checks = Seq(
      Check("manifest lists every landed file exactly once",
        manifestFiles.length == names.size && manifestFiles.toSet == names,
        s"${manifestFiles.length} entries, ${manifestFiles.toSet.size} " +
          s"distinct, ${names.size} landed"),
      Check("resumed rows equal streamed rows equal batch Job.run",
        resumed == streamed && streamed == batch,
        s"resume $resumed, stream $streamed, batch $batch"),
      Check("backlog stays bounded",
        !grows(r) && !grows(s),
        s"resume ${r.backlog}, stream ${s.backlog} (first/second half max)"))

    def tail(xs: Seq[Double]) = Stats.tail(xs).getOrElse((0.0, xs.max))
    val (rp, rt) = tail(r.latency)
    val (sp, st) = tail(s.latency)
    // one operation is one landed file, through either path. Files that
    // land during one increment share its commit, so the median jumps
    // from one increment's value to another's; the mean does not
    val e2e = Outcome.e2e(Stats.mean(r.latency ++ s.latency), peakMb, setupS,
      ctx.probe)
    val lateness = math.max(r.lateness, s.lateness)
    val inputMb = timed.map(_.length).sum / 1048576.0
    val (layers, detail) =
      if (!ctx.trace) (Nil, Nil) else traceLayers(ctx, r, s, lateness,
        () => resume("resume-traced", timed, Rate),
        () => stream("stream-traced", timed, Rate), inputMb,
        Kernels.sample(ctx.seed, input))
    Outcome(e2e, layers, detail, checks, attempted = 2L * files,
      info = Map("rate_files_per_s" -> Rate, "files_per_phase" -> files,
        "resume_freshness_p50_s" -> Stats.median(r.latency),
        "cpu_s_per_op" -> (rCpu + sCpu) / (2 * files),
        "resume_freshness_mean_s" -> Stats.mean(r.latency),
        "stream_freshness_mean_s" -> Stats.mean(s.latency),
        "resume_freshness_tail_s" -> rt,
        "stream_freshness_p50_s" -> Stats.median(s.latency),
        "stream_freshness_tail_s" -> st,
        "rows_per_file" -> RowsPerFile,
        "input_mb_per_phase" -> inputMb,
        "resume_tail_percentile" -> rp, "stream_tail_percentile" -> sp,
        "latency_samples_per_phase" -> files,
        "generator_lateness_max_s" -> lateness,
        "resume_backlog_max_files" -> math.max(r.backlog._1, r.backlog._2),
        "stream_backlog_max_files" -> math.max(s.backlog._1, s.backlog._2),
        "increments" -> r.increments.length,
        "stream_batches" -> s.progress.length))
  }

  /** File name -> micro-batch id, from the file source's log in the
    * query checkpoint (plain and compacted entries).
    */
  private def sourceLog(ckpt: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    new File(ckpt, "sources/0").listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      .collect { case entry(p, b) => new File(new java.net.URI(p)).getName -> b.toLong }
      .toMap
  }

  private def traceLayers(ctx: Ctx, r: Phase, s: Phase,
      lateness: Double, resumeAgain: () => Phase,
      streamAgain: () => Phase, inputMb: Double,
      sample: Seq[graft.schema.Turn]): (Seq[Metric], Seq[Metric]) = {
    val spark = ctx.spark
    // the parquet writes the real runIncremental calls make, as Spark
    // times them: output path -> seconds
    val writes = mutable.ArrayBuffer[(String, Double)]()
    val writeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.foreach(p => writes.synchronized(writes += p -> ns / 1e9))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.listenerManager.register(writeListener)
    val (rt, st) = try ctx.tracer.inPass("traced") {
      ctx.traced(on = true)((resumeAgain(), streamAgain()))
    } finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      session.listenerManager.unregister(writeListener)
    }
    val inc = ctx.scopes.get(spark, "pipe.checkpoint.increment")
    val in = ctx.dir("resume-traced/in")
    val state = ctx.dir("resume-traced/state")
    val out = ctx.dir("resume-traced/out")
    val runDir = """/resume-traced/out/(?:extracted|lineage)/run=([^/]+)$""".r.unanchored
    // per increment: its output write plus its lineage write
    val writeS = Stats.median(writes.toSeq
      .collect { case (runDir(id), s) => id -> s }
      .groupMapReduce(_._1)(_._2)(_ + _).values.toSeq)
    def med(n: Int)(f: => Any): Double =
      Stats.median((1 to n).map(_ => Stats.timed(f)._2))
    val all = ctx.scopes.sum(spark,
      Seq("pipe.checkpoint.increment", "streaming.query"))
    val (scan, list, manifest, readback) =
      ctx.tracer.inPass("checkpoint-parts") { ctx.traced(on = true) {
        (ctx.span("sources.scan")(med(3)(graft.sources.TranscriptSource
          .parquet(spark, in).toDF().write.format("noop").mode("overwrite")
          .save())),
        ctx.span("pipe.checkpoint.list")(
          med(5)(Checkpoint.listInputFiles(spark, in))),
        ctx.span("pipe.checkpoint.manifest_read")(
          med(5)(Checkpoint.readManifest(spark, state))),
        ctx.span("pipe.checkpoint.readback")(
          med(3)(Checkpoint.readCommitted(spark, out, state).count())))
      } }
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
    val prog = st.progress
    val incP50 = Stats.median(rt.increments)
    val floor = ctx.jobFloorSeconds()
    val jobsPerInc = inc.jobs.toDouble / rt.increments.length
    val layers = Outcome.layers(scan, inputMb, all, 2.0 * rt.latency.length,
      floor * jobsPerInc / incP50,
      (Stats.median(rt.latency) + Stats.median(st.latency)) /
        (Stats.median(r.latency) + Stats.median(s.latency)) - 1,
      Kernels.rates(ctx, sample))
    val detail = Seq(
      Metric("pipe.checkpoint.increment_p50_s", incP50, "s"),
      Metric("pipe.checkpoint.list_s", list, "s"),
      Metric("pipe.checkpoint.manifest_read_s", manifest, "s"),
      Metric("pipe.checkpoint.write_s", writeS, "s"),
      Metric("pipe.checkpoint.readback_s", readback, "s"),
      Metric("pipe.checkpoint.jobs_per_increment", jobsPerInc, "count"),
      Metric("pipe.checkpoint.backlog_max_files",
        math.max(rt.backlog._1, rt.backlog._2).toDouble, "count"),
      Metric("streaming.trigger_p50_s",
        Stats.median(prog.map(ms(_, "triggerExecution"))), "s"),
      Metric("streaming.add_batch_p50_s",
        Stats.median(prog.map(ms(_, "addBatch"))), "s"),
      Metric("streaming.planning_p50_s",
        Stats.median(prog.map(ms(_, "queryPlanning"))), "s"),
      Metric("streaming.commit_p50_s", Stats.median(prog.map(p =>
        ms(p, "walCommit") + ms(p, "commitOffsets"))), "s"),
      Metric("streaming.batches", prog.length.toDouble, "count"),
      Metric("streaming.state_rows", prog.flatMap(_.stateOperators
        .map(_.numRowsTotal)).maxOption.getOrElse(0L).toDouble, "count"),
      Metric("streaming.backlog_max_files",
        math.max(st.backlog._1, st.backlog._2).toDouble, "count"),
      Metric("bench.generator_lateness_max_s",
        Seq(lateness, rt.lateness, st.lateness).max, "s"))
    (layers, detail)
  }
}

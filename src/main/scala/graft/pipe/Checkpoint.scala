package graft.pipe

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import graft.schema.LineageRow
import graft.sources.TranscriptSource
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.hadoop.mapreduce.{Job => HadoopJob, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

/** Snapshot-incremental resume (the north rule's "resumable from Iceberg
  * snapshot checkpoints", expressed against the sandbox's parquet
  * directories — same contract, file-manifest granularity: on a real
  * Iceberg table the manifest is the last-processed snapshot id and the
  * incremental read is `option("start-snapshot-id", ...)`).
  *
  * Crash-safety contract:
  *  - each increment stages its output under RUN-SCOPED paths, each
  *    cleared before it is written, so replaying a crashed run REWRITES
  *    the same directories instead of appending duplicates (extraction
  *    is deterministic): `extracted/run=<id>` is a Spark write with
  *    SaveMode.Overwrite; `lineage/run=<id>` is then ONE parquet file
  *    that the driver writes from the attempt-deduplicated accumulator
  *    rows, staged after the output write and before the commit;
  *  - the manifest (processed input files + committed run ids) is the
  *    single atomic publish point, renamed over the old one with
  *    FileContext.rename(OVERWRITE) — never delete-then-rename, so no
  *    window where the manifest is missing;
  *  - readers consume `readCommitted`, which lists only run directories
  *    whose id is in the manifest — a crash after staging but before
  *    commit leaves an orphan directory that is never read and is
  *    rewritten on replay.
  *
  * State layout under `stateDir`: `manifest.txt` with one record per
  * line — `F <input-file>` or `R <runId>`.
  */
object Checkpoint {

  def listInputFiles(spark: SparkSession, inputDir: String): Seq[String] = {
    val path = new Path(inputDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq.map(_.getPath.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .sorted
  }

  final case class Manifest(files: Set[String], runs: Set[String])

  def readManifest(spark: SparkSession, stateDir: String): Manifest = {
    val p = new Path(stateDir, "manifest.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Manifest(Set.empty, Set.empty)
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toVector
        finally in.close()
      Manifest(
        lines.collect { case l if l.startsWith("F ") => l.drop(2) }.toSet,
        lines.collect { case l if l.startsWith("R ") => l.drop(2) }.toSet)
    }
  }

  def committedRuns(spark: SparkSession, stateDir: String): Set[String] =
    readManifest(spark, stateDir).runs

  /** Atomically publish `files` + `runId` into the manifest: write a
    * temp file, then rename OVER the current manifest (overwrite-capable
    * atomic rename — no delete window).
    */
  def commit(spark: SparkSession, stateDir: String,
      files: Seq[String], runId: String): Unit = {
    val prev = readManifest(spark, stateDir)
    val all = (prev.files ++ files).toSeq.sorted.map("F " + _) ++
      (prev.runs + runId).toSeq.sorted.map("R " + _)
    val dir = new Path(stateDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val tmp = new Path(stateDir, "manifest.txt.tmp")
    val out = fs.create(tmp, true)
    try out.write((all.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fin = new Path(stateDir, "manifest.txt")
    val fc = FileContext.getFileContext(fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(fin),
      Options.Rename.OVERWRITE) // atomic commit point
  }

  /** One incremental run: process only input files not yet in the
    * manifest; stage extracted output + lineage under run-scoped
    * overwrite paths; then commit the manifest. Returns number of new
    * files processed. Safe to replay with the same runId after a crash
    * at any point.
    *
    * Two Spark jobs per increment, both moving data: the keyed
    * exchange and the output write. The input is read with the
    * contract schema (schema inference would be a third job, over the
    * footers), and the lineage rows, already on the driver, are
    * written without one.
    */
  def runIncremental(spark: SparkSession, inputDir: String,
      outputDir: String, stateDir: String, runId: String): Int = {
    val manifest = readManifest(spark, stateDir)
    val todo = listInputFiles(spark, inputDir)
      .filterNot(manifest.files)
    // nothing new: a replay of an already-committed increment is a
    // no-op, NOT an error (the documented "safe to replay after a crash
    // at any point" contract includes a crash after commit succeeded)
    if (todo.isEmpty) return 0
    // new input + a COMMITTED runId: refuse — the run-scoped overwrite
    // would silently destroy that run's published rows while the
    // manifest still marks its files processed
    require(!manifest.runs.contains(runId),
      s"runId '$runId' is already committed under $stateDir — " +
        "pick a fresh runId for new increments")
    // hash path (orderOutput=false): the committed contract is
    // exactly-once row SETS — readCommitted unions run directories, so
    // global order is lost across runs regardless — and the range path
    // pays a sampling pass that re-executes the input scan per
    // increment (repartitionByRange samples its child)
    val turns = TranscriptSource.parquet(spark, todo: _*)
    val (out, acc) = Job.run(spark, turns, runId, orderOutput = false)
    out.write.mode(SaveMode.Overwrite)
      .parquet(s"$outputDir/extracted/run=$runId")
    writeLineage(spark, Job.lineageRows(acc),
      s"$outputDir/lineage/run=$runId")
    commit(spark, stateDir, todo, runId)
    todo.length
  }

  /** Write `rows` from the driver as ONE parquet file in `dir`, through
    * the same parquet writer factory a Spark write uses, so the file's
    * schema and footer metadata equal those of
    * `createDataset(rows).write.parquet(dir)` — without running a job.
    * `dir` is cleared first, so a replay rewrites it; zero rows still
    * leave a readable file that carries the schema.
    */
  private def writeLineage(spark: SparkSession, rows: Seq[LineageRow],
      dir: String): Unit = {
    val path = new Path(dir)
    val job = HadoopJob.getInstance(
      new Configuration(spark.sparkContext.hadoopConfiguration))
    val fs = path.getFileSystem(job.getConfiguration)
    fs.delete(path, true)
    fs.mkdirs(path)
    val encoder = ExpressionEncoder[LineageRow]()
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, encoder.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val file = new Path(path, "part-00000" + factory.getFileExtension(ctx))
    val writer = factory.newInstance(file.toString, encoder.schema, ctx)
    val toRow = encoder.createSerializer()
    try rows.foreach(r => writer.write(toRow(r)))
    finally writer.close()
  }

  /** Read only COMMITTED run directories of `table` ("extracted" or
    * "lineage") — orphan directories from crashed runs are invisible.
    */
  def readCommitted(spark: SparkSession, outputDir: String,
      stateDir: String, table: String = "extracted"): DataFrame = {
    val runs = committedRuns(spark, stateDir).toSeq.sorted
    require(runs.nonEmpty, s"no committed runs under $stateDir")
    spark.read.parquet(runs.map(r => s"$outputDir/$table/run=$r"): _*)
  }
}

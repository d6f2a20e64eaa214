package graft.pipe

import graft.extract.Extractor
import graft.schema.{ExtractedTurn, LineageRow, Turn}
import graft.sources.TranscriptSource
import graft.synth.{GoldenData, SynthTranscripts}
import graft.text.Json
import graft.text.Json._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Shared local session for all Spark-backed suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // isolated warehouse for bucketed-table tests (saveAsTable would
      // otherwise land ./spark-warehouse inside the repo)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Golden row as parsed from the committed JSONL. */
case class Golden(convId: String, turnIdx: Int, extractor: String,
    text: String, spans: Seq[(Int, Int, String)], error: String,
    version: String)

object Golden {
  def load(): Seq[Golden] = {
    val in = getClass.getResourceAsStream("/golden/golden_small.jsonl")
    require(in != null, "golden_small.jsonl missing from test resources")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toVector
    lines.map { l =>
      val JObj(f) = Json.parse(l): @unchecked
      val o = JObj(f)
      def str(k: String) = o.get(k) match {
        case Some(JStr(v, _, _)) => v
        case x => sys.error(s"bad $k: $x")
      }
      def int(k: String) = o.get(k) match {
        case Some(JNum(v)) => v.toInt
        case x => sys.error(s"bad $k: $x")
      }
      val spans = o.get("spans") match {
        case Some(JArr(items)) => items.map { case JObj(sf) =>
          val so = JObj(sf)
          def si(k: String) = so.get(k) match {
            case Some(JNum(v)) => v.toInt
            case _ => sys.error("bad span")
          }
          val kind = so.get("kind") match {
            case Some(JStr(v, _, _)) => v
            case _ => sys.error("bad kind")
          }
          (si("begin"), si("end"), kind)
        case _ => sys.error("bad span obj")
        }
        case _ => sys.error("bad spans")
      }
      Golden(str("conv_id"), int("turn_idx"), str("extractor"),
        str("extracted_text"), spans, str("error"),
        str("extractor_version"))
    }
  }
}

class GoldenE2ESpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("pipeline output equals committed goldens byte-for-byte " +
    "(per-turn text equality under stable turn ordering)") {
    import spark.implicits._
    val goldens = Golden.load()
    assert(goldens.size > 400)
    // shuffle input rows deterministically so ordering is earned, not
    // inherited
    val input = new scala.util.Random(13)
      .shuffle(GoldenData.inputTurns.toVector)
    val (out, _) = Job.run(spark, spark.createDataset(input), "e2e")
    val rows = out.collect().toVector

    // stable global order: collect() concatenates range partitions
    assert(rows.map(r => (r.conv_id, r.turn_idx)) ==
      rows.map(r => (r.conv_id, r.turn_idx))
        .sortBy(identity))

    // exactly one row per deduped (conv, turn)
    assert(rows.size == goldens.size)

    val byKey = rows.map(r => (r.conv_id, r.turn_idx) -> r).toMap
    var checked = 0
    for (g <- goldens) {
      val r = byKey((g.convId, g.turnIdx))
      assert(r.extractor == g.extractor, s"extractor @ ${g.convId}")
      assert(r.extracted_text == g.text,
        s"text mismatch @ ${g.convId}/${g.turnIdx}")
      assert(r.spans.map(s => (s.begin, s.end, s.kind)) == g.spans,
        s"spans mismatch @ ${g.convId}/${g.turnIdx}")
      assert(r.error == g.error, s"error @ ${g.convId}/${g.turnIdx}")
      assert(r.extractor_version == g.version)
      checked += 1
    }
    assert(checked == goldens.size) // 100% pass rate, no row skipped
  }

  test("lineage accounts for every row") {
    import spark.implicits._
    val input = spark.createDataset(GoldenData.inputTurns)
    val (out, acc) = Job.run(spark, input, "lineage-test")
    val n = out.count()
    val lin = Job.lineage(spark, acc).collect()
    // rows_in counts raw rows (incl. the duplicate edge-dup turn);
    // rows_out counts deduped extracted rows
    assert(lin.map(_.rows_in).sum == GoldenData.inputTurns.size)
    assert(lin.map(_.rows_out).sum == n)
    assert(lin.map(_.errors).sum >= 2) // bomb + bad pdf edge turns
    assert(lin.forall(_.extractor_version ==
      graft.schema.Versions.ExtractorVersion))
    assert(lin.forall(_.wall_ms >= 0))
  }
}

class DeterminismSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def key(r: ExtractedTurn) =
    (r.conv_id, r.turn_idx)

  test("identical output under different partitioning (N vs 4N cores " +
    "stand-in: partition-count independence)") {
    import spark.implicits._
    val input = GoldenData.inputTurns.toVector
    def runWith(parts: Int): Vector[ExtractedTurn] = {
      val ds = spark.createDataset(input).repartition(parts)
      val (out, _) = Job.run(spark, ds, s"det-$parts")
      out.collect().toVector
    }
    val a = runWith(1)
    val b = runWith(7)
    val c = runWith(32)
    assert(a == b)
    assert(b == c)
  }

  test("synth generator is partitioning-independent") {
    val a = SynthTranscripts.turns(spark, 30, partitions = 1).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    val b = SynthTranscripts.turns(spark, 30, partitions = 11).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
  }
}

class SkewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("mega-conversation output correct through salted repartition") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, pmod}
    val input = GoldenData.skewTurns
    // salted on (conv_id, turn_idx % 8): one mega-conversation lands on
    // 8 different reducers
    val ds = spark.createDataset(input).repartition(8, $"conv_id",
      pmod($"turn_idx", lit(8)))
    // salting spreads the 10^4-turn conversation over >1 partition
    val partSizes = ds.mapPartitions(it => Iterator(it.size)).collect()
    assert(partSizes.count(_ > 0) > 1)
    val (out, _) = Job.run(spark, ds, "skew")
    val rows = out.collect()
    assert(rows.length == input.size)
    // spot-check against direct per-row extraction
    val direct = input.map(t => (t.conv_id, t.turn_idx) ->
      Extractor.extract(t)).toMap
    for (r <- rows.take(500)) {
      val ex = direct((r.conv_id, r.turn_idx))
      assert(r.extracted_text == ex.extracted_text)
    }
    // global order maintained
    val keys = rows.map(r => (r.conv_id, r.turn_idx)).toVector
    assert(keys == keys.sortBy(identity))
  }
}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("incremental resume processes only new files, idempotent") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val stateDir = s"$base/state"
    def writeBatch(name: String, convs: Range): Unit =
      spark.createDataset(convs.flatMap(c =>
          SynthTranscripts.genConv(42, c.toLong, 0, 0)).toSeq)
        .coalesce(1).write.parquet(s"$base/tmp-$name")
    // stage two input files
    writeBatch("a", 0 until 3)
    writeBatch("b", 3 until 6)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    new java.io.File(inDir).mkdirs()
    def promote(name: String): Unit = {
      val src = new java.io.File(s"$base/tmp-$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
    }
    promote("a"); promote("b")

    val n1 = Checkpoint.runIncremental(spark, inDir, outDir, stateDir,
      "run1")
    assert(n1 == 2)
    val count1 = Checkpoint.readCommitted(spark, outDir, stateDir).count()
    assert(count1 > 0)

    // resume with nothing new -> no-op
    assert(Checkpoint.runIncremental(spark, inDir, outDir, stateDir,
      "run2") == 0)
    assert(Checkpoint.readCommitted(spark, outDir, stateDir).count()
      == count1)

    // crash between output staging and manifest commit: wipe the
    // manifest (as if the commit never happened) and replay the same
    // run — the run-scoped overwrite must NOT duplicate output rows
    fs.delete(new org.apache.hadoop.fs.Path(stateDir, "manifest.txt"),
      false)
    assert(Checkpoint.runIncremental(spark, inDir, outDir, stateDir,
      "run1") == 2)
    assert(Checkpoint.readCommitted(spark, outDir, stateDir).count()
      == count1)

    // add a third file -> only it is processed, output appended
    writeBatch("c", 6 until 8)
    promote("c")
    assert(Checkpoint.runIncremental(spark, inDir, outDir, stateDir,
      "run3") == 1)
    val count2 = Checkpoint.readCommitted(spark, outDir, stateDir).count()
    val expected = (6 until 8).map(c =>
      SynthTranscripts.genConv(42, c.toLong, 0, 0).size).sum
    assert(count2 == count1 + expected)

    // an orphan (staged-but-uncommitted) run directory is invisible
    spark.range(0).write
      .parquet(s"$outDir/lineage/run=crashed-orphan")
    val runs = Checkpoint.readCommitted(spark, outDir, stateDir,
        "lineage")
      .select("run_id").distinct().collect().map(_.getString(0)).toSet
    assert(runs == Set("run1", "run3"))
    assert(Checkpoint.committedRuns(spark, stateDir)
      == Set("run1", "run3"))

    // replaying a committed runId with NO new input is a no-op (crash
    // after a successful commit must stay replay-safe) ...
    assert(Checkpoint.runIncremental(spark, inDir, outDir, stateDir,
      "run1") == 0)
    // ... but reusing a COMMITTED runId after new input lands must be
    // refused — the overwrite would destroy run1's published rows while
    // the manifest still marks its files processed
    writeBatch("d", 8 until 9)
    promote("d")
    intercept[IllegalArgumentException] {
      Checkpoint.runIncremental(spark, inDir, outDir, stateDir, "run1")
    }
    // and the refused attempt must not have touched committed output
    assert(Checkpoint.readCommitted(spark, outDir, stateDir).count()
      == count2)
  }

  // ---- an increment's jobs and its driver-written lineage ------------

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def convs(r: Range): Seq[Turn] =
    r.flatMap(c => SynthTranscripts.genConv(42, c.toLong, 0, 0))

  /** Land `turns` in `inDir` as ONE parquet file `<name>.parquet`. */
  private def land(inDir: String, name: String, turns: Seq[Turn]): Unit = {
    import spark.implicits._
    val tmp = tmpDir("graft-ckpt-land")
    spark.createDataset(turns).coalesce(1).write.mode("overwrite")
      .parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$inDir/$name.parquet"))
  }

  /** Counts the jobs started under a local property, and gathers the
    * lineage rows that successful tasks report through `lineage-<run>`
    * accumulators — the rows the driver merges into the accumulator.
    */
  private final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    private val rows = mutable.ArrayBuffer[LineageRow]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Recorder.Key) != null))
        jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason == Success) e.taskInfo.accumulables
        .filter(_.name.exists(_.startsWith("lineage-")))
        .flatMap(_.update).foreach {
          case update: java.util.List[_] => rows.synchronized(
            update.forEach { case r: LineageRow => rows += r })
          case _ =>
        }
    /** `Job.lineage` over an accumulator holding the reported rows. */
    def lineage(): Seq[LineageRow] = {
      val acc = spark.sparkContext.collectionAccumulator[LineageRow]
      rows.synchronized(rows.foreach(acc.add))
      Job.lineage(spark, acc).collect().toSeq
    }
  }
  private object Recorder { val Key = "graft.test.recorded" }

  private def recorded[T](f: => T): (T, Recorder) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    sc.setLocalProperty(Recorder.Key, "on")
    try (f, rec) finally {
      sc.setLocalProperty(Recorder.Key, null)
      org.apache.spark.TestBus.drain(sc)
      sc.removeSparkListener(rec)
    }
  }

  private def lineageKey(r: LineageRow) =
    (r.run_id, r.stage_id, r.partition_id)

  private def committedLineage(out: String, state: String)
      : Seq[LineageRow] = {
    import spark.implicits._
    Checkpoint.readCommitted(spark, out, state, "lineage").as[LineageRow]
      .collect().toSeq.sortBy(lineageKey)
  }

  /** The schema a Spark write of `Job.lineage` reads back with. */
  private def sparkLineageSchema(): StructType = {
    val dir = tmpDir("graft-ckpt-ref") + "/lineage"
    Job.lineage(spark, spark.sparkContext.collectionAccumulator[LineageRow])
      .write.parquet(dir)
    spark.read.parquet(dir).schema
  }

  test("an increment runs exactly two Spark jobs: the keyed exchange " +
    "and the output write (no schema inference, no lineage write job)") {
    val base = tmpDir("graft-ckpt-jobs")
    land(s"$base/in", "a", convs(0 until 3))
    land(s"$base/in", "b", convs(3 until 6))
    val (n, rec) = recorded(Checkpoint.runIncremental(spark, s"$base/in",
      s"$base/out", s"$base/state", "run1"))
    assert(n == 2)
    assert(rec.jobs.get == 2)
  }

  test("driver-written lineage has the schema and parquet footer of " +
    "the Spark write of Job.lineage") {
    import scala.jdk.CollectionConverters._
    val base = tmpDir("graft-ckpt-schema")
    land(s"$base/in", "a", convs(0 until 4))
    Checkpoint.runIncremental(spark, s"$base/in", s"$base/out",
      s"$base/state", "run1")
    val (out, acc) = Job.run(spark,
      TranscriptSource.parquet(spark, s"$base/in"), "run1",
      orderOutput = false)
    out.write.format("noop").mode("overwrite").save()
    val ref = s"$base/ref"
    Job.lineage(spark, acc).write.parquet(ref)
    val driver = s"$base/out/lineage/run=run1"
    assert(spark.read.parquet(driver).schema ==
      spark.read.parquet(ref).schema)
    val conf = spark.sparkContext.hadoopConfiguration
    def footers(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(f.toString), conf))
        try {
          val m = r.getFooter.getFileMetaData
          (m.getSchema, m.getKeyValueMetaData.asScala.toMap)
        } finally r.close()
      }
    val Seq((schema, meta)) = footers(driver)
    assert(meta.contains("org.apache.spark.sql.parquet.row.metadata"))
    assert(footers(ref).nonEmpty)
    assert(footers(ref).forall(_ == ((schema, meta))))
  }

  test("driver-written lineage rows equal Job.lineage of the increment's " +
    "accumulator; summed rows_out equals the committed row count") {
    val base = tmpDir("graft-ckpt-rows")
    val turns = convs(0 until 5)
    land(s"$base/in", "a", turns.take(40))
    land(s"$base/in", "b", turns.drop(40))
    val (out, state) = (s"$base/out", s"$base/state")
    val (_, rec) = recorded(Checkpoint.runIncremental(spark, s"$base/in",
      out, state, "run1"))
    val lin = committedLineage(out, state)
    assert(lin.nonEmpty)
    assert(lin == rec.lineage().sortBy(lineageKey))
    assert(lin.map(_.rows_in).sum == turns.size)
    assert(lin.map(_.rows_out).sum ==
      Checkpoint.readCommitted(spark, out, state).count())
  }

  test("a landed file with zero rows commits a readable, empty lineage " +
    "directory") {
    val base = tmpDir("graft-ckpt-empty")
    land(s"$base/in", "empty", Seq.empty)
    val (out, state) = (s"$base/out", s"$base/state")
    val (n, rec) = recorded(Checkpoint.runIncremental(spark, s"$base/in",
      out, state, "run1"))
    assert(n == 1)
    assert(Checkpoint.committedRuns(spark, state) == Set("run1"))
    val lineage = Checkpoint.readCommitted(spark, out, state, "lineage")
    assert(lineage.schema == sparkLineageSchema())
    assert(lineage.count() == 0)
    assert(rec.lineage().isEmpty)
    assert(Checkpoint.readCommitted(spark, out, state).count() == 0)
  }

  test("replaying a crashed run leaves only the replay's lineage rows") {
    import spark.implicits._
    val base = tmpDir("graft-ckpt-replay")
    land(s"$base/in", "a", convs(0 until 3))
    land(s"$base/in", "b", convs(3 until 6))
    val (out, state) = (s"$base/out", s"$base/state")
    // the crashed attempt staged lineage under run=run1 (a Spark write,
    // under the file name Spark gives it) and died before the commit
    spark.createDataset(Seq(LineageRow("run1", 999, 0, 0, 7L, 7L, 0L, 1L,
        "crashed"))).write.parquet(s"$out/lineage/run=run1")
    val (n, rec) = recorded(Checkpoint.runIncremental(spark, s"$base/in",
      out, state, "run1"))
    assert(n == 2)
    val lin = committedLineage(out, state)
    assert(!lin.exists(_.extractor_version == "crashed"))
    assert(lin == rec.lineage().sortBy(lineageKey))
    assert(lin.map(_.rows_out).sum ==
      Checkpoint.readCommitted(spark, out, state).count())
  }
}

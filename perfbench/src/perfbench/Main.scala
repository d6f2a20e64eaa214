package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** One run of one workload in a fresh JVM with one SparkSession.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --trace-file <path> --cores <k>
  *
  * Prints an info line, then the result line (the last line of stdout).
  * Exits 1 when a correctness check fails.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "extract_bulk" -> ExtractBulk.run,
    "ingest_trickle" -> IngestTrickle.run,
    "curate_tail" -> CurateTail.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload"))
    val cores = opt("cores").toInt
    val work = new File(opt("work")).getAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", 2 * cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", work, new Tracer, new Scopes, new HeapWatch,
      new HostProbe(cores), jvmStartMs)
    ctx.probe.warm()
    val o = run(ctx)
    ctx.tracer.write(opt("trace-file"))

    val failedChecks = o.checks.count(!_.ok)
    val rt = Runtime.getRuntime
    val info = ListMap(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "nproc" -> rt.availableProcessors(), "k" -> cores,
      "heap_mb" -> rt.maxMemory() / 1048576,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "host_probe_s" -> ctx.probe.seconds,
      "host_probe_nominal_s" -> HostProbe.NominalS,
      "latency_unscaled_s" -> o.e2e.collectFirst {
        case m if m.name == "latency_s" => m.value / ctx.probe.scale
      }.getOrElse(Double.NaN),
      "checks" -> o.checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
    ) ++ o.info ++ (if (ctx.trace) Map("layers" ->
      ListMap(o.detail.map(m => m.name -> m.value): _*)) else Map.empty)
    println(Json(Map("info" -> info)))
    val shown = if (ctx.trace) o.layers else o.e2e
    val result = ListMap(
      "correct" -> (failedChecks == 0),
      "attempted" -> (o.attempted + o.checks.length),
      "failed" -> failedChecks,
      "metrics" -> ListMap(shown.map(m =>
        m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*))
    spark.stop()
    println(Json(result))
    System.out.flush()
    sys.exit(if (failedChecks == 0) 0 else 1)
  }
}

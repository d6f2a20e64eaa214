package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result line, the info line and traces. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that still has at least ten samples
    * beyond it: (percentile, value). None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 20) None
    else {
      val p = math.floor(100.0 - 1000.0 / xs.length)
      Some((p, quantile(xs, p / 100.0)))
    }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0, System.nanoTime()))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds all threads of this JVM spent while `f` ran (Spark's
    * executor threads run in it too, since the master is local).
    */
  def cpuTimed[T](f: => T): (T, Double) = {
    val c0 = os.getProcessCpuTime
    val r = f
    (r, (os.getProcessCpuTime - c0) / 1e9)
  }
}

/** Spans recorded around calls into the program's layers. Off by default:
  * then `span` only runs its body. Spans are kept in memory and written
  * as JSON at exit. Only the thread that runs the workload calls it.
  */
final class Tracer {
  @volatile var on = false
  final case class Rec(id: Int, name: String, parent: Int, pass: String,
      start: Long, end: Long)
  private val done = mutable.ArrayBuffer[Rec]()
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var pass = "setup"

  def inPass[T](id: String)(f: => T): T = {
    val prev = pass
    pass = id
    try f finally pass = prev
  }

  def span[T](name: String)(f: => T): T = if (!on) f else {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime()) :: stack
    try f finally {
      val (_, _, t0) = stack.head
      stack = stack.tail
      done += Rec(id, name, parent, pass, t0, System.nanoTime())
    }
  }

  /** Span duration minus the part of it covered by its children. */
  def selfSeconds(r: Rec): Double = {
    val kids = done.filter(_.parent == r.id)
    (r.end - r.start - kids.map(k => k.end - k.start).sum) / 1e9
  }

  def spans(name: String, passPrefix: String = ""): Seq[Rec] =
    done.filter(r => r.name == name && r.pass.startsWith(passPrefix)).toSeq

  def write(path: String): Unit = if (done.nonEmpty) {
    val rows = done.sortBy(_.id).map(r => Map(
      "id" -> r.id, "name" -> r.name, "parent" -> r.parent,
      "pass" -> r.pass, "start_ns" -> r.start, "end_ns" -> r.end,
      "self_s" -> selfSeconds(r)))
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json(rows)) finally w.close()
  }
}

/** Per-scope Spark counters. A scope is a local property set on the
  * calling thread before a layer call; every job, stage and task started
  * under it is charged to it.
  */
final class Scopes extends SparkListener {
  final class Acc {
    var jobs = 0
    var tasks = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var firstStageTasks = -1
  }
  private val byScope = mutable.Map[String, Acc]()
  private val stageScope = mutable.Map[Int, String]()

  private def scopeOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Scopes.Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    scopeOf(e.properties).foreach(s =>
      byScope.getOrElseUpdate(s, new Acc).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      scopeOf(e.properties).foreach { s =>
        stageScope(e.stageInfo.stageId) = s
        val a = byScope.getOrElseUpdate(s, new Acc)
        if (a.firstStageTasks < 0) a.firstStageTasks = e.stageInfo.numTasks
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageScope.get(e.stageId).foreach { s =>
      val a = byScope.getOrElseUpdate(s, new Acc)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
      }
    }
  }

  def get(spark: SparkSession, scope: String): Acc = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(byScope.getOrElse(scope, new Acc))
  }

  /** Jobs, tasks and shuffle writes charged to any of `scopes`. */
  def sum(spark: SparkSession, scopes: Seq[String]): Acc = {
    val t = new Acc
    scopes.map(get(spark, _)).foreach { a =>
      t.jobs += a.jobs
      t.tasks += a.tasks
      t.shuffleWrite += a.shuffleWrite
      t.spill += a.spill
    }
    t
  }
}

object Scopes {
  val Key = "perfbench.scope"
  def within[T](spark: SparkSession, scope: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, scope)
    try f finally sc.setLocalProperty(Key, prev)
  }
}

/** Peak heap in use right after a collection, over one measured phase:
  * the live set plus what the collector chose to keep, sampled at the
  * only moments where it is well defined. Each phase starts from a full
  * collection, so garbage left by earlier phases does not count.
  */
final class HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L
  @volatile private var gcs = 0

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        gcs += 1
        if (used > peak) peak = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))

  /** Run `f` from a freshly collected heap; returns its result and the
    * phase's peak in MB (without a collection in the phase, the heap in
    * use at its end).
    */
  def during[T](f: => T): (T, Double) = {
    System.gc()
    peak = 0L
    gcs = 0
    armed = true
    val r = try f finally armed = false
    val p = if (gcs > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (r, p / (1024.0 * 1024.0))
  }
}

/** How fast the host runs this VM right now: the wall time of a fixed
  * amount of work, sorting copies of one seeded 2 MiB array on `threads`
  * threads at once (the Spark parallelism). The VM's speed drifts by up
  * to a third over tens of minutes, so the time of an operation is
  * scaled by this probe's nominal time over its time measured around
  * the operation. The probe runs none of the program's code, so a change
  * to the program does not move it.
  */
final class HostProbe(threads: Int) {
  private val data = {
    val r = new java.util.Random(0x5EEDL)
    Array.fill(1 << 18)(r.nextLong())
  }
  private val samples = mutable.ArrayBuffer[Double]()

  private def once(): Double = {
    val ts = (1 to threads).map(_ => new Thread(() =>
      for (_ <- 1 to 3) java.util.Arrays.sort(data.clone())))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    Stats.secs(t0, System.nanoTime())
  }

  /** Compiles the probe's code before the first sample. */
  def warm(): Unit = (1 to 20).foreach(_ => once())

  def sample(): Unit = samples += Stats.median((1 to 5).map(_ => once()))

  /** Median probe time over the run's samples. */
  def seconds: Double = Stats.median(samples.toSeq)

  /** Multiply a measured time by this to get the time on a host where
    * the probe takes its nominal time.
    */
  def scale: Double = HostProbe.NominalS / seconds
}

object HostProbe {
  /** The probe's median time with 3 threads on the 4-vCPU VM the
    * benchmark was tuned on.
    */
  val NominalS = 0.1
}

final case class Check(name: String, ok: Boolean, detail: String)

final case class Metric(name: String, value: Double, unit: String)

/** What a workload returns: the end-to-end metrics, the per-layer
  * metrics every workload reports (both sets the same on every
  * workload), the layer metrics of this workload's own modules (shown
  * in the info line), checks, and the number of operations (passes or
  * ingested files) that failed checks are charged against.
  */
final case class Outcome(e2e: Seq[Metric], layers: Seq[Metric],
    detail: Seq[Metric], checks: Seq[Check], attempted: Long,
    info: Map[String, Any])

object Outcome {
  /** The end-to-end set. An operation is one pass on the closed-loop
    * workloads and one landed file on the open loop; its latency is
    * scaled to the probe's nominal host speed.
    */
  def e2e(latency: Double, peakMb: Double, setupS: Double,
      probe: HostProbe): Seq[Metric] = Seq(
    Metric("latency_s", latency * probe.scale, "s"),
    Metric("peak_mem_mb", peakMb, "MB"),
    Metric("setup_s", setupS, "s"))

  /** The per-layer set every traced run reports; Spark counters are per
    * operation of the traced passes or phases.
    */
  def layers(scanS: Double, inputMb: Double, spark: Scopes#Acc, ops: Double,
      jobFloorFrac: Double, traceOverheadFrac: Double,
      kernels: Seq[Metric]): Seq[Metric] = Seq(
    Metric("sources.scan_s", scanS, "s"),
    Metric("sources.input_mb", inputMb, "MB"),
    Metric("spark.jobs_per_op", spark.jobs / ops, "count"),
    Metric("spark.tasks_per_op", spark.tasks / ops, "count"),
    Metric("spark.shuffle_write_mb_per_op",
      spark.shuffleWrite / ops / 1048576.0, "MB"),
    Metric("bench.job_floor_frac", jobFloorFrac, "ratio"),
    Metric("bench.trace_overhead_frac", traceOverheadFrac, "ratio")
  ) ++ kernels
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Boolean, work: String, tracer: Tracer, scopes: Scopes,
    heap: HeapWatch, probe: HostProbe, jvmStartMs: Long) {

  /** One measured pass or phase: its result with the CPU seconds it
    * took, and its peak heap (MB), with a host probe sample on each side.
    */
  def measure[T](f: => T): ((T, Double), Double) = {
    probe.sample()
    val r = heap.during(Stats.cpuTimed(f))
    probe.sample()
    r
  }

  def dir(name: String): String = new File(work, name).getPath

  /** Seconds since the JVM started: the set-up clock. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def span[T](name: String)(f: => T): T =
    tracer.span(name)(Scopes.within(spark, name)(f))

  /** Run `f` with spans and the Spark listener switched on (or off). */
  def traced[T](on: Boolean)(f: => T): T = {
    val sc = spark.sparkContext
    tracer.on = on
    if (on) sc.addSparkListener(scopes)
    try f finally {
      tracer.on = false
      if (on) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(scopes)
      }
    }
  }

  /** Closed loop: passes back to back until their measured time is
    * closest to `seconds`, and at least `min` of them. In a traced run
    * the passes alternate untraced and traced, so the overhead of
    * tracing is measured.
    */
  def closedLoop(min: Int)(pass: Int => Double): (Seq[Double], Seq[Double]) = {
    val plain = mutable.ArrayBuffer[Double]()
    val withTrace = mutable.ArrayBuffer[Double]()
    def done = plain.length + withTrace.length
    def measured = plain.sum + withTrace.sum
    while (done < min ||
      measured < seconds - Stats.median((plain ++ withTrace).toSeq) / 2) {
      val on = trace && done % 2 == 1
      val s = tracer.inPass(s"pass-$done")(traced(on)(pass(done)))
      (if (on) withTrace else plain) += s
    }
    (plain.toSeq, withTrace.toSeq)
  }

  /** Median wall time of a trivial job: the per-job scheduling floor. */
  def jobFloorSeconds(): Double = Stats.median((1 to 7).map { _ =>
    Stats.timed(spark.range(0, 1, 1, 1).count())._2
  })
}

object Files {
  def bytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).map(_.map(x =>
      bytes(x.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  /** Order-independent content fingerprint of a table: row count and the
    * sum of a 64-bit hash over every column.
    */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0)).cast("string"))
      .head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}

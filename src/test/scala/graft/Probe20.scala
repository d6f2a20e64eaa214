package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Probe20 — data-path scaling (N vs 10N docs) for the round-5 corpus
  * ops: LineDedup, ExactSubstr, decontaminateBloom. Probe19's 10x
  * staging (10 offset COPIES of sf0.1) is the wrong shape here — a
  * copied corpus makes EVERY line and EVERY window a duplicate, so the
  * strip pass degenerates. This probe synthesizes a controlled corpus
  * instead: per-doc body tokens drawn from a 100k vocabulary by
  * xxhash64 (body lines/windows essentially unique), plus the planted
  * boilerplate the ops exist to remove (header on id%3, footer on
  * id%5, 12-token phrase on id%4) — duplicate MASS stays a constant
  * fraction while N scales, which is the real-crawl shape.
  *
  * Protocol: interleaved min-of-2 with warmup (noise rules per
  * BENCH/BASELINE.md); report per-op minima at N and 10N and the
  * ratio — <= ~10 means the data path scales linearly once the AQE
  * stage floor amortizes.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.Probe20 100000"
  *
  * Further arguments name the ops to run (all three when none), e.g.
  * `Test/runMain graft.Probe20 20000 bloom_decontam` for one leg.
  */
object Probe20 {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100000
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 40 hashed body tokens per doc; materialized to parquet so every
    // timed run reads the same bytes a real job would
    def stage(rows: Int, dir: String): Unit = {
      if (new java.io.File(s"$dir/_SUCCESS").exists()) return
      val body = transform(sequence(lit(0), lit(39)), j =>
        concat(lit("t"),
          pmod(xxhash64($"id" * 40 + j), lit(100000)).cast("string")))
      val phrase = "the quick brown fox jumps over the lazy dog again and again"
      spark.range(rows).select($"id".as("doc_id"),
        concat(
          when($"id" % 3 === 0,
            lit("subscribe to our newsletter today ")).otherwise(lit("")),
          array_join(body, " "),
          when($"id" % 4 === 0, lit(s" $phrase")).otherwise(lit("")),
          when($"id" % 5 === 0,
            lit(" copyright two thousand all rights reserved"))
            .otherwise(lit("")))
          .as("text"))
        .repartition(8)
        .write.mode("overwrite").parquet(dir)
    }

    val dirA = s"/tmp/graft-p20-$n"
    val dirB = s"/tmp/graft-p20-${n * 10}"
    stage(n, dirA)
    stage(n * 10, dirB)

    def corpus(dir: String): DataFrame = spark.read.parquet(dir)

    // reflow the doc into 8-word lines for the line-dedup shape (the
    // t_dedup_lines construction)
    def asLines(df: DataFrame): DataFrame = {
      val ws = filter(split($"text", " "), w => w =!= "")
      df.select($"doc_id", ws.as("ws")).filter(size($"ws") >= 1)
        .select($"doc_id", array_join(transform(
          sequence(lit(1L), expr("(size(ws) + 7) div 8")),
          i => array_join(slice($"ws",
            ((i - lit(1L)) * 8 + 1).cast("int"), lit(8)), " ")), "\n")
          .as("text"))
    }

    val allOps: Seq[(String, String => DataFrame)] = Seq(
      "line_dedup" -> { dir =>
        graft.ops.LineDedup.dedupLines(spark, asLines(corpus(dir))) },
      "exact_substr" -> { dir =>
        graft.ops.ExactSubstr.dedupSubstrings(spark, corpus(dir), w = 6) },
      "bloom_decontam" -> { dir =>
        val d = corpus(dir)
        val bench = d.filter($"doc_id" % 97 === 0)
          .select(array_join(slice(
            filter(split($"text", " "), w => w =!= ""), 11, 30), " ")
            .as("text"))
        // m scaled to the bench set per the BLOOM-1 sizing rule
        val m = Integer.highestOneBit(
          math.max(64, (d.count() / 97 * 18 * 16).toInt)) * 2
        graft.ops.Retrieval.decontaminateBloom(spark,
          d.select($"doc_id", $"text"), bench, 13, m, 7)
      })
    val ops = allOps.filter { case (q, _) => only.isEmpty || only(q) }

    def runOnce(f: String => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      f(dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    ops.foreach { case (_, f) => runOnce(f, dirA); runOnce(f, dirB) }
    val times = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    for (_ <- 1 to 2; (q, f) <- ops; dir <- Seq(dirA, dirB))
      times((q, dir)) ::= runOnce(f, dir)
    println(f"${"op"}%-16s ${s"n=$n min"}%12s ${s"n=${n * 10} min"}%12s ratio")
    ops.foreach { case (q, _) =>
      val a = times((q, dirA)).min
      val b = times((q, dirB)).min
      println(f"$q%-16s $a%12.2f $b%12.2f ${b / a}%5.2f")
    }
    spark.stop()
  }
}

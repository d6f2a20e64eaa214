package graft.pipe

import graft.extract.Extractor
import graft.schema._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.util.CollectionAccumulator

/** The extraction pipeline (north rule):
  *
  *   read -> ONE key shuffle (range for ordered output, hash otherwise)
  *        -> sortWithinPartitions(conv_id, turn_idx, ts DESC, ...)
  *        -> mapPartitions(dedupe-consecutive + extract) with lineage
  *
  * Scale notes (100 TB / 10^12 turns):
  *  - Dedupe and stable ordering share ONE shuffle: rows are clustered
  *    by (conv_id, turn_idx) — duplicates land in the same partition
  *    under both hash and range partitioning — and the local sort puts
  *    the winning duplicate (latest ts, deterministic tiebreaks) first,
  *    so dedupe is a constant-memory consecutive-key skip inside the
  *    extraction pass. The previous design used a row_number window
  *    (extra exchange + full-payload sort) for the same semantics.
  *  - Range partitioning for ordered output splits mega-conversations
  *    across consecutive partitions instead of hotspotting one reducer
  *    (skew-safe by construction; AQE skew handling applies on top).
  *    The range sampling pass re-executes only the slim scan, never the
  *    extractors (extraction is downstream of the exchange).
  *  - Extraction is a pure function of the row — deterministic under
  *    task retry (reference contract: vkit/utility/pool.py:86-96).
  */
object Job {

  /** Exact-dup rank over md5(`key`) computed on a SLIM projection: only
    * (hash, order cols) enter the window exchange — the payload column
    * (typically extracted text) never enters the window operator's sort
    * or its rank buffering. Ranks are re-attached by a NULL-SAFE join of
    * the ranked slim rows back on (hash, order cols): NULL keys hash to
    * a sentinel group (matching the old in-place window, which ranked
    * all-NULL keys together) and NULL order values still join. The order
    * columns MUST uniquely identify a row within its hash group (e.g.
    * the (conv_id, turn_idx) primary key) — that is also what makes the
    * row_number deterministic. Duplicate (key, order) tuples would
    * multiply through the join, so an in-plan guard (rank() vs
    * row_number() disagreement) fails the job with a clear message
    * instead; see the inline comment for the one WindowGroupLimit
    * corner where ties degrade gracefully rather than erroring.
    *
    * Scale shape (honest accounting): the payload side still shuffles
    * ONCE through the join exchange — same as the old form's single
    * window exchange — but the window's rank sort and buffering now run
    * over ~40-byte key rows instead of full documents (the reference's
    * slim inverse-index order restoration, page_text_region.py:794-800,
    * is the same trick), and a downstream `filter(rank = 1)` collapses
    * the slim window into a WindowGroupLimit (top-1 per group), so the
    * join's build side is winners-only and AQE can pick a
    * shuffled-hash/broadcast join instead of a full SortMergeJoin.
    */
  def rankDuplicates(df: org.apache.spark.sql.DataFrame, key: String,
      order: Seq[String], out: String): org.apache.spark.sql.DataFrame = {
    val h = "__dedup_h"
    val chk = "__dedup_chk"
    val withH = df.withColumn(h,
      coalesce(md5(col(key)), lit("__null_key__")))
    val slim = withH.select(col(h) +: order.map(col): _*)
    val w = Window.partitionBy(col(h)).orderBy(order.map(col): _*)
    // DUPLICATE-ORDER GUARD: rank() stalls on ties while row_number()
    // advances, so the two disagree on some row exactly when a
    // duplicate (hash, order) tuple exists — the case where the
    // re-attach join below would silently MULTIPLY rows. The guard
    // raises with a clear message instead of corrupting the output.
    // Both functions are rank-like with the same frame, so a downstream
    // filter(out = 1) still collapses this window into a
    // WindowGroupLimit; under that top-1 pruning a rank-1 tie escapes
    // the guard but is also harmless — at most one slim row per hash
    // group survives, so the join cannot multiply, and the tied rows
    // all receive rank 1 (ties degrade to keeping both, never to row
    // inflation).
    val ranked = slim
      .withColumn(out, row_number().over(w))
      .withColumn(chk, rank().over(w))
      .filter(when(col(chk) === col(out), lit(true)).otherwise(
        raise_error(concat(
          lit("rankDuplicates: duplicate (key, order) tuple — the " +
            s"order columns (${order.mkString(", ")}) must uniquely " +
            "identify a row within its key group; offending key hash="),
          col(h))).cast("boolean")))
      .drop(chk)
    val joinCols = h +: order
    val rankedR = ranked.toDF(joinCols.map(_ + "__r") :+ out: _*)
    val cond = joinCols
      .map(c => withH(c) <=> rankedR(c + "__r"))
      .reduce(_ && _)
    withH.join(rankedR, cond)
      .drop(h)
      .drop(joinCols.map(_ + "__r"): _*)
  }

  /** Standalone dedupe (window form) — kept as the reference semantics
    * for tests and for callers that need dedupe without extraction:
    * keep row_number()=1 per (conv_id, turn_idx) ordered by latest ts
    * with deterministic tiebreaks.
    */
  def dedupe(spark: SparkSession, turns: Dataset[Turn]): Dataset[Turn] = {
    import spark.implicits._
    val w = Window.partitionBy($"conv_id", $"turn_idx")
      .orderBy($"ts".desc, length($"text").desc, $"text".desc)
    turns.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn").as[Turn]
  }

  /** Extraction with consecutive-duplicate skip over key-sorted
    * partitions; per-partition lineage via accumulator.
    */
  private def extractSorted(spark: SparkSession, sorted: Dataset[Turn],
      runId: String, extractFn: Turn => graft.schema.Extraction)
      : (Dataset[ExtractedTurn], CollectionAccumulator[LineageRow]) = {
    import spark.implicits._
    val acc = spark.sparkContext.collectionAccumulator[LineageRow](
      s"lineage-$runId")
    val out = sorted.mapPartitions { it =>
      val t0 = System.nanoTime()
      var rowsIn = 0L
      var rowsOut = 0L
      var errors = 0L
      val part = TaskContext.getPartitionId()
      val tc = Option(TaskContext.get())
      val stage = tc.map(_.stageId()).getOrElse(-1)
      val attempt = tc.map(_.attemptNumber()).getOrElse(0)
      var prevConv: String = null
      var prevTurn = Int.MinValue
      val mapped = it.flatMap { t =>
        rowsIn += 1
        if (t.conv_id == prevConv && t.turn_idx == prevTurn) None
        else {
          prevConv = t.conv_id
          prevTurn = t.turn_idx
          rowsOut += 1
          val ex = extractFn(t)
          if (ex.error.nonEmpty) errors += 1
          Some(ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool,
            ex.extractor, ex.extracted_text, ex.spans, ex.spans.length,
            ex.error, ex.extractor_version))
        }
      }
      new Iterator[ExtractedTurn] {
        private var emitted = false
        def hasNext: Boolean = {
          val h = mapped.hasNext
          if (!h) maybeEmit()
          h
        }
        private def maybeEmit(): Unit = if (!emitted) {
          emitted = true
          acc.add(LineageRow(runId, stage, part, attempt, rowsIn, rowsOut,
            errors, (System.nanoTime() - t0) / 1000000L,
            Versions.ExtractorVersion))
        }
        def next(): ExtractedTurn = mapped.next()
      }
    }
    (out, acc)
  }

  /** Full pipeline. `orderOutput=true` -> range partitioning (globally
    * ordered output); false -> hash partitioning (cheaper: no range
    * sampling pass; output clustered but not globally ordered).
    */
  def run(spark: SparkSession, turns: Dataset[Turn], runId: String,
      orderOutput: Boolean = true, partitions: Int = 0,
      extractFn: Turn => graft.schema.Extraction = Extractor.extract)
      : (Dataset[ExtractedTurn], CollectionAccumulator[LineageRow]) = {
    val p =
      if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    val keyed =
      if (orderOutput)
        turns.repartitionByRange(p, col("conv_id"), col("turn_idx"))
      else
        turns.repartition(p, col("conv_id"), col("turn_idx"))
    val sorted = keyed.sortWithinPartitions(
      col("conv_id"), col("turn_idx"), col("ts").desc,
      length(col("text")).desc, col("text").desc)
    extractSorted(spark, sorted, runId, extractFn)
  }

  /** Lineage rows collected so far (call after an action).
    *
    * Exactly-once: Spark guarantees exactly-once accumulator updates
    * only for ACTIONS; task retries/speculation inside a transformation
    * can append duplicate rows. We therefore record the task attempt
    * number and keep ONE deterministic representative per (run, stage,
    * partition) — the highest attempt. (Under speculation the scheduler
    * may commit a LOWER attempt's output, and stage re-attempts restart
    * attempt numbering; rows_in/rows_out are identical across attempts
    * because extraction is deterministic, so only wall_ms can come from
    * a losing attempt.)
    */
  def lineage(spark: SparkSession,
      acc: CollectionAccumulator[LineageRow]): Dataset[LineageRow] = {
    import spark.implicits._
    spark.createDataset(lineageRows(acc))
  }

  /** The attempt-deduplicated rows of `lineage`, on the driver, ordered
    * by (run, stage, partition).
    */
  def lineageRows(acc: CollectionAccumulator[LineageRow])
      : Seq[LineageRow] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq
      .groupBy(r => (r.run_id, r.stage_id, r.partition_id))
      .map { case (_, rows) => rows.maxBy(_.attempt) }
      .toSeq
      .sortBy(r => (r.run_id, r.stage_id, r.partition_id))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Embedding-cosine near-duplicate detection: multi-table random-
  * hyperplane LSH (OR-amplification, same band pattern as MinHash) +
  * margin-ordered multi-probe + exact cosine verification — the scale
  * path for "same content, same embedding" dedup. Exact cosine is the
  * final arbiter (LSH = recall only).
  *
  * Scale design:
  *  - bucket keys are (table, bucket): 2^nPlanes buckets PER TABLE
  *    (16 planes -> 65k/table), so occupancy ~ N/2^nPlanes — the
  *    within-bucket pair expansion never approaches a quadratic scan;
  *  - only slim (tbl, bucket, id, tag) rows shuffle; vectors are
  *    joined back for candidate pairs alone;
  *  - `nProbe` bounds the dominant shuffle-volume constant: each vector
  *    emits nTables x (1 + nProbe) slim rows. Probes flip the nProbe
  *    LEAST-CONFIDENT planes (smallest |dot| margin — the planes a true
  *    near-neighbor is most likely to disagree on), the standard
  *    multi-probe ordering, so recall degrades gracefully as nProbe
  *    shrinks (measured curve in BENCH/BASELINE.md);
  *  - buckets over `bucketCap` are pruned inside the bounded-member
  *    bucket aggregate (CappedBuckets); passing `ledger` observes the
  *    dropped bucket/row counts on that SAME pass (no second signature
  *    sweep) — `oversizedBuckets` remains as a standalone inspection
  *    query over the shared `probeRows` expansion;
  *  - a pair qualifies when the two ids share a (table, bucket) key
  *    and at least one side is a HOME row (own bucket, not a probe) —
  *    i.e. bucket Hamming distance <= 1 in some table (at full nProbe).
  *
  * Recall at nProbe = nPlanes = 16: a pair at cosine 0.95 (~18 deg)
  * flips each plane w.p. theta/pi ~ 0.1; P(Hamming<=1 over 16 planes)
  * ~ 0.51 per table, 1 - 0.49^4 ~ 0.94 over 4 tables. Raise nTables
  * for higher-recall regimes; identical/colinear vectors are always
  * found (0 flips) at ANY nProbe.
  */
object EmbeddingDedup {

  /** Slim (tbl, bucket, id, tag) rows: the home bucket per table plus
    * the `nProbe` 1-bit probe buckets flipping the least-confident
    * planes (ties broken by plane index — deterministic). Vectors are
    * hashed by DIRECTION, centered on the normalized-corpus mean (see
    * Ann.signBucket): colinear twins still share every home bucket,
    * while all-positive embedding families (ReLU features, count
    * vectors, luma bands) no longer collapse into orthant mega-buckets
    * that the cap would then drop wholesale — the silent-recall-loss
    * twin of the Probe19 quadratic-join finding. `tag` is 1 on a home
    * row, 0 on a probe row.
    */
  private def probeRows(spark: SparkSession, corpus: DataFrame, dim: Int,
      nTables: Int, nPlanes: Int, nProbe: Int, seed: Long,
      center: Array[Double]): DataFrame = {
    import spark.implicits._
    val pl = spark.sparkContext.broadcast(
      Ann.planeTables(nTables, nPlanes, dim, seed))
    val ctr = spark.sparkContext.broadcast(center)
    corpus.as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        // centered direction hoisted out of the table/plane loops: the
        // nv(i) - c(i) values are identical for every plane, so this
        // removes nTables x nPlanes redundant subtraction passes per
        // row with bit-identical dots (same values, same order)
        val cv = Ann.centeredDirection(v, ctr.value)
        pl.value.iterator.zipWithIndex.flatMap { case (t, ti) =>
          val dots = new Array[Double](nPlanes)
          var b = 0
          var p = 0
          while (p < nPlanes) {
            var dot = 0.0
            var i = 0
            val row = t(p)
            while (i < row.length && i < cv.length) {
              dot += row(i) * cv(i); i += 1
            }
            dots(p) = dot
            if (dot >= 0) b |= (1 << p)
            p += 1
          }
          // full-probe fast path: flipping every plane needs no margin
          // ordering (the flip SET is all planes either way)
          val flips =
            if (nProbe >= nPlanes) 0 until nPlanes
            else (0 until nPlanes)
              .sortBy(p => (math.abs(dots(p)), p)).take(nProbe)
          Iterator((ti, b, id, 1L)) ++
            flips.iterator.map(p => (ti, b ^ (1 << p), id, 0L))
        }
      }.toDF("tbl", "bucket", "id", "tag")
  }

  /** nProbe = -1 means "all planes" — tracks nPlanes so a caller
    * raising nPlanes keeps the full Hamming<=1 guarantee; other
    * negatives are rejected (a typo must not silently buy maximum-cost
    * full probing).
    */
  private def probeCount(nProbe: Int, nPlanes: Int): Int = {
    require(nProbe == -1 || (nProbe >= 0 && nProbe <= nPlanes),
      "nProbe in [0, nPlanes], or -1 for all planes")
    if (nProbe == -1) nPlanes else nProbe
  }

  /** Input: (id: Long, vec: array<float>). Output (id_a, id_b) pairs
    * with cosine >= threshold, id_a < id_b. `dim` is passed explicitly
    * so the plan stays action-free.
    */
  def nearDuplicates(spark: SparkSession, corpus: DataFrame, dim: Int,
      threshold: Double = 0.95, nTables: Int = 4, nPlanes: Int = 16,
      bucketCap: Int = 256, seed: Long = 42L, nProbe: Int = -1,
      ledger: Observation = null): DataFrame = {
    import spark.implicits._
    val probes = probeCount(nProbe, nPlanes)
    // the flatMap behind the probe rows normalizes and projects every
    // vector on nTables x nPlanes hyperplanes — localCheckpoint
    // materializes the slim (tbl, bucket, id, tag) rows once (the
    // MinHashDedup band-rows discipline; their one consumer is the
    // bucket aggregate), and
    // the corpus is spread first so a narrow scan cannot serialize the
    // hashing pass on 1-2 cores
    val rows = probeRows(spark, MinHashDedup.spreadIfNarrow(corpus),
      dim, nTables, nPlanes, probes,
      seed, Ann.corpusCenter(corpus, dim))
      .localCheckpoint()

    // pairs need >= 1 home side (probe-probe would mean Hamming 2)
    val pairs = CappedBuckets.selfPairs(rows, Seq("tbl", "bucket"),
        bucketCap, ledger)
      .filter($"tag_a" === 1L || $"tag_b" === 1L)
      .select($"id_a", $"id_b")
      .distinct()

    // exact verification on candidates only: join the (small) pair set
    // against the corpus directly — unlike MinHash there is nothing to
    // recompute per doc, so no candidate semi-join stage is needed
    // (AQE broadcasts the pair side; the corpus never shuffles)
    pairs
      .join(corpus.select($"id".as("id_a"), $"vec".as("vec_a")), "id_a")
      .join(corpus.select($"id".as("id_b"), $"vec".as("vec_b")), "id_b")
      .withColumn("sim", graft.functions.OnceOps.once(
        Ann.cosine($"vec_a", $"vec_b"))) // barrier: see graft_once
      .filter($"sim" >= threshold)
      .select($"id_a", $"id_b")
  }

  /** Buckets pruned by the cap — the standalone recall-loss inspection
    * query (shares `probeRows` with `nearDuplicates`; for the free
    * in-band accounting pass an Observation as `ledger` instead).
    */
  def oversizedBuckets(spark: SparkSession, corpus: DataFrame, dim: Int,
      nTables: Int = 4, nPlanes: Int = 16, bucketCap: Int = 256,
      seed: Long = 42L, nProbe: Int = -1): DataFrame =
    CappedBuckets.oversized(probeRows(spark, corpus, dim, nTables,
      nPlanes, probeCount(nProbe, nPlanes), seed,
      Ann.corpusCenter(corpus, dim)), Seq("tbl", "bucket"), bucketCap)
}

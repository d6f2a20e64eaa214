package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (Array[Float]).
  *
  * - `cosine`: codegen'd higher-order-function expression (zip_with +
  *   aggregate) — no UDF, stays inside WholeStageCodegen.
  * - `bruteForceTopK`: exact baseline — broadcast the (small) query set,
  *   score the corpus in one narrow pass, per-query top-k via window.
  * - `lshTopK`: scale path — multi-table random-hyperplane LSH
  *   (OR-amplification across `nTables` independent tables of `nPlanes`
  *   hyperplanes each, the same band pattern as MinHash LSH) with 1-bit
  *   multi-probe on the query side, exact cosine rerank on candidates.
  *
  * Scale design: bucket keys are (table, bucket) pairs — 2^nPlanes
  * buckets PER TABLE (e.g. 16 planes -> 65k buckets/table), so bucket
  * occupancy stays ~N/2^nPlanes and the within-bucket candidate join
  * never degenerates into a quadratic scan; recall is recovered by
  * OR-ing `nTables` tables plus multi-probe, not by coarser buckets.
  * Vectors are NOT carried through the bucket shuffle — only slim
  * (table, bucket, id) rows move; vectors are joined back for the
  * candidate set alone. Two guards keep the occupancy premise true on
  * real data: vectors are CENTERED on the corpus mean before sign
  * hashing (all-positive families otherwise collapse into a few
  * orthant buckets), and over-`bucketCap` buckets are dropped
  * (mass-duplicate clusters must not recreate the quadratic join).
  */
object Ann {

  /** Cosine similarity of two array<float/double> columns, in doubles.
    * Native single-pass kernel (graft.functions.VecCosine) — bit-
    * identical to the previous aggregate(zip_with(...)) HOF form
    * (same left-to-right folds, same null semantics) but evaluated as
    * one codegen-friendly loop with no per-pair intermediate arrays:
    * brute-force scoring evaluates this |corpus| x |queries| times.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.VecCosine(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Exact top-k: for each row of `queries` (qid, qvec), the k nearest
    * corpus rows (id, vec) by cosine, excluding qid == id.
    * Output: (qid, rank, id) — ranks deterministic via (sim desc, id).
    */
  def bruteForceTopK(spark: SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    // project to (qid, id, sim) BEFORE the rank window: the window
    // exchange then moves ~24-byte rows instead of rows still carrying
    // both embedding vectors (for |corpus| x |queries| pairs the
    // difference is the whole shuffle)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id", cosine($"qvec", $"vec").as("sim"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"id")
  }

  /** Exact kNN top-k by cosine — scored with the SAME dot/(|a||b|)
    * expression shape as bruteForceTopK and the t_knn_label oracle's
    * list_cosine_similarity (the r5 ADVICE item: the previous
    * normalize-then-dot shape differed from the oracle in the last
    * ulp, making the rank-k cut data-dependent across engines; both
    * shapes agree on every current fixture, so results are unchanged).
    * Native single-pass kernel, slim (qid, id, sim) projection ahead
    * of the rank window, deterministic (sim desc, id) ties.
    */
  def knnTopK(spark: SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val scored = corpus.crossJoin(broadcast(queries))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id", cosine($"qvec", $"vec").as("sim"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"id")
  }

  /** Exact top-1 as an AGGREGATION instead of a rank window: max_by
    * over (sim, -id) gets the same (sim desc, id asc) winner with
    * map-side partial combine — the shuffle carries one row per
    * (query, mapper) rather than every scored pair. For k=1 retrieval
    * at scale this replaces the full pair-set sort exchange.
    */
  def bruteForceTop1(spark: SparkSession, corpus: DataFrame,
      queries: DataFrame): DataFrame = {
    import spark.implicits._
    corpus.crossJoin(broadcast(queries))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id", cosine($"qvec", $"vec").as("sim"))
      .groupBy($"qid")
      .agg(max_by($"id",
        struct($"sim", (-$"id").cast("double"))).as("id"))
  }

  /** Deterministic random hyperplanes: nPlanes x dim, N(0,1)-ish via
    * SplitMix64 -> Box-Muller.
    */
  def planes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        val u1 = (MinHashDedup.mix64(seed + p * 1024L + d) >>> 11) *
          1.1102230246251565e-16
        val u2 = (MinHashDedup.mix64(seed ^ (p * 7919L + d * 31L)) >>> 11) *
          1.1102230246251565e-16
        math.sqrt(-2.0 * math.log(u1 + 1e-12)) *
          math.cos(2.0 * math.Pi * u2)
      }
    }

  /** `nTables` independent tables of `nPlanes` planes each. */
  def planeTables(nTables: Int, nPlanes: Int, dim: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val all = planes(nTables * nPlanes, dim, seed)
    Array.tabulate(nTables)(t =>
      all.slice(t * nPlanes, (t + 1) * nPlanes))
  }

  def signBucket(vec: Seq[Float], pl: Array[Array[Double]]): Int =
    signBucket(vec, pl, null)

  /** Sign bucket of the vector's DIRECTION, centered: normalize to unit
    * length, subtract `center` (the mean of the normalized corpus),
    * project on the planes. Two properties, both load-bearing:
    *  - normalize first: colinear vectors (scaled twins) normalize to
    *    EQUAL vectors, so they share every bucket under ANY center —
    *    the 0-flip recall guarantee survives centering (centering raw
    *    vectors would break it: v and 1.03v minus the same mean are no
    *    longer colinear);
    *  - then center: random-hyperplane LSH assumes roughly
    *    origin-centered data, and an all-positive embedding family
    *    (luma band means, ReLU features, count vectors) otherwise
    *    collapses into a handful of orthant buckets — the Probe19
    *    finding that made t_media_ann_lsh 64x slower at 10x data (the
    *    bucket join degenerates toward |corpus| x |queries|).
    * With center == null the raw vector is projected directly —
    * sign(plane . v) == sign(plane . v/|v|), so the legacy 2-arg path
    * is the same bucket function, minus the normalize cost.
    */
  def signBucket(vec: Seq[Float], pl: Array[Array[Double]],
      center: Array[Double]): Int = {
    val nv: Array[Double] = if (center == null) null else normalize(vec)
    var bucket = 0
    var p = 0
    while (p < pl.length) {
      var dot = 0.0
      var i = 0
      val row = pl(p)
      while (i < row.length && i < vec.length) {
        val x =
          if (center == null) vec(i).toDouble
          else nv(i) - (if (i < center.length) center(i) else 0.0)
        dot += row(i) * x
        i += 1
      }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Deterministic per-dimension mean of the NORMALIZED corpus
    * directions over the slim materialized projection: fixed-point
    * long partial sums (associative — any treeAggregate merge order is
    * bit-identical, the trainIvfCentroids pattern), one cheap pass
    * over checkpointed ~40-byte rows. Feeds signBucket's centering.
    */
  private[ops] def corpusCenter(corpusM: DataFrame, dim: Int)
      : Array[Double] = {
    val scale = 1048576.0 * 1024 // 2^30 fixed point; |components| <= 1
    val (sums, n) = corpusM.rdd.treeAggregate(
      (new Array[Long](dim), 0L))(
      seqOp = { case ((s, c), row) =>
        val nv = normalize(row.getSeq[Float](1))
        var i = 0
        val lim = math.min(dim, nv.length)
        while (i < lim) {
          s(i) += math.round(nv(i) * scale); i += 1
        }
        (s, c + 1)
      },
      combOp = { case ((s1, c1), (s2, c2)) =>
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        (s1, c1 + c2)
      })
    if (n == 0) new Array[Double](dim)
    else sums.map(_ / scale / n)
  }

  /** The centered normalized direction signBucket hashes, computed
    * ONCE per row: every (table, plane) dot reads the same
    * nv(i) - center(i) values, so hoisting them out of the per-table
    * loop removes nTables normalize passes and nTables x nPlanes
    * center subtractions per row while producing bit-identical dots
    * (same values, same i-ascending accumulation order).
    */
  @inline private[ops] def centeredDirection(v: Seq[Float],
      center: Array[Double]): Array[Double] = {
    val nv = normalize(v)
    var i = 0
    while (i < nv.length) {
      nv(i) -= (if (i < center.length) center(i) else 0.0)
      i += 1
    }
    nv
  }

  /** Sign bucket over a precomputed centered direction — the hot-loop
    * body of signBucket(vec, pl, center) with the per-row work hoisted.
    */
  @inline private[ops] def signBucketCentered(cv: Array[Double],
      pl: Array[Array[Double]]): Int = {
    var bucket = 0
    var p = 0
    while (p < pl.length) {
      var dot = 0.0
      var i = 0
      val row = pl(p)
      while (i < row.length && i < cv.length) {
        dot += row(i) * cv(i)
        i += 1
      }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  @inline private[ops] def normalize(v: Seq[Float]): Array[Double] = {
    val a = new Array[Double](v.length)
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val inv = if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
    i = 0
    while (i < v.length) { a(i) = v(i) * inv; i += 1 }
    a
  }

  private def nearestCentroid(v: Seq[Float],
      cents: Array[Array[Double]]): Int = {
    val nv = normalize(v)
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var dot = 0.0
      var i = 0
      val row = cents(c)
      val lim = math.min(row.length, nv.length)
      while (i < lim) { dot += row(i) * nv(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  @inline private def nearestCentroidNorm(nv: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var dot = 0.0
      var i = 0
      val row = cents(c)
      val lim = math.min(row.length, nv.length)
      while (i < lim) { dot += row(i) * nv(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** Upper bound on the query-set size the indexed paths will
    * broadcast. lshTopK/ivfTopK broadcast the query probes and the
    * query vectors — correct for retrieval-sized query sets, an OOM
    * for a corpus-sized one. A caller that wants all-pairs similarity
    * over two large sides wants EmbeddingDedup (banded LSH join, no
    * broadcast), not top-k retrieval.
    */
  val MaxBroadcastQueries: Long = 1L << 20

  /** Materialize the slim (idCol, vecCol) projection ONCE and return
    * the checkpointed frame plus its row count. The corpus plan may be
    * an arbitrarily expensive upstream (e.g. a full media content
    * decode) and the indexed paths consume it twice (bucket pass +
    * candidate re-join) — without this the whole upstream would
    * re-execute per consumption (at 100 TB: a second full-corpus
    * decode bought for nothing). localCheckpoint keeps only the slim
    * vectors, the same pattern as Clusters' per-round checkpoint.
    */
  private def materializeSlim(df: DataFrame, idCol: String,
      vecCol: String, withCount: Boolean = true,
      spread: Boolean = false): (DataFrame, Long) = {
    val base = df.select(col(idCol), col(vecCol))
    // spread=true (corpus sides): a single-file corpus would otherwise
    // run the CPU-heavy bucket-hash flatMap on 1-2 cores
    val slim = (if (spread) MinHashDedup.spreadIfNarrow(base) else base)
      .localCheckpoint()
    // the corpus side's count is never consumed (only the query side's
    // broadcast guard needs one) — skip the extra job
    (slim, if (withCount) slim.count() else -1L)
  }

  /** Fixed-point scale for deterministic distributed summation:
    * normalized components are in [-1, 1], so scaling to 2^40 and
    * summing as longs makes the reduction ASSOCIATIVE — any
    * treeAggregate merge order yields bit-identical centroids (double
    * addition would be order-sensitive). Headroom: up to ~2^22 sample
    * members per cluster before a long could overflow (2^22 x 2^40 <
    * 2^63), far above any sensible sampleCap.
    */
  private val FixedPoint = (1L << 40).toDouble

  /** Spherical k-means coarse quantizer, trained on a BOUNDED
    * deterministic sample: the `sampleCap` corpus vectors with smallest
    * mix64(id ^ seed) (a reproducible sample, no wall-clock — vkit's
    * SeedSequence contract, vkit/utility/pool.py:86-96). The corpus is
    * read ONCE to select the sample; every Lloyd round then runs over
    * the cached sample with `treeAggregate`, so per-round driver
    * traffic is exactly k x dim regardless of corpus or partition
    * count, and training cost is independent of corpus size.
    * Determinism comes from algebra, not ordering: partial sums are
    * fixed-point longs (see FixedPoint), associative under any merge
    * order.
    */
  def trainIvfCentroids(spark: SparkSession, corpus: DataFrame,
      dim: Int, nClusters: Int, iters: Int = 3,
      seed: Long = 42L, sampleCap: Int = 65536): Array[Array[Double]] = {
    import spark.implicits._
    require(sampleCap >= nClusters, "sampleCap must cover nClusters")
    // fixed-point headroom (see FixedPoint): a cluster can hold at most
    // sampleCap members, and sampleCap * 2^40 must stay under 2^63
    require(sampleCap <= (1 << 22),
      s"sampleCap $sampleCap exceeds the fixed-point overflow bound 2^22")
    val ds = corpus.as[(Long, Seq[Float])]
    // (h, id) sort: id tiebreak keeps sample membership deterministic
    // even under a (vanishingly unlikely) mix64 collision
    val sample = ds.map { case (id, v) =>
      (MinHashDedup.mix64(id ^ seed), id, normalize(v))
    }.toDF("h", "id", "nv")
      .orderBy($"h", $"id").limit(sampleCap)
      .as[(Long, Long, Array[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = sample.orderBy($"h", $"id").limit(nClusters)
        .collect().map(_._3)
      var cents = init
      val k = init.length
      val rdd = sample.rdd
      for (_ <- 0 until iters) {
        val bc = spark.sparkContext.broadcast(cents)
        // one flat k x dim fixed-point buffer + k counts per message
        val (sums, counts) = rdd.treeAggregate(
          (new Array[Long](k * dim), new Array[Long](k)))(
          seqOp = { case ((s, c), (_, _, nv)) =>
            val ci = nearestCentroidNorm(nv, bc.value)
            val off = ci * dim
            var i = 0
            val lim = math.min(dim, nv.length)
            while (i < lim) {
              s(off + i) += math.round(nv(i) * FixedPoint); i += 1
            }
            c(ci) += 1
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            i = 0
            while (i < k) { c1(i) += c2(i); i += 1 }
            (s1, c1)
          })
        val next = cents.clone()
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var s = 0.0
            var i = 0
            while (i < dim) {
              val v = sums(c * dim + i) / FixedPoint
              s += v * v
              i += 1
            }
            val inv = if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
            next(c) = Array.tabulate(dim)(i =>
              sums(c * dim + i) / FixedPoint * inv)
          }
          c += 1
        }
        cents = next
        bc.destroy()
      }
      cents
    } finally sample.unpersist()
  }

  /** IVF ANN: spherical-kmeans coarse buckets; each query probes its
    * `nProbe` best centroids; candidates rerank by exact cosine.
    * Assignment is scale-invariant (cosine), so colinear near-dups
    * always land with their source — the recall property the planted-
    * twin oracle checks. Same output shape as bruteForceTopK.
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int, dim: Int, nClusters: Int = 16, nProbe: Int = 4,
      iters: Int = 3, seed: Long = 42L,
      sampleCap: Int = 65536): DataFrame = {
    import spark.implicits._
    // slim inputs materialized once: corpus is consumed THREE times
    // (training sample, bucket assignment, candidate rerank), queries
    // twice — see materializeSlim
    val (corpusM, _) = materializeSlim(corpus, "id", "vec",
      withCount = false, spread = true)
    val (queriesM, nq) = materializeSlim(queries, "qid", "qvec")
    require(nq <= MaxBroadcastQueries,
      s"ivfTopK: $nq query rows exceed the broadcastable bound " +
        s"$MaxBroadcastQueries — for all-pairs similarity over two " +
        "large sides use EmbeddingDedup's banded LSH join instead")
    val cents = trainIvfCentroids(spark, corpusM, dim, nClusters, iters,
      seed, sampleCap)
    val bc = spark.sparkContext.broadcast(cents)

    val corpusRows = corpusM.as[(Long, Seq[Float])]
      .map { case (id, v) => (nearestCentroid(v, bc.value), id) }
      .toDF("bucket", "id")

    val queryProbes = queriesM.as[(Long, Seq[Float])]
      .flatMap { case (qid, v) =>
        val nv = normalize(v)
        val scored = bc.value.indices.map { c =>
          var dot = 0.0
          var i = 0
          val row = bc.value(c)
          val lim = math.min(row.length, nv.length)
          while (i < lim) { dot += row(i) * nv(i); i += 1 }
          (c, dot)
        }
        scored.sortBy { case (c, d) => (-d, c) }.take(nProbe)
          .map { case (c, _) => (c, qid) }
      }.toDF("bucket", "qid")

    val cand = corpusRows.join(broadcast(queryProbes), Seq("bucket"))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id").distinct()

    val scored = corpusM.join(cand, Seq("id"))
      .join(broadcast(queriesM), Seq("qid"))
      .withColumn("sim", cosine($"qvec", $"vec"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"id")
  }

  /** LSH-bucketed ANN: corpus rows hash to (table, bucket) per table;
    * each query probes its own bucket plus all 1-bit flips in every
    * table; candidates rerank by exact cosine; top-k per query.
    * Same output shape as bruteForceTopK. `dim` is passed explicitly so
    * the plan stays action-free.
    */
  def lshTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      k: Int, dim: Int, nTables: Int = 4, nPlanes: Int = 16,
      seed: Long = 42L, bucketCap: Int = 1024): DataFrame = {
    import spark.implicits._
    // slim inputs materialized once: corpus is consumed twice (bucket
    // pass + candidate re-join), queries twice (probes + rerank) —
    // without this an expensive upstream (media content decode) would
    // run once PER consumption (see materializeSlim)
    val (corpusM, _) = materializeSlim(corpus, "id", "vec",
      withCount = false, spread = true)
    val (queriesM, nq) = materializeSlim(queries, "qid", "qvec")
    require(nq <= MaxBroadcastQueries,
      s"lshTopK: $nq query rows exceed the broadcastable bound " +
        s"$MaxBroadcastQueries — for all-pairs similarity over two " +
        "large sides use EmbeddingDedup's banded LSH join instead")
    val pl = spark.sparkContext.broadcast(
      planeTables(nTables, nPlanes, dim, seed))
    // center before hashing (see signBucket): one cheap pass over the
    // checkpointed slim corpus
    val ctr = spark.sparkContext.broadcast(corpusCenter(corpusM, dim))

    // slim (tbl, bucket, id) rows — vectors stay behind; consumed by
    // the bucket-count pass AND the bucket join, so materialized once
    // (the MinHashDedup band-rows discipline); the centered direction
    // is computed once per row, not once per (row, table)
    val corpusRows = corpusM.as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        val cv = centeredDirection(v, ctr.value)
        pl.value.iterator.zipWithIndex.map { case (t, ti) =>
          (ti, signBucketCentered(cv, t), id)
        }
      }.toDF("tbl", "bucket", "id")
      .localCheckpoint()

    // count-capped buckets (CappedBuckets.kept, as in the dedup ops):
    // a degenerate bucket — mass-duplicate content, residual sign
    // collapse — must not recreate the quadratic join this index
    // exists to avoid. Recall is re-won by the OTHER tables and the
    // 1-bit probes; corpora with huge exact-duplicate clusters should
    // run content-hash dedup first (the curation order anyway).
    val keptRows = corpusRows.join(broadcast(CappedBuckets.kept(
      corpusRows, Seq("tbl", "bucket"), bucketCap, null)),
      Seq("tbl", "bucket"))

    val queryProbes = queriesM.as[(Long, Seq[Float])]
      .flatMap { case (qid, v) =>
        val cv = centeredDirection(v, ctr.value)
        pl.value.iterator.zipWithIndex.flatMap { case (t, ti) =>
          val b = signBucketCentered(cv, t)
          (Seq(b) ++ (0 until nPlanes).map(i => b ^ (1 << i)))
            .distinct.map(pb => (ti, pb, qid))
        }
      }.toDF("tbl", "bucket", "qid")

    val cand = keptRows.join(broadcast(queryProbes),
        Seq("tbl", "bucket"))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id").distinct()

    // vectors joined back for candidates only
    val scored = corpusM.join(cand, Seq("id"))
      .join(broadcast(queriesM), Seq("qid"))
      .withColumn("sim", cosine($"qvec", $"vec"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"id")
  }
}

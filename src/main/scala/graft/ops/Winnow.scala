package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WINNOW-1 (frozen, oracle-mirrored): winnowing document fingerprints
  * + containment detection — the substring-level dedup family
  * (Schleimer, Wilkerson, Aiken 2003, "Winnowing: Local Algorithms for
  * Document Fingerprinting"; the MOSS metric — public knowledge).
  *
  * Whole-document MinHash misses CONTAINMENT: a page that embeds a full
  * copy of another document inside fresh padding has low whole-doc
  * Jaccard to its source. Winnowing fingerprints are local — any shared
  * substring of length >= w + k - 1 contributes at least one shared
  * fingerprint — so containment shows up as a high
  * |shared| / min(|fpA|, |fpB|) score regardless of the size ratio.
  *
  * Frozen contract (both engines compute it EXACTLY — fingerprints are
  * deterministic, so unlike MinHash there is no recall caveat between
  * the Spark side and the oracle):
  *  - k-gram hash at position i = polynomial hash of chars
  *    [i, i+k) : fold(acc * 31 + code) mod 1e9+7 (the FP-1 base/modulus
  *    — acc*31+c never overflows a signed 64-bit long);
  *  - m = n - k + 1 hash positions; if m <= 0 the document has no
  *    fingerprints; if m < w ONE window covers all hashes;
  *  - fingerprint set = DISTINCT minima of the m - w + 1 sliding
  *    windows of length w (set semantics: VALUES, not positions);
  *  - fingerprints appearing in more than `fpCap` documents are dropped
  *    on BOTH sides (boilerplate guard — deterministic, mirrored in the
  *    oracle, unlike a sampling cap);
  *  - pair score = shared / min(|fpA|, |fpB|), kept at >= threshold.
  *
  * Scale shape: ~m/w fingerprints per document (w-fold reduction);
  * only slim (fp, id) longs shuffle; the fp-group cap bounds the
  * self-join expansion per fingerprint at cap^2 (the same degenerate-
  * bucket discipline as MinHash/embedding LSH); per-pair counts are
  * map-side combinable.
  */
object Winnow {

  val Mod = 1000000007L
  val Base = 31L

  /** Distinct window-minima fingerprint VALUES of `text` (WINNOW-1). */
  def fingerprints(text: String, k: Int = 8, w: Int = 16): Array[Long] = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val n = text.length
    val m = n - k + 1
    if (m <= 0) return Array.emptyLongArray
    // rolling k-gram polynomial hashes (Karp-Rabin with precomputed
    // 31^(k-1) mod p for the leading-char removal)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = pow * Base % Mod; i += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = (h * Base + text.charAt(i)) % Mod; i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      h = ((h - text.charAt(i - 1) * pow % Mod + Mod * Mod) % Mod * Base
        + text.charAt(i + k - 1)) % Mod
      hs(i) = h
      i += 1
    }
    if (m <= w) return Array(hs.min)
    // sliding-window minima via monotonic deque — O(m)
    val out = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // [head, tail) holds candidate indices, hashes increasing
    i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out.add(hs(deque(head)))
      i += 1
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    res
  }

  /** Slim (f, id) fingerprint table of a corpus — one row per distinct
    * fingerprint value per doc. Persist this for a HISTORICAL corpus
    * (the winnowing analogue of MinHashDedup.bandIndex): history text
    * is fingerprinted ONCE, and later batches join the stored index.
    */
  def fingerprintIndex(spark: SparkSession, corpus: DataFrame,
      k: Int = 8, w: Int = 16): DataFrame = {
    import spark.implicits._
    corpus.as[(Long, String)]
      .flatMap { case (id, t) =>
        fingerprints(t, k, w).iterator.map(f => (f, id))
      }.toDF("f", "id")
  }

  /** Containment pairs over (id: Long, text: String): (id_a, id_b,
    * containment) with id_a < id_b and score >= threshold. See the
    * WINNOW-1 contract above; everything is deterministic and mirrored
    * exactly by the SQL oracle.
    */
  def containmentPairs(spark: SparkSession, corpus: DataFrame,
      k: Int = 8, w: Int = 16, threshold: Double = 0.5,
      fpCap: Int = 64): DataFrame = {
    import spark.implicits._
    // the fingerprint flatMap (rolling hash over every char of every
    // doc — the CPU-dominant stage) is consumed by the cap count AND
    // by fpk's three consumers below; localCheckpoint materializes the
    // slim (f, id) longs once instead of re-fingerprinting the corpus
    // per consumer (the MinHashDedup band-rows discipline; a
    // production run persists fingerprintIndex to a table)
    val fp = fingerprintIndex(spark,
      MinHashDedup.spreadIfNarrow(corpus), k, w).localCheckpoint()
    // boilerplate guard: a fingerprint shared by > fpCap docs (site
    // chrome, license headers) would expand to > cap^2 pairs; dropping
    // it is DETERMINISTIC and mirrored by the oracle
    val kept = CappedBuckets.kept(fp, Seq("f"), fpCap, null)
    val fpk = fp.join(kept, Seq("f"))
    val sizes = fpk.groupBy($"id").agg(count(lit(1)).as("n"))
    val shared = fpk.toDF("f", "id_a")
      .join(fpk.toDF("f", "id_b"), Seq("f"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("s"))
    shared
      .join(sizes.toDF("id_a", "na"), Seq("id_a"))
      .join(sizes.toDF("id_b", "nb"), Seq("id_b"))
      .withColumn("containment",
        round($"s" * 1.0 / least($"na", $"nb"), 4))
      .filter($"containment" >= threshold)
      .select($"id_a", $"id_b", $"containment")
  }

  /** Inter-set containment of a NEW batch against a persisted history
    * index (the day-2 shape): only the new batch is fingerprinted;
    * history rides in as the stored (f, id) table. Returns (id_a =
    * history id, id_b = new id, containment) pairs at or above
    * threshold — intra-history and intra-batch pairs are never formed.
    *
    * The fpCap counts docs across history + batch combined, and sizes
    * are post-cap — IDENTICAL discipline to containmentPairs, so
    * incremental(index(hist), batch) equals the inter-set subset of
    * containmentPairs(hist ++ batch) exactly (WinnowSpec asserts the
    * equality; the oracle recomputes the chain over the union).
    */
  def containmentIncremental(spark: SparkSession, index: DataFrame,
      newBatch: DataFrame, k: Int = 8, w: Int = 16,
      threshold: Double = 0.5, fpCap: Int = 64): DataFrame = {
    import spark.implicits._
    // NOT spread: the incremental batch is small by construction (the
    // day-2 shape) and its single fingerprint pass measured cheaper
    // than the added exchange (the t_kmv_merge lesson; the full
    // containmentPairs corpus pass above keeps its spread)
    val fpH = index.toDF("f", "id")
    val fpN = fingerprintIndex(spark, newBatch, k, w)
    val kept = CappedBuckets.kept(fpH.union(fpN), Seq("f"), fpCap, null)
    val hk = fpH.join(kept, Seq("f"))
    val nk = fpN.join(kept, Seq("f"))
    val hSizes = hk.groupBy($"id").agg(count(lit(1)).as("n"))
    val nSizes = nk.groupBy($"id").agg(count(lit(1)).as("n"))
    val shared = hk.toDF("f", "id_a")
      .join(nk.toDF("f", "id_b"), Seq("f"))
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("s"))
    shared
      .join(hSizes.toDF("id_a", "na"), Seq("id_a"))
      .join(nSizes.toDF("id_b", "nb"), Seq("id_b"))
      .withColumn("containment",
        round($"s" * 1.0 / least($"na", $"nb"), 4))
      .filter($"containment" >= threshold)
      .select($"id_a", $"id_b", $"containment")
  }
}

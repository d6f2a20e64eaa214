package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection: word-shingling -> MinHash signatures ->
  * LSH banding -> bucket join -> EXACT Jaccard verification.
  *
  * Scale design (the point at 100 TB):
  *  - signatures are computed in one narrow pass (a typed map once per
  *    doc, not per shingle row);
  *  - candidate generation shuffles only (band_idx, band_hash, id) —
  *    slim rows — and self-joins within buckets, never the corpus;
  *  - buckets larger than `bucketCap` are pruned inside the one
  *    bounded-member bucket aggregate, which never holds more than
  *    `bucketCap` members (CappedBuckets, shared with SimHash,
  *    EmbeddingDedup and Ann). Dropped buckets are
  *    observable via `ledger` or `oversizedBuckets` (same inputs -> the
  *    pruned (band, bh, n) keys) for lineage/recall accounting;
  *  - exact verification recomputes shingles ONLY for docs that appear
  *    in a candidate pair (semi-join on id, read from the input, not
  *    from the spread copy), so corpus-wide shingle sets (~8x text
  *    size for char-8-grams) never shuffle;
  *  - exact Jaccard is the final arbiter: LSH affects recall only,
  *    never precision.
  *
  * Degenerate-input rule (mirrored by the DuckDB oracles): a doc with
  * fewer than k tokens (word shingles) or fewer than n chars (char
  * n-grams) has NO shingles and never enters banding or pairing.
  *
  * Determinism: hash mixing is SplitMix64-style from a fixed seed — no
  * randomness at runtime (vkit's SeedSequence contract,
  * vkit/utility/pool.py:86-96).
  */
object MinHashDedup {

  /** 64-bit mix (SplitMix64 finalizer). */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hashString(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** MinHash signature over a primitive shingle array: perm i = min
    * over shingles of mix64(h ^ seed_i), with seed_i = mix64(seed + i)
    * hoisted out of the shingle loop (distinctness assumed — a
    * duplicate element cannot change a min anyway). Primitive arrays,
    * not Set[Long]: a Set boxes every element and its iteration
    * dominates the signing pass at scale.
    */
  private[ops] def signatureArr(sh: Array[Long], numPerm: Int,
      seed: Long): Array[Long] = {
    val seeds = Array.tabulate(numPerm)(i => mix64(seed + i))
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var j = 0
    while (j < sh.length) {
      val h = sh(j)
      var i = 0
      while (i < numPerm) {
        val v = mix64(h ^ seeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** Sort a(0..n-1) and keep distinct values — the primitive-array
    * replacement for building a Set (identical value SET, no boxing).
    */
  private[ops] def sortedDistinct(a: Array[Long], n: Int): Array[Long] = {
    if (n == 0) return Array.emptyLongArray
    java.util.Arrays.sort(a, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, w)
  }

  /** Word k-shingles as SORTED-DISTINCT 64-bit hashes. Texts with
    * fewer than k (non-empty) tokens have no shingles (degenerate-input
    * rule). The FNV fold runs word-by-word with the ' ' separator
    * folded in between — the same value as hashString(slice.mkString(" "))
    * with no per-position slice/joined-string allocations.
    */
  private[ops] def shinglesArr(text: String, k: Int): Array[Long] = {
    val ws = text.split(' ').filter(_.nonEmpty)
    if (ws.length < k) return Array.emptyLongArray
    val out = new Array[Long](ws.length - k + 1)
    var i = 0
    while (i + k <= ws.length) {
      var h = 0xCBF29CE484222325L
      var wi = i
      while (wi < i + k) {
        if (wi > i) {
          h ^= ' '
          h *= 0x100000001B3L
        }
        val w = ws(wi)
        var j = 0
        while (j < w.length) {
          h ^= w.charAt(j)
          h *= 0x100000001B3L
          j += 1
        }
        wi += 1
      }
      out(i) = h
      i += 1
    }
    sortedDistinct(out, out.length)
  }

  /** Char n-grams as SORTED-DISTINCT 64-bit hashes — the n-gram
    * Jaccard flavor of near-dup detection. Texts shorter than n have no
    * shingles (degenerate-input rule). The FNV fold runs directly over
    * the char window: hashString(substring) without the substring.
    */
  private[ops] def charNgramsArr(text: String, n: Int): Array[Long] = {
    if (text.length < n) return Array.emptyLongArray
    val m = text.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xCBF29CE484222325L
      var j = i
      val end = i + n
      while (j < end) {
        h ^= text.charAt(j)
        h *= 0x100000001B3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    sortedDistinct(out, m)
  }

  /** Exact Jaccard by linear merge over SORTED distinct-element arrays
    * — the per-pair verify path. A doc appearing in P candidate pairs
    * pays its O(n log n) sort ONCE (in the `sh` stage below) and each
    * pair intersects in O(n) by merge; the previous form rebuilt a
    * hash Set from the shingle Seq once per PAIR row, avoidable
    * constant-factor work that compounds on hot duplicate clusters
    * (bucketCap bounds pairs per bucket but not across bands).
    */
  def jaccardSorted(a: IndexedSeq[Long], b: IndexedSeq[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** (band_idx, band_hash, id) rows — slim shuffle keys; docs with no
    * shingles emit nothing.
    */
  private def bandRows(spark: SparkSession, docs: Dataset[(Long, String)],
      mk: String => Array[Long], numPerm: Int, bands: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val rows = numPerm / bands
    docs.flatMap { case (id, text) =>
      val sh = mk(text)
      if (sh.isEmpty) Iterator.empty
      else {
        val sig = signatureArr(sh, numPerm, seed)
        (0 until bands).iterator.map { b =>
          var h = 0xCBF29CE484222325L
          var i = b * rows
          while (i < (b + 1) * rows) { h = mix64(h ^ sig(i)); i += 1 }
          (b, h, id)
        }
      }
    }.toDF("band", "bh", "id")
  }

  /** Char-n-gram shingler for the `shingler` parameter. */
  def charNgramShingler(n: Int): String => Array[Long] =
    charNgramsArr(_, n)

  /** `shingler` (it MUST return SORTED-DISTINCT hashes, as
    * `shinglesArr` and `charNgramShingler` do: the verify step merges
    * them), or word `shingleK`-shingles when it is null.
    */
  private def shinglerOr(shingler: String => Array[Long],
      shingleK: Int): String => Array[Long] =
    if (shingler != null) shingler else shinglesArr(_, shingleK)

  /** Repartition a corpus to the session's default parallelism when its
    * scan is NARROWER than that — the guide §2.5 input-skew rule (one
    * small unsplittable file -> one task) applied to the CPU-heavy
    * shingle/signature flatMaps: a single-file corpus otherwise runs
    * the whole signing pass on one or two cores while 30 sit idle. At
    * production scale the scan has >= cores splits and this is a no-op
    * (the condition, not the repartition, is what makes it scale-safe).
    *
    * Precondition: `ds` is scan-rooted or cached, as every caller's is.
    * The width probe reads `ds.rdd`, which finalizes an adaptive plan:
    * over a shuffled input it would run every upstream shuffle stage
    * now and again when the real query executes.
    */
  private[ops] def spreadIfNarrow[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  /** Persistable band INDEX of a corpus: the slim (band, bh, id) rows
    * the candidate stage joins on, exposed so an incremental pipeline
    * computes them ONCE per corpus snapshot and writes them to a
    * table. At 100 TB this is the difference between re-scanning and
    * re-signing the whole history for every arriving batch and
    * reading back a bands-x-|corpus|-row index of 20-byte rows.
    * Parameters must match the later `nearDuplicatesIncremental` call
    * (same shingler/numPerm/bands — the signature scheme IS the index
    * format).
    */
  def bandIndex(spark: SparkSession, docs: Dataset[(Long, String)],
      shingleK: Int = 3, numPerm: Int = 64, bands: Int = 16,
      shingler: String => Array[Long] = null): DataFrame =
    bandRows(spark, docs, shinglerOr(shingler, shingleK),
      numPerm, bands, 42L)

  /** Incremental near-dup: a NEW batch against a HISTORICAL corpus via
    * its persisted band index — the daily-crawl-vs-history shape.
    * Only the new batch is shingled and signed; history contributes
    * its stored index rows, and historical TEXT is fetched only for
    * candidate ids (left-semi pushdown into `oldDocs`), never scanned
    * wholesale. Old buckets larger than `bucketCap` are pruned (the
    * degenerate-history rule, same as nearDuplicates).
    * Output: (old_id, new_id, jaccard >= threshold), exact-verified.
    */
  def nearDuplicatesIncremental(spark: SparkSession,
      oldIndex: DataFrame, oldDocs: Dataset[(Long, String)],
      newDocs: Dataset[(Long, String)], shingleK: Int = 3,
      numPerm: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      bucketCap: Int = 64,
      shingler: String => Array[Long] = null): DataFrame = {
    import spark.implicits._
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val mk = shinglerOr(shingler, shingleK)
    val newSpread = spreadIfNarrow(newDocs)
    val newBands = bandRows(spark, newSpread, mk, numPerm, bands, 42L)
    val keptOld = oldIndex
      .join(CappedBuckets.kept(oldIndex, Seq("band", "bh"), bucketCap,
        null), Seq("band", "bh"))
      .withColumnRenamed("id", "old_id")
    // candidate pairs feed THREE consumers (both semi-joins + the final
    // verify join); materialize the slim id pairs once so the bucket
    // join + distinct does not re-execute per consumer
    val pairs = keptOld
      .join(newBands.withColumnRenamed("id", "new_id"),
        Seq("band", "bh"))
      .select($"old_id", $"new_id")
      .distinct()
      .localCheckpoint()
    // candidate docs are re-shingled from the input itself: the
    // semi-join filters first, so spreading the whole history (or
    // batch) again for a few candidates would only add an exchange
    def sortedShingles(docs: Dataset[(Long, String)],
        ids: DataFrame): DataFrame =
      docs.toDF("id", "text")
        .join(ids, Seq("id"), "left_semi")
        .as[(Long, String)]
        .map { case (id, text) => (id, mk(text).toSeq) }
        .toDF("id", "sh")
    val shOld = sortedShingles(oldDocs,
      pairs.select($"old_id".as("id")))
    val shNew = sortedShingles(newDocs,
      pairs.select($"new_id".as("id")))
    pairs
      .join(shOld.withColumnRenamed("id", "old_id")
        .withColumnRenamed("sh", "sh_a"), "old_id")
      .join(shNew.withColumnRenamed("id", "new_id")
        .withColumnRenamed("sh", "sh_b"), "new_id")
      .select($"old_id", $"new_id", $"sh_a", $"sh_b")
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (a, b, shA, shB) =>
        (a, b, jaccardSorted(shA.toIndexedSeq, shB.toIndexedSeq))
      }
      .toDF("old_id", "new_id", "jaccard")
      .filter($"jaccard" >= threshold)
      .select($"old_id", $"new_id", round($"jaccard", 4).as("jaccard"))
  }

  /** Buckets pruned by the cap, i.e. (band, bh, n) with n > bucketCap —
    * the recall-loss ledger for degenerate content. Count/inspect this
    * alongside `nearDuplicates` on the same inputs.
    */
  def oversizedBuckets(spark: SparkSession, docs: Dataset[(Long, String)],
      shingleK: Int = 3, numPerm: Int = 64, bands: Int = 16,
      bucketCap: Int = 64,
      shingler: String => Array[Long] = null): DataFrame =
    CappedBuckets.oversized(bandIndex(spark, docs, shingleK, numPerm,
      bands, shingler), Seq("band", "bh"), bucketCap)

  /** Candidate pairs with exact Jaccard >= threshold.
    *
    * Input: (id: Long, text: String). Output: (id_a, id_b, jaccard)
    * with id_a < id_b, jaccard rounded to 4 decimals for cross-engine
    * comparability. `shingler` replaces the word shingles (SORTED-
    * DISTINCT hashes, e.g. `charNgramShingler`). `ledger` (if given)
    * observes the dropped bucket/row counts on the bucket aggregate
    * (see CappedBuckets).
    *
    * Only the signing pass runs over a spread copy of `docs`; the
    * verify step re-shingles the candidate docs straight from `docs`.
    */
  def nearDuplicates(spark: SparkSession, docs: Dataset[(Long, String)],
      shingleK: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, bucketCap: Int = 64,
      shingler: String => Array[Long] = null,
      ledger: Observation = null): DataFrame = {
    import spark.implicits._
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val mk = shinglerOr(shingler, shingleK)

    // band rows feed one bucket aggregate, but the candidate pairs
    // behind it have three consumers (the candidate-id semi-join and
    // both verify joins); without materialization the shingle+signature
    // flatMap — the CPU-dominant stage of the whole operator — runs
    // more than once (measured: dropping this checkpoint went back to
    // the old job count and was no faster). localCheckpoint keeps only
    // the slim ~20-byte (band, bh, id) rows (the Ann.materializeSlim
    // discipline; a production run persists bandIndex to a table
    // instead). The corpus is spread first so the signing pass uses
    // every core.
    val docsSpread = spreadIfNarrow(docs)
    val bandsDf = bandRows(spark, docsSpread, mk, numPerm, bands, 42L)
      .localCheckpoint()

    val pairs = CappedBuckets.selfPairs(bandsDf.withColumn("tag", lit(0L)),
        Seq("band", "bh"), bucketCap, ledger)
      .select($"id_a", $"id_b")
      .distinct()

    // exact verification: recompute shingles ONLY for candidate docs
    // (semi-join on id; AQE broadcasts the candidate set when small),
    // so corpus-wide shingle sets never shuffle
    // no .distinct() — the left_semi probe side needs no dedup, and
    // skipping it saves a whole shuffle stage
    val candIds = pairs
      .select(explode(array($"id_a", $"id_b")).as("id"))
    // shingle arrays are SORTED once per doc here, so the per-pair
    // verify below is a linear merge (see jaccardSorted). They are
    // read from `docs`, not `docsSpread`: the semi-join filters first,
    // so only candidate docs are re-shingled, and a second spread of
    // the whole corpus would re-run its exchange for a few hundred of
    // them. NOT localCheckpointed despite two consumers (id_a/id_b
    // joins): measured +3 AQE jobs and no CPU win across the whole
    // minhash family — the broadcast semi-join re-execution is cheaper
    // than the extra materialization (the t_kmv_merge lesson again)
    val sh = docs.toDF("id", "text")
      .join(candIds, Seq("id"), "left_semi")
      .as[(Long, String)]
      .map { case (id, text) => (id, mk(text).toSeq) }
      .toDF("id", "sh")

    pairs
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .select($"id_a", $"id_b", $"sh_a", $"sh_b")
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (a, b, shA, shB) =>
        (a, b, jaccardSorted(shA.toIndexedSeq, shB.toIndexedSeq))
      }
      .toDF("id_a", "id_b", "jaccard")
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
  }
}

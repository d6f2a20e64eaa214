package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation retrieval/filtering family: benchmark
  * decontamination, BM25 retrieval over an inverted index, temperature
  * source balancing, and n-gram LM scoring. All four are published
  * training-data-pipeline staples (decontamination: Brown et al. 2020
  * §C "Measuring and Preventing Memorization"; BM25: Robertson &
  * Zaragoza 2009; temperature sampling: Conneau et al. 2020 (XLM-R)
  * §3.1; LM quality scoring: Wenzek et al. 2020 (CCNet) §3.3 — public
  * knowledge).
  *
  * Determinism contract (oracle-mirrored): every floating-point score
  * is rounded to a scaled BIGINT (`round(x * 1e6)::long`) BEFORE any
  * aggregation, so parallel summation order cannot change results —
  * sums of longs are exact and associative. Global scalars (corpus
  * size, average doc length, vocabulary size) ride along as 1-row
  * broadcast cross joins, never driver-side collects.
  */
object Retrieval {

  /** Non-empty whitespace tokens of `text` (the corpus-wide word
    * convention shared with TextStats / MinHashDedup oracles).
    */
  private def toks(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Word n-grams joined with single spaces; empty array when the doc
    * has fewer than n tokens (sequence() would otherwise run backwards).
    */
  private def wordNgrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array())

  /** Spread a BATCH corpus whose scan is narrower than the session
    * parallelism (guide §2.5: a single small file serializes the
    * tokenize/ngram CPU on one core); streaming inputs pass through
    * untouched — their parallelism is the source's file partitioning.
    */
  private def spreadBatch(corpus: DataFrame): DataFrame =
    if (corpus.isStreaming) corpus
    else MinHashDedup.spreadIfNarrow(corpus)

  /** Benchmark decontamination: flag corpus documents that share at
    * least one word n-gram with any benchmark document (the GPT-3 /
    * Gopher 13-gram overlap rule). Returns (doc_id, n_shared) where
    * n_shared counts DISTINCT shared n-grams; clean documents are
    * absent.
    *
    * Scale shape: the benchmark side (eval sets — thousands of docs,
    * not billions) collapses to a DISTINCT n-gram set and is broadcast;
    * the corpus side streams through explode -> distinct(doc, gram) ->
    * broadcast-hash semi join -> map-side-combinable count, so no
    * corpus-sized state ever shuffles on the gram key. At real scale
    * hash the gram strings to 64-bit before the join (xxhash64) — kept
    * as raw strings here so the oracle joins on identical keys.
    */
  def decontaminate(spark: SparkSession, corpus: DataFrame,
      bench: DataFrame, n: Int = 13): DataFrame = {
    import spark.implicits._
    val benchGrams = bench
      .select(explode(wordNgrams(toks($"text"), n)).as("g"))
      .distinct()
    // broadcast-join BEFORE the distinct: the bench membership test is
    // a per-row filter, so applying it under the (doc_id, g) distinct
    // leaves only MATCHED grams — a bench-hit-sized set — in the
    // exchange, instead of shuffling every distinct corpus gram
    // (corpus-sized strings of n words each). Set semantics are
    // unchanged: distinct-then-filter == filter-then-distinct.
    spreadBatch(corpus)
      .select($"doc_id", explode(wordNgrams(toks($"text"), n)).as("g"))
      .join(broadcast(benchGrams), Seq("g"))
      .distinct()
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-path decontamination — same rule and output shape as
    * `decontaminate`, but the bench set collapses to one BLOOM-1 blob
    * (m bits, k probes — see `graft.functions.BloomOps` for the frozen
    * hash and sizing rule) and the corpus side tests each doc's
    * DISTINCT n-grams inline: ZERO corpus shuffle, versus the exact
    * join's corpus-wide distinct(doc, gram) exchange. False positives
    * are deterministic under the frozen hash (the oracle recomputes
    * the exact bit positions); size m ~ 16x the bench gram count to
    * keep them ~1e-4.
    *
    * Both sides hash grams in one pass over the UTF-8 bytes and never
    * build a gram string: each token is folded once, and a gram's hash
    * composes from its tokens' folds by Horner,
    * fold(a ++ " " ++ b) = ((fold(a)*31 + 32) * 31^|b| + fold(b)) mod p
    * (|b| in code points), the value `fold` gives the joined string —
    * so bit positions, blob and output equal the gram-string chain's.
    * The build aggregates the raw bench text with gram width n
    * (`bloomAgg(.., gram = n)`); the probe (`Bloom.gramHits`) counts
    * distinct hit grams, deciding distinctness by content among the
    * hits only (a gram hits iff each copy of it does, and hits are
    * rare, so clean grams are never compared).
    *
    * The blob is built eagerly (one m/8-byte row) and broadcast ONCE:
    * the returned plan keeps it as a literal inside the logical probe
    * (plan identity, `<blob N bytes>` in plan strings), and the
    * optimized plan reads the broadcast handle — so a multi-MB blob is
    * neither hex-rendered into plan strings nor copied into every
    * stage's task binary. The handle lives as long as the returned
    * frame (the context cleaner drops it after that).
    */
  def decontaminateBloom(spark: SparkSession, corpus: DataFrame,
      bench: DataFrame, n: Int = 13, m: Int = 32768, k: Int = 7)
      : DataFrame = {
    import spark.implicits._
    // no distinct() before the aggregate: a Bloom insert is idempotent,
    // so repeated grams set the same bits and the gram shuffle buys
    // nothing
    val blob = bench
      .agg(graft.functions.Bloom.bloomAgg($"text", m, k, gram = n).as("b"))
      .head.getAs[Array[Byte]](0) // one m/8-byte row: scalar bootstrap
    val shipped = spark.sparkContext.broadcast(blob)
    // Once: the n_shared > 0 filter would otherwise be pushed below
    // the spread exchange with the probe substituted into it — the
    // probe then runs twice, and the pushed copy runs on the narrow
    // scan (measured: 1.8 s single-task filter stage)
    spreadBatch(corpus)
      .select($"doc_id",
        graft.functions.OnceOps.once(
          graft.functions.Bloom.gramHits(shipped, $"text", n, k))
          .as("n_shared"))
      .filter($"n_shared" > 0)
  }

  /** Okapi BM25 top-k retrieval. `corpus` is (doc_id, text); `queries`
    * is (qid, terms: array<string>). Returns (qid, rn, doc_id,
    * score_scaled) with rn <= k, ranked by score then doc_id.
    *
    * The inverted index is the (term, doc_id, tf) hash aggregation —
    * map-side combined, so each scan task emits its distinct-term cell
    * count, not its token count. Query terms are broadcast, so only the
    * postings of queried terms flow into scoring; the rank window sorts
    * candidate cells, never the corpus. Per-term scores are scaled to
    * longs before the (qid, doc) sum (see the determinism contract).
    * Stopword-like terms keep naturally small IDF here; at real scale
    * ALSO drop terms with df/N above a cutoff before the join so a
    * query containing "the" cannot pull a corpus-sized posting list.
    */
  def bm25TopK(spark: SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int = 5, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val tokd = spreadBatch(corpus)
      .select($"doc_id", toks($"text").as("ws"))
    // inverted-index cells carry the doc length (the standard postings
    // layout) so scoring needs no corpus-sized doc-stats join later;
    // dl is functionally dependent on doc_id, so the extra group key
    // does not change the aggregation. The index is materialized ONCE
    // (localCheckpoint — the Ann.lshTopK discipline; a production run
    // persists it to a table): document frequencies AND corpus stats
    // both derive from the stored cells, so the corpus text is
    // tokenized exactly one time no matter how many consumers read the
    // index. Consequence (mirrored in the oracle): a doc with zero
    // tokens has no cells and drops out of N/avgdl — it can never
    // match a query anyway.
    val tf = tokd
      .select($"doc_id", size($"ws").cast("long").as("dl"),
        explode($"ws").as("w"))
      .groupBy($"doc_id", $"dl", $"w").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val stats = tf.select($"doc_id", $"dl").distinct()
      .agg(count(lit(1)).as("n"), sum($"dl").as("sdl"))
    // a query is a SET of terms: dedup after the explode so a caller
    // passing repeated terms (or repeated query rows) cannot double-
    // count a term's contribution in the score sum
    val qTerms = queries.select($"qid", explode($"terms").as("w"))
      .distinct()
    // expression SHAPE matches the oracle SQL exactly (cross-engine
    // doubles: identical shape -> identical bits; then scaled-long)
    val avgdl = $"sdl" * 1.0 / $"n"
    val idf = log(lit(1.0) + ($"n" - $"df" + 0.5) / ($"df" + 0.5))
    val termScore = idf * ($"tf" * (k1 + 1)) /
      ($"tf" + lit(k1) * (lit(1.0) - b + lit(b) * $"dl" / avgdl)) * 1e6
    // document frequencies are computed over the FULL index but only
    // the queried terms' rows are kept (broadcast semi-join), so the
    // df side stays query-sized no matter how large the vocabulary is
    val dfQ = df.join(broadcast(qTerms.select($"w").distinct()), Seq("w"))
    val scored = broadcast(qTerms)
      .join(tf, Seq("w"))
      .join(broadcast(dfQ), Seq("w"))
      .crossJoin(broadcast(stats))
      .select($"qid", $"doc_id", round(termScore).cast("long").as("s"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"s").as("score_scaled"))
    val w = Window.partitionBy($"qid")
      .orderBy($"score_scaled".desc, $"doc_id".asc)
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"qid", $"rn", $"doc_id", $"score_scaled")
  }

  /** Temperature source balancing: per-source keep budgets proportional
    * to count^alpha (alpha < 1 flattens the source distribution — the
    * multilingual-sampling rule), applied deterministically by
    * (md5(text), doc_id) rank within each source. Total budget is half
    * the corpus. Returns one row per source: (source, total, budget,
    * kept, kept_id_sum) — kept_id_sum pins WHICH rows survived, not
    * just how many.
    *
    * Scale shape: two aggregations over slim (source) cells — row
    * counts, then kept counts — plus one rank window partitioned by
    * source; budgets are a sources-sized table joined broadcast. The
    * per-source window is the only per-row sort; a skewed mega-source
    * at real scale takes the salted-prefix variant of the same rank
    * (the q_skew_salted pattern).
    */
  /** The surviving rows of the temperature balance: (source, doc_id,
    * total, budget). See temperatureBalance for the contract; this is
    * the composable form (semi-join it back against the corpus to
    * continue a pipeline with only the balanced rows).
    */
  def temperatureKept(spark: SparkSession, corpus: DataFrame,
      alpha: Double = 0.5): DataFrame = {
    import spark.implicits._
    // per-source weight count^alpha is scaled to a long BEFORE the
    // global sum (the file's determinism contract: a parallel sum of
    // doubles reorders; a sum of longs is exact)
    val cnt = corpus.groupBy($"source").agg(count(lit(1)).as("total"))
      .withColumn("pw", round(pow($"total", alpha) * 1e6).cast("long"))
    val st = cnt.agg(sum($"pw").as("spw"), sum($"total").as("t"))
    val bud = cnt.crossJoin(broadcast(st))
      .select($"source", $"total",
        least($"total", greatest(lit(1L),
          floor(floor($"t" / 2) * ($"pw" * 1.0 / $"spw"))
            .cast("long"))).as("budget"))
    val w = Window.partitionBy($"source")
      .orderBy($"h".asc, $"doc_id".asc)
    val ranked = corpus
      .select($"source", $"doc_id", md5($"text").as("h"))
      .withColumn("rn", row_number().over(w))
    ranked.join(broadcast(bud), Seq("source"))
      .filter($"rn" <= $"budget")
      .select($"source", $"doc_id", $"total", $"budget")
  }

  def temperatureBalance(spark: SparkSession, corpus: DataFrame,
      alpha: Double = 0.5): DataFrame = {
    import spark.implicits._
    temperatureKept(spark, corpus, alpha)
      .groupBy($"source", $"total", $"budget")
      .agg(count(lit(1)).as("kept"), sum($"doc_id").as("kept_id_sum"))
  }

  /** Fixed-size overlapping token chunking — the context-length prep
    * step (split every document into windows of `size` tokens advancing
    * by `stride`, so consecutive chunks overlap by size - stride).
    * Returns (doc_id, chunk_idx, n_tokens, chunk_hash) where chunk_hash
    * is md5 of the space-joined chunk text — enough to pin exact chunk
    * CONTENT in the oracle without shipping the text twice.
    *
    * Chunk count is exact integer arithmetic on both engines:
    * 1 chunk when n <= size, else 1 + ceil((n - size) / stride) — the
    * final chunk may be shorter, and every token lands in at least one
    * chunk. Scale shape: one narrow projection, one explode bounded by
    * ~n/stride rows per doc, no shuffle at all — chunking is embarrass-
    * ingly parallel and stays in whole-stage codegen.
    */
  def chunk(spark: SparkSession, corpus: DataFrame,
      size: Int = 32, stride: Int = 24): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "need 1 <= stride <= size")
    import spark.implicits._
    val tokd = corpus.select($"doc_id", toks($"text").as("ws"))
      .filter(org.apache.spark.sql.functions.size($"ws") >= 1)
    val n = org.apache.spark.sql.functions.size($"ws")
    val nChunks = when(n <= size, lit(1L)).otherwise(
      expr(s"(size(ws) - $size + $stride - 1) div $stride") + 1L)
    tokd
      .select($"doc_id", $"ws",
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        slice($"ws", ($"chunk_idx" * stride + 1).cast("int"),
          lit(size)).as("chunk"))
      .select($"doc_id", $"chunk_idx",
        org.apache.spark.sql.functions.size($"chunk").cast("long")
          .as("n_tokens"),
        md5(array_join($"chunk", " ")).as("chunk_hash"))
  }

  /** Sequence packing — the context-assembly step of LM training prep
    * (concat-and-chunk, the GPT-3 convention: documents are
    * concatenated into a token stream and cut every `contextLen`
    * tokens, documents spanning context boundaries; Brown et al. 2020
    * §2.2). One global stream cannot parallelize, so the corpus splits
    * into 16 independent packing streams by a deterministic md5 bucket
    * of doc_id, each stream ordered by (md5, doc_id) — an unbiased
    * deterministic shuffle — and packed by a running token prefix sum.
    *
    * Returns one row per document: (doc_id, bucket, n_tokens,
    * tok_start, chunk_first, chunk_last, chunk_n) — the document's
    * offset in its stream and the context windows it lands in.
    * Empty documents (0 tokens) are dropped, as in chunk().
    *
    * Scale shape: ONE shuffle (the per-bucket window sort), and the
    * window carries (doc_id, n_tokens, ord) — never text. The stream
    * count is the parallelism knob: one md5 hex char (16) keeps the
    * oracle tiny; production uses O(cluster cores) streams. Cut
    * positions change with the stream count BY DESIGN — packing is an
    * assignment, and any deterministic assignment is valid training
    * input.
    */
  def pack(spark: SparkSession, corpus: DataFrame,
      contextLen: Int = 128): DataFrame = {
    import spark.implicits._
    val base = corpus
      .select($"doc_id",
        org.apache.spark.sql.functions.size(toks($"text")).cast("long")
          .as("n_tokens"),
        md5($"doc_id".cast("string")).as("ord"))
      .filter($"n_tokens" >= 1)
      .withColumn("bucket", substring($"ord", 1, 1))
    val w = Window.partitionBy($"bucket").orderBy($"ord", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .select($"doc_id", $"bucket", $"n_tokens",
        coalesce(sum($"n_tokens").over(w), lit(0L)).as("tok_start"))
      .select($"doc_id", $"bucket", $"n_tokens", $"tok_start",
        expr(s"tok_start div $contextLen").as("chunk_first"),
        expr(s"(tok_start + n_tokens - 1) div $contextLen")
          .as("chunk_last"))
      .withColumn("chunk_n", $"chunk_last" - $"chunk_first" + 1L)
  }

  /** Bigram-LM quality score (CCNet-style, self-trained): train
    * add-one-smoothed bigram probabilities on the corpus itself, then
    * score each document by its mean negative log probability — high
    * scores mark improbable (noisy) text. Returns (doc_id, n_bigrams,
    * nll_mean_scaled); single-token docs are absent.
    *
    * p(w2|w1) = (c(w1,w2) + 1) / (c1(w1) + V) with c1 the predecessor
    * count and V the corpus vocabulary size. Per-bigram NLL is scaled
    * to a long before the per-doc sum; the mean is exact integer
    * division (sum div n).
    *
    * Scale shape: the model is two hash aggregations producing
    * (w1,w2,c) / (w1,c) cell tables — vocab-bounded, map-side combined
    * — and scoring is a cell join keyed on the bigram, not a per-row
    * lookup structure; V rides along as a broadcast 1-row cross join.
    */
  def lmScore(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val tokd = spreadBatch(corpus)
      .select($"doc_id", toks($"text").as("ws"))
    val vocab = tokd.select(explode($"ws").as("w"))
      .agg(countDistinct($"w").as("v"))
    val bg = tokd.filter(size($"ws") >= 2)
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"ws") - 1), i =>
          struct(element_at($"ws", i).as("w1"),
            element_at($"ws", i + 1).as("w2")))).as("p"))
      .select($"doc_id", $"p.w1", $"p.w2")
    // collapse per-OCCURRENCE rows to per-(doc, bigram) CELLS with a
    // multiplicity before anything else touches them: the model counts
    // derive from the cells by summation, and the scoring join then
    // moves |distinct bigrams per doc| rows instead of |tokens| rows
    // through BOTH model joins (aggregate before you shuffle, guide
    // §2.3). Scores are unchanged: sum over occurrences of nll == sum
    // over cells of k * nll, and k, nll are exact longs. NOT
    // localCheckpointed: lmScore composes downstream of expensive
    // upstreams (t_corpus_mix), and an eager materialization here
    // would both force the upstream to run at construction time and
    // defeat in-plan exchange reuse across the remaining consumers —
    // measured +12 AQE jobs on t_corpus_mix with a checkpoint.
    val bgc = bg.groupBy($"doc_id", $"w1", $"w2")
      .agg(count(lit(1)).as("k"))
    val cb = bgc.groupBy($"w1", $"w2").agg(sum($"k").as("c12"))
    val cu = cb.groupBy($"w1").agg(sum($"c12").as("c1"))
    val nll = round(-log(($"c12" + 1) * 1.0 / ($"c1" + $"v")) * 1e6)
      .cast("long")
    bgc.join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select($"doc_id", $"k", nll.as("s"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_bigrams"), sum($"s" * $"k").as("snll"))
      .select($"doc_id", $"n_bigrams",
        expr("snll div n_bigrams").as("nll_mean_scaled"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis columns for training-data pipelines, built from
  * codegen'd built-ins only (no UDFs): token counting, quality scoring,
  * document fingerprinting. Mirrors the classifier-feature shape of the
  * reference's block stats (word counts / densities,
  * vkit-analogue: Boilerplate.TextBlock) lifted to document level.
  */
object TextStats {

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def tokens(text: Column): Column = split(text, " ")

  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  def stopwordRatio(text: Column): Column =
    round(size(filter(tokens(text),
      t => t.isin(stopwords: _*))).cast("double") / nTokens(text), 4)

  def uniqTokenRatio(text: Column): Column =
    round(size(array_distinct(tokens(text))).cast("double") /
      nTokens(text), 4)

  /** QUAL-1 frozen quality score in [0,1]: length band + stopword band +
    * repetition penalty. Deterministic, SQL-mirrorable.
    */
  def qualityScore(text: Column): Column = {
    val nt = nTokens(text)
    val lenScore = when(nt >= 20 && nt <= 1000, 0.4)
      .when(nt >= 5, 0.2).otherwise(0.0)
    val swr = stopwordRatio(text)
    val swScore = when(swr >= 0.01 && swr <= 0.4, 0.3).otherwise(0.0)
    val uq = uniqTokenRatio(text)
    val uqScore = when(uq >= 0.3, 0.3).when(uq >= 0.1, 0.1).otherwise(0.0)
    round(lenScore + swScore + uqScore, 2)
  }

  /** REDACT-1 (frozen, oracle-mirrored): PII scrubbing for training
    * corpora — emails, dotted-quad IPs, and NNN-NNN-NNNN phone numbers
    * replaced by typed placeholders, in that order, all occurrences.
    * Pure codegen'd regexp_replace; the patterns use only syntax that
    * behaves identically in Java regex (Spark) and RE2 (DuckDB).
    */
  def redactPII(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>")
  }

  private def wsTokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Longest run of equal adjacent elements in the SORTED array — i.e.
    * the max element frequency — in one O(n log n) pass (sort +
    * aggregate with (prev, run, best) struct state). The naive
    * per-distinct-token refilter is O(n^2) per row, which at
    * training-corpus document lengths (10^4+ tokens) is 10^8 lambda
    * evaluations per document; the DuckDB oracle keeps the naive
    * formulation (value-equal, and sf0.01 is tiny).
    */
  private def maxRunSorted(arr: Column): Column = {
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0).as("run"), lit(0).as("best"))
    aggregate(array_sort(arr), zero,
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Distinct count via sorted adjacency (same O(n log n) rationale). */
  private def distinctSorted(arr: Column): Column = {
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0).as("cnt"))
    aggregate(array_sort(arr), zero,
      (acc, x) => struct(x.as("prev"),
        (acc.getField("cnt") +
          when(x <=> acc.getField("prev"), 0).otherwise(1)).as("cnt")),
      acc => acc.getField("cnt"))
  }

  /** Repetition signal: highest single-token frequency / token count
    * (the "most common word fraction" family of corpus-quality filters,
    * Rae et al. 2021 "Scaling Language Models: ... Gopher" table A1 —
    * public knowledge). Rounded to 4 decimals for oracle compare.
    */
  def topTokenRatio(text: Column): Column = {
    val ws = wsTokens(text)
    round(maxRunSorted(ws).cast("double") / size(ws), 4)
  }

  /** Repetition signal: 1 - distinct-bigram fraction (duplicate-n-gram
    * fraction family, same public precedent); 0.0 below 2 tokens.
    */
  def dupBigramRatio(text: Column): Column = {
    val ws = wsTokens(text)
    val n = size(ws)
    val bigrams = transform(sequence(lit(1), n - 1),
      i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1)))
    round(when(n < 2, 0.0).otherwise(
      lit(1.0) - distinctSorted(bigrams).cast("double") /
        (n - 1).cast("double")), 4)
  }

  /** LSHAPE-1 (frozen, oracle-mirrored) line-shape corpus filters —
    * the document-structure slice of the Gopher rules (Rae et al. 2021
    * table A1, public knowledge): a page that is >90% bullet lines or
    * >30% ellipsis-terminated lines, or whose symbol-to-word ratio
    * exceeds 0.1, is boilerplate/low-quality. Pure codegen'd
    * built-ins; '\n'-split lines; all ratios rounded to 4 decimals.
    */
  def bulletRatio(text: Column): Column = {
    val lines = split(text, "\n")
    round(size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
      .cast("double") / size(lines), 4)
  }

  // \z (end of input), NOT $: Java-regex $ also matches before a
  // trailing line terminator, so after splitting on '\n' a CRLF corpus
  // would count '\r'-terminated lines as ellipsis-terminated while the
  // RE2 oracle mirror would not — \z means the same thing on both
  // engines (LSHAPE-1)
  def ellipsisRatio(text: Column): Column = {
    val lines = split(text, "\n")
    round(size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\z")))
      .cast("double") / size(lines), 4)
  }

  /** (# chars + "..." occurrences) / word count, floored-at-1 words. */
  def symbolWordRatio(text: Column): Column = {
    val nw = greatest(size(filter(split(text, " "), t => t =!= lit(""))),
      lit(1))
    val hashes = length(text) -
      length(call_function("replace", text, lit("#"), lit("")))
    val ell = (length(text) -
      length(call_function("replace", text, lit("..."), lit("")))) / 3
    round((hashes + ell).cast("double") / nw, 4)
  }

  /** SAMPLE-1 deterministic sampling predicate: keep a row iff the
    * first byte of md5(key-as-string) is below `hexBound` (two lowercase
    * hex chars; "1a" keeps 26/256 ~ 10.2%). Stable across engines,
    * partitionings, and runs — the idiomatic reproducible corpus
    * sample.
    */
  def sampleBucket(key: Column): Column =
    substring(md5(key.cast("string")), 1, 2)

  def sampled(key: Column, hexBound: String): Column =
    sampleBucket(key) < lit(hexBound)

  /** FP-1 document fingerprint: polynomial rolling hash (Karp-Rabin) of
    * the text chars, base 31 mod 1e9+7 (modulus small enough that
    * acc*31+c never overflows a signed 64-bit long) — computed with
    * codegen'd `aggregate` over the char codes, no UDF.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(filter(split(text, ""), c => c =!= ""),
        c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 31L + c, lit(1000000007L)))
}

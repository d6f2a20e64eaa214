package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The capped-bucket candidate step every LSH family here shares
  * (MinHash bands, SimHash blocks, embedding hyperplane buckets, the
  * ANN and incremental-dedup indexes): count each bucket, record what
  * the cap drops, keep buckets of at most `cap` rows, expand pairs
  * within a kept bucket. A family differs only in how it keys its rows
  * and how it verifies the candidates.
  *
  * Rows carry the bucket `keys` columns and `id: Long`; `selfPairs`
  * also reads `tag: Long`, a per-row payload handed back with each side
  * of a pair (a simhash, a home/probe flag, or 0).
  *
  * Scale: bucket sizes are measured FIRST with a count-only aggregation
  * (constant memory per group), and a bucket over `cap` is pruned as
  * one (keys, n) row before any collect_list materializes it, so a
  * degenerate bucket (millions of near-empty docs sharing a band hash)
  * never builds a multi-million-element aggregation buffer.
  */
object CappedBuckets {

  private[ops] case class Member(id: Long, tag: Long)

  /** (keys, n) per bucket. With a `ledger`, the same count pass also
    * observes what a cap of `cap` drops: keys `dropped_buckets` and
    * `dropped_rows`, readable after the first action on a plan that
    * consumes this frame — recall-loss accounting with no second pass.
    *
    * Caveat (verified behavior on Spark 4): if NO bucket survives the
    * cap, AQE's empty-relation propagation replaces the downstream join
    * — including this metrics node — with an empty relation, and
    * `ledger.get` returns an EMPTY map rather than zeros. A populated
    * map is the exact drop count; an empty map means "no kept buckets"
    * (consult `oversized` for the breakdown in that case).
    */
  private def counted(rows: DataFrame, keys: Seq[String], cap: Int,
      ledger: Observation): DataFrame = {
    val n = col("n")
    val counts = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    if (ledger == null) counts
    else counts.observe(ledger,
      count(when(n > cap, lit(1))).alias("dropped_buckets"),
      coalesce(sum(when(n > cap, n)), lit(0L)).alias("dropped_rows"))
  }

  /** Keys of the buckets holding at most `cap` rows; join them back to
    * the rows to apply the cap. `ledger` may be null.
    */
  def kept(rows: DataFrame, keys: Seq[String], cap: Int,
      ledger: Observation): DataFrame =
    counted(rows, keys, cap, ledger).filter(col("n") <= cap)
      .select(keys.map(col): _*)

  /** Within-bucket candidate pairs of the kept buckets:
    * (id_a, id_b, tag_a, tag_b) with id_a < id_b, one row per pair of
    * bucket members with different ids (not deduplicated across
    * buckets). Singleton buckets are dropped with the oversized ones
    * before the join, so the collected lists hold 2..cap members.
    */
  def selfPairs(rows: DataFrame, keys: Seq[String], cap: Int,
      ledger: Observation): DataFrame = {
    import rows.sparkSession.implicits._
    val n = col("n")
    val pairKeys = counted(rows, keys, cap, ledger)
      .filter(n > 1 && n <= cap).select(keys.map(col): _*)
    rows.join(pairKeys, keys)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct($"id", $"tag")).as("xs"))
      .select($"xs").as[Seq[Member]]
      .flatMap(pairsOf)
      .toDF("id_a", "id_b", "tag_a", "tag_b")
  }

  private def pairsOf(xs: Seq[Member])
      : Iterator[(Long, Long, Long, Long)] = {
    val ms = xs.toIndexedSeq
    for {
      i <- ms.indices.iterator
      j <- (i + 1 until ms.length).iterator
      x = ms(i)
      y = ms(j)
      if x.id != y.id
    } yield
      if (x.id < y.id) (x.id, y.id, x.tag, y.tag)
      else (y.id, x.id, y.tag, x.tag)
  }

  /** Buckets pruned by the cap, (keys, n) with n > `cap` — the
    * standalone recall-loss inspection query over the same rows.
    */
  def oversized(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    counted(rows, keys, cap, null).filter(col("n") > cap)
}

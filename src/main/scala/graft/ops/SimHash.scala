package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}

/** SimHash near-dup detection: 64-bit token-weighted fingerprint +
  * pigeonhole blocking for Hamming-distance candidate search.
  *
  * Scale: for max distance d, a 64-bit hash is split into d+1 blocks —
  * any pair within distance d agrees on >= 1 whole block (pigeonhole),
  * so candidates come from equality joins on (block_idx, block_value):
  * slim shuffle keys, no quadratic scan. Exact Hamming verify after.
  */
object SimHash {

  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    for (tok <- text.split(' ') if tok.nonEmpty) {
      val h = MinHashDedup.mix64(MinHashDedup.hashString(tok))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Slim (blk, bv, id, tag) rows, tag = the doc's simhash. */
  private def blockRows(spark: SparkSession,
      docs: Dataset[(Long, String)], nBlocks: Int): DataFrame = {
    import spark.implicits._
    val width = 64 / nBlocks
    docs.map { case (id, t) => (id, simhash64(t)) }
      .flatMap { case (id, h) =>
        (0 until nBlocks).iterator.map { b =>
          val lo = b * width
          val w = if (b == nBlocks - 1) 64 - lo else width
          val mask = if (w == 64) -1L else (1L << w) - 1L
          (b, (h >>> lo) & mask, id, h)
        }
      }.toDF("blk", "bv", "id", "tag")
  }

  /** Buckets pruned by the cap — the recall-loss ledger (see
    * MinHashDedup.oversizedBuckets).
    */
  def oversizedBuckets(spark: SparkSession, docs: Dataset[(Long, String)],
      maxDist: Int = 3, bucketCap: Int = 64): DataFrame =
    CappedBuckets.oversized(blockRows(spark, docs, maxDist + 1),
      Seq("blk", "bv"), bucketCap)

  /** Pairs with Hamming(simhash) <= maxDist; id_a < id_b. `ledger` (if
    * given) observes dropped bucket/row counts on the bucket aggregate
    * (see CappedBuckets).
    */
  def nearDuplicates(spark: SparkSession, docs: Dataset[(Long, String)],
      maxDist: Int = 3, bucketCap: Int = 64,
      ledger: Observation = null): DataFrame = {
    import spark.implicits._
    // simhashing is one mix64+64-bit vote per token — spread a narrow
    // scan so it parallelizes, and materialize the slim block rows
    // once (the MinHashDedup band-rows discipline); their one consumer
    // is the bucket aggregate
    val blocks = blockRows(spark,
      MinHashDedup.spreadIfNarrow(docs), maxDist + 1)
      .localCheckpoint()

    // the pair tags are the two simhashes: verify on them directly
    CappedBuckets.selfPairs(blocks, Seq("blk", "bv"), bucketCap, ledger)
      .distinct()
      .as[(Long, Long, Long, Long)]
      .map { case (a, b, ha, hb) => (a, b, hamming(ha, hb)) }
      .toDF("id_a", "id_b", "dist")
      .filter($"dist" <= maxDist)
  }
}

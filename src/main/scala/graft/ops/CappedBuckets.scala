package graft.ops

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

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
  * Scale: no aggregation buffer ever holds more than `cap` members.
  * `kept` and `oversized` count only (constant memory per group);
  * `selfPairs` runs ONE bounded-member aggregate (`CappedMembers`)
  * whose buffer forgets its members as soon as its count passes `cap`,
  * so a degenerate bucket (millions of near-empty docs sharing a band
  * hash) costs one count, never a multi-million-element list, and the
  * candidate step is one exchange.
  */
object CappedBuckets {

  private[ops] case class Member(id: Long, tag: Long)

  /** With a `ledger`, observe on `buckets` — one (keys, n) row per
    * bucket — what a cap of `cap` drops: keys `dropped_buckets` and
    * `dropped_rows`, readable after the first action on a plan that
    * consumes the returned frame — recall-loss accounting with no
    * second pass.
    *
    * Caveat (verified behavior on Spark 4): if NO bucket survives the
    * cap, AQE's empty-relation propagation replaces the downstream
    * plan — including this metrics node — with an empty relation, and
    * `ledger.get` returns an EMPTY map rather than zeros. A populated
    * map is the exact drop count; an empty map means "no kept buckets"
    * (consult `oversized` for the breakdown in that case).
    */
  private def observed(buckets: DataFrame, cap: Int,
      ledger: Observation): DataFrame = {
    val n = col("n")
    if (ledger == null) buckets
    else buckets.observe(ledger,
      count(when(n > cap, lit(1))).alias("dropped_buckets"),
      coalesce(sum(when(n > cap, n)), lit(0L)).alias("dropped_rows"))
  }

  /** (keys, n) per bucket, ledger observed (see `observed`). */
  private def counted(rows: DataFrame, keys: Seq[String], cap: Int,
      ledger: Observation): DataFrame =
    observed(rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")),
      cap, ledger)

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
    * buckets). One exchange: `CappedMembers` yields each bucket's
    * (n, members), the ledger is observed on its n, and buckets with
    * 1 < n <= cap expand by a typed flatMap.
    */
  def selfPairs(rows: DataFrame, keys: Seq[String], cap: Int,
      ledger: Observation): DataFrame = {
    import rows.sparkSession.implicits._
    val members = ColumnBridge.column(CappedMembers(
      ColumnBridge.expression($"id".cast("long")),
      ColumnBridge.expression($"tag".cast("long")), cap)
      .toAggregateExpression())
    val buckets = rows.groupBy(keys.map(col): _*).agg(members.as("b"))
      .select($"b.n".as("n"), $"b.xs".as("xs"))
    observed(buckets, cap, ledger)
      .filter($"n" > 1 && $"n" <= cap)
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

/** `CappedMembers` buffer: the bucket's row count `n` and, while
  * n <= cap, all of its (id, tag) members, interleaved in `xs`; once
  * n > cap it holds none (`m` = 0).
  */
private[ops] final class MemberBuf(var n: Long, var m: Int,
    var xs: Array[Long])

/** Bounded-member bucket aggregate over two LONG inputs (id, tag):
  * struct(n, xs: array<(id, tag)>) per group, where xs lists every
  * member when n <= `cap` and is empty otherwise. `update` and `merge`
  * add to n and drop the members the moment n passes `cap`, so no
  * buffer — partial, merged or spilled — holds more than `cap`
  * members. Buffers serialize as n (8 bytes), m (4 bytes), then m
  * (id, tag) long pairs.
  */
private[ops] case class CappedMembers(id: Expression, tag: Expression,
    cap: Int, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MemberBuf] {

  require(cap >= 1, s"bucket cap must be >= 1, got $cap")

  override def createAggregationBuffer(): MemberBuf =
    new MemberBuf(0L, 0, Array.emptyLongArray)

  private def add(b: MemberBuf, i: Long, t: Long): Unit = {
    if (2 * b.m == b.xs.length)
      b.xs = java.util.Arrays.copyOf(b.xs,
        math.min(2 * cap, math.max(8, 2 * b.xs.length)))
    b.xs(2 * b.m) = i
    b.xs(2 * b.m + 1) = t
    b.m += 1
  }

  private def forget(b: MemberBuf): Unit =
    if (b.m > 0) { b.m = 0; b.xs = Array.emptyLongArray }

  override def update(b: MemberBuf, input: InternalRow): MemberBuf = {
    b.n += 1
    if (b.n <= cap)
      add(b, id.eval(input).asInstanceOf[Long],
        tag.eval(input).asInstanceOf[Long])
    else forget(b)
    b
  }

  override def merge(b: MemberBuf, o: MemberBuf): MemberBuf = {
    b.n += o.n
    if (b.n <= cap) {
      var i = 0
      while (i < o.m) { add(b, o.xs(2 * i), o.xs(2 * i + 1)); i += 1 }
    } else forget(b)
    b
  }

  override def eval(b: MemberBuf): Any = {
    val ms = new Array[Any](b.m)
    var i = 0
    while (i < b.m) {
      ms(i) = InternalRow(b.xs(2 * i), b.xs(2 * i + 1))
      i += 1
    }
    InternalRow(b.n, new GenericArrayData(ms))
  }

  override def serialize(b: MemberBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + 16 * b.m)
    bb.putLong(b.n).putInt(b.m)
    var i = 0
    while (i < 2 * b.m) { bb.putLong(b.xs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MemberBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong()
    val m = bb.getInt()
    val xs = new Array[Long](2 * m)
    bb.asLongBuffer().get(xs)
    new MemberBuf(n, m, xs)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("xs", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", LongType, nullable = false))),
      containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(id, tag)

  override def withNewMutableAggBufferOffset(o: Int): CappedMembers =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedMembers =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), tag = newChildren(1))

  override def prettyName: String = "capped_members"
}

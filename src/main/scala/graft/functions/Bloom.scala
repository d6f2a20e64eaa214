package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, RuntimeReplaceable, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BLOOM-1 membership sketch family — the scale path for blocklist /
  * benchmark-membership tests over a 100 TB corpus: build the filter
  * ONCE over the small reference set (eval-set n-grams, a URL
  * blocklist, a vocabulary slice), broadcast the m/8-byte blob once
  * (`Bloom.bloomContains(Broadcast, ..)` — tasks carry the handle, not
  * a copy), and test each row's values INLINE — zero corpus
  * shuffle, versus the exact-join formulation whose corpus side must
  * distinct + shuffle every (doc, gram) pair. Per-slice blobs are
  * OR-mergeable (`graft_bloom_merge`), so the sketch-store pattern
  * from KMV applies: persist per-day/per-source blobs, answer any
  * slice-combination membership later with no rescan — merge-of-blobs
  * equals the blob of the union EXACTLY (bitwise OR of unions of set
  * bits).
  *
  * Frozen hash definition (the DuckDB oracle recomputes the exact set
  * bit positions in plain BIGINT — false positives are therefore
  * DETERMINISTIC and mirror-checked, not hand-waved):
  *   h1(s)  = fold over code points: (acc*31 + cp) mod 1e9+7
  *   h2(s)  = same fold mod 998244353
  *   pos_i  = (h1 + i * (2*h2 + 1)) mod m,  i = 0..k-1
  * (Kirsch-Mitzenmacher double hashing; the step is forced odd so all
  * k probes stay distinct mod a power-of-two m). Bit b lives in byte
  * b>>3, mask 1<<(b&7).
  *
  * Sizing rule of thumb: false-positive rate ~ (1 - e^(-kn/m))^k;
  * k=7, m/n >= 16 gives ~1e-4. A saturated filter stays CORRECT under
  * the oracle (decisions mirror exactly) — it just stops being
  * selective, so size m to the reference set, not the corpus.
  */
object BloomOps {
  val P1 = 1000000007L
  val P2 = 998244353L

  private def fold(s: String, p: Long): Long = {
    var a = 0L
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      a = (a * 31 + cp) % p
      j += Character.charCount(cp)
    }
    a
  }

  def add(blob: Array[Byte], s: String, k: Int): Unit = {
    val m = blob.length.toLong * 8
    val h1 = fold(s, P1)
    val step = 2 * fold(s, P2) + 1
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * step) % m).toInt
      blob(pos >> 3) = (blob(pos >> 3) | (1 << (pos & 7))).toByte
      i += 1
    }
  }

  /** Plan-string form of a blob argument: a binary literal renders as
    * its size, never as megabytes of hex.
    */
  def render(blob: Expression): String = blob match {
    case Literal(b: Array[Byte], BinaryType) => s"<blob ${b.length} bytes>"
    case e => e.toString
  }

  /** Codegen entry point: true iff all k probe bits are set. An empty
    * blob (merge over zero rows) contains nothing.
    */
  def contains(blob: Array[Byte], s: UTF8String, k: Int): Boolean = {
    if (blob.length == 0) return false
    val m = blob.length.toLong * 8
    val str = s.toString
    val h1 = fold(str, P1)
    val step = 2 * fold(str, P2) + 1
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * step) % m).toInt
      if ((blob(pos >> 3) & (1 << (pos & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** Aggregate a group of STRINGs into a BLOOM-1 blob of m bits (m a
  * power of two, so the odd double-hashing step cycles all positions).
  * Partials merge by bitwise OR — map-side combine works, and shuffle
  * traffic per (group, mapper) is one m/8-byte buffer regardless of
  * group size.
  */
case class BloomAgg(child: Expression, m: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  require(m >= 64 && m <= (1 << 27) && (m & (m - 1)) == 0,
    s"bloom m must be a power of two in [64, 2^27], got $m")
  require(k >= 1 && k <= 16, s"bloom k out of range: $k")

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](m / 8)

  override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null)
      BloomOps.add(b, v.asInstanceOf[UTF8String].toString, k)
    b
  }

  override def merge(b: Array[Byte], o: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) { b(i) = (b(i) | o(i)).toByte; i += 1 }
    b
  }

  override def eval(b: Array[Byte]): Any = b
  override def serialize(b: Array[Byte]): Array[Byte] = b
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_agg requires a STRING argument, " +
        s"got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_bloom_agg"
}

/** OR-merge stored BLOOM-1 blobs (from `BloomAgg`). All blobs must
  * share one m (the sketch table's schema owns the parameters, as with
  * the KMV store); a length mismatch is a loud error, never a silent
  * wrong answer.
  */
case class BloomMergeBlobs(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  override def createAggregationBuffer(): Array[Byte] =
    Array.emptyByteArray

  override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = input // avoid shadowing
    val ev = child.eval(v)
    if (ev == null) b
    else {
      val o = ev.asInstanceOf[Array[Byte]]
      if (b.length == 0) o.clone()
      else {
        require(b.length == o.length,
          s"graft_bloom_merge: blob sizes differ (${b.length} vs " +
            s"${o.length} bytes) — sketches built with different m")
        var i = 0
        while (i < b.length) { b(i) = (b(i) | o(i)).toByte; i += 1 }
        b
      }
    }
  }

  override def merge(b: Array[Byte], o: Array[Byte]): Array[Byte] =
    if (o.length == 0) b
    else if (b.length == 0) o
    else {
      require(b.length == o.length,
        s"graft_bloom_merge: blob sizes differ (${b.length} vs " +
          s"${o.length} bytes) — sketches built with different m")
      var i = 0
      while (i < b.length) { b(i) = (b(i) | o(i)).toByte; i += 1 }
      b
    }

  override def eval(b: Array[Byte]): Any = b
  override def serialize(b: Array[Byte]): Array[Byte] = b
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_merge requires a BINARY blob argument, " +
        s"got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(
      newOffset: Int): BloomMergeBlobs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): BloomMergeBlobs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_bloom_merge"
}

/** Scalar probe: all k BLOOM-1 bits of `value` set in `blob`? m is the
  * blob's own length (so it cannot disagree with the build side); k
  * must match the build-side k — a smaller k would accept supersets,
  * so it is part of the sketch table's schema contract.
  *
  * This is the LOGICAL probe: plan identity and canonicalization see
  * the blob by content (a binary literal compares with
  * `Arrays.equals`), while plan strings render it as `<blob N bytes>`
  * instead of hex-encoding megabytes into every explain, AQE update
  * and SQL event. At optimization it is replaced by `BloomProbe`:
  * when the caller shipped the blob as a broadcast (`shipped`), the
  * probe reads that handle and the literal leaves the plan — tasks
  * carry a few-byte handle instead of a blob copy per stage. Without
  * a handle (SQL surface, blob columns, scalar subqueries) the probe
  * evaluates `blob` as given.
  */
case class BloomContains(blob: Expression, value: Expression,
    k: Expression)(val shipped: Option[BroadcastBlob] = None)
    extends Expression with RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(blob, value, k)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = blob.nullable || value.nullable
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (blob.dataType == BinaryType && value.dataType == StringType &&
      k.dataType == IntegerType && k.foldable) {
      val kv = k.eval().asInstanceOf[Number].intValue
      if (kv >= 1 && kv <= 16) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains: k out of range [1,16]: $kv")
    } else TypeCheckResult.TypeCheckFailure(
      "graft_bloom_contains(blob, value, k) requires BINARY, STRING " +
        "and a literal INT, got " +
        s"${Seq(blob, value, k).map(_.dataType.catalogString)
          .mkString(", ")}")

  override lazy val replacement: Expression =
    BloomProbe(shipped.getOrElse(blob), value, k)

  // RuntimeReplaceable canonicalizes to the replacement, whose handle
  // compares by broadcast id; keep comparing the blob by content
  override lazy val canonicalized: Expression = withCanonicalizedChildren

  override protected def otherCopyArgs: Seq[AnyRef] = shipped :: Nil

  override def toString: String =
    s"$prettyName(${BloomOps.render(blob)}, $value, $k)"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(blob = newChildren(0), value = newChildren(1),
      k = newChildren(2))(shipped)
}

/** The optimized probe `BloomContains` is replaced by: the per-row
  * kernel over a blob expression (a `BroadcastBlob` handle, or the
  * logical probe's own blob when none was shipped).
  */
case class BloomProbe(blob: Expression, value: Expression,
    k: Expression) extends TernaryExpression {

  override def first: Expression = blob
  override def second: Expression = value
  override def third: Expression = k

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  private lazy val kVal: Int = k.eval().asInstanceOf[Number].intValue

  override protected def nullSafeEval(b: Any, v: Any, kk: Any): Any =
    BloomOps.contains(b.asInstanceOf[Array[Byte]],
      v.asInstanceOf[UTF8String], kVal)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, v, _) =>
      s"graft.functions.BloomOps.contains($b, $v, $kVal)")

  override def toString: String =
    s"$prettyName(${BloomOps.render(blob)}, $value, $k)"

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(blob = newFirst, value = newSecond, k = newThird)
}

/** A blob shipped once per executor as a broadcast: tasks deserialize
  * the handle, not the bytes, and read the value from the executor's
  * block manager once per task (interpreted) or per generated class.
  * Not foldable, so constant folding cannot turn it back into a
  * literal.
  */
case class BroadcastBlob(handle: Broadcast[Array[Byte]], length: Int)
    extends LeafExpression {

  @transient private lazy val bytes: Array[Byte] = handle.value

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = bytes

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blobHandle", handle,
      classOf[Broadcast[_]].getName)
    val v = ctx.addMutableState("byte[]", "blob",
      b => s"$b = (byte[]) $ref.value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(v, BinaryType))
  }

  override def toString: String =
    s"<blob $length bytes, broadcast ${handle.id}>"
}

object Bloom {

  /** Column API: aggregate strings into an m-bit, k-probe blob. */
  def bloomAgg(col: Column, m: Int, k: Int): Column =
    ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(col), m, k)
        .toAggregateExpression())

  /** Column API: OR-merge stored blobs. */
  def bloomMerge(col: Column): Column =
    ColumnBridge.column(
      BloomMergeBlobs(ColumnBridge.expression(col))
        .toAggregateExpression())

  /** Column API: membership probe against a blob column or literal,
    * evaluated as given in every task.
    */
  def bloomContains(blob: Column, value: Column, k: Int): Column =
    ColumnBridge.column(BloomContains(ColumnBridge.expression(blob),
      ColumnBridge.expression(value), Literal(k))())

  /** Column API: membership probe against a broadcast blob — the plan
    * keeps the blob as a literal for identity, tasks read the handle.
    */
  def bloomContains(blob: Broadcast[Array[Byte]], value: Column,
      k: Int): Column =
    ColumnBridge.column(BloomContains(Literal(blob.value),
      ColumnBridge.expression(value), Literal(k))(
      Some(BroadcastBlob(blob, blob.value.length))))
}

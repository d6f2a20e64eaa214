package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
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

  private def setAll(blob: Array[Byte], h1: Long, h2: Long, k: Int): Unit = {
    val m = blob.length.toLong * 8
    val step = 2 * h2 + 1
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * step) % m).toInt
      blob(pos >> 3) = (blob(pos >> 3) | (1 << (pos & 7))).toByte
      i += 1
    }
  }

  private def allSet(blob: Array[Byte], h1: Long, h2: Long, k: Int)
      : Boolean = {
    val m = blob.length.toLong * 8
    val step = 2 * h2 + 1
    var i = 0
    while (i < k) {
      val pos = ((h1 + i * step) % m).toInt
      if ((blob(pos >> 3) & (1 << (pos & 7))) == 0) return false
      i += 1
    }
    true
  }

  def add(blob: Array[Byte], s: String, k: Int): Unit =
    setAll(blob, fold(s, P1), fold(s, P2), k)

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
    val str = s.toString
    allSet(blob, fold(str, P1), fold(str, P2), k)
  }

  /** The word n-grams of one text, hashed in one pass over its UTF-8
    * bytes without building a gram string. Tokens are maximal runs of
    * non-' ' bytes — the `filter(split(text, " "), _ != "")` convention,
    * so tabs and newlines are token characters — and gram i is tokens
    * i..i+n-1 joined by single spaces. Each token is folded once per
    * prime, together with 31^len (len in code points); a gram's folds
    * then compose by Horner,
    *   fold(a ++ " " ++ b) = ((fold(a)*31 + 32) * 31^|b| + fold(b)) mod p,
    * which is exactly `fold` of the joined string: bit positions are
    * those of the gram strings. Text that is not well-formed UTF-8 is
    * decoded first as `split` decodes it (each malformed sequence ->
    * U+FFFD), so grams that differ only in invalid bytes are one gram.
    */
  private final class Grams(raw: UTF8String, n: Int) {
    private val s =
      if (raw.isValid) raw else UTF8String.fromString(raw.toString)
    private val base = s.getBaseObject
    private val off = s.getBaseOffset
    private val (starts, ends) = {
      val len = s.numBytes
      val st = scala.collection.mutable.ArrayBuilder.make[Int]
      val en = scala.collection.mutable.ArrayBuilder.make[Int]
      var i = 0
      while (i < len) {
        val start = i
        while (i < len && Platform.getByte(base, off + i) != ' ') i += 1
        if (i > start) { st += start; en += i }
        i += 1 // past the space
      }
      (st.result(), en.result())
    }
    val count: Int = math.max(starts.length - n + 1, 0)
    val h1 = new Array[Long](count)
    val h2 = new Array[Long](count)

    if (count > 0) {
      val nt = starts.length
      val f1 = new Array[Long](nt)
      val f2 = new Array[Long](nt)
      val q1 = new Array[Long](nt) // 31^len mod P1
      val q2 = new Array[Long](nt)
      var t = 0
      while (t < nt) {
        var a1 = 0L; var a2 = 0L; var p1 = 1L; var p2 = 1L
        var i = starts(t)
        while (i < ends(t)) {
          val b0 = byteAt(i)
          val cp =
            if (b0 < 0x80) { i += 1; b0 }
            else if (b0 < 0xE0) {
              i += 2; (b0 & 0x1F) << 6 | cont(i - 1)
            } else if (b0 < 0xF0) {
              i += 3; (b0 & 0x0F) << 12 | cont(i - 2) << 6 | cont(i - 1)
            } else {
              i += 4
              (b0 & 0x07) << 18 | cont(i - 3) << 12 | cont(i - 2) << 6 |
                cont(i - 1)
            }
          a1 = (a1 * 31 + cp) % P1; p1 = p1 * 31 % P1
          a2 = (a2 * 31 + cp) % P2; p2 = p2 * 31 % P2
        }
        f1(t) = a1; f2(t) = a2; q1(t) = p1; q2(t) = p2
        t += 1
      }
      var g = 0
      while (g < count) {
        var x1 = f1(g); var x2 = f2(g)
        var j = g + 1
        while (j < g + n) {
          x1 = ((x1 * 31 + ' ') % P1 * q1(j) + f1(j)) % P1
          x2 = ((x2 * 31 + ' ') % P2 * q2(j) + f2(j)) % P2
          j += 1
        }
        h1(g) = x1; h2(g) = x2
        g += 1
      }
    }

    private def byteAt(i: Int): Int = Platform.getByte(base, off + i) & 0xFF
    private def cont(i: Int): Int = byteAt(i) & 0x3F

    def sameHash(i: Int, j: Int): Boolean = h1(i) == h1(j) && h2(i) == h2(j)

    /** Grams i and j have the same content (token for token). */
    def same(i: Int, j: Int): Boolean =
      sameHash(i, j) && (0 until n).forall { t =>
        val (a, b) = (starts(i + t), starts(j + t))
        val len = ends(i + t) - a
        len == ends(j + t) - b &&
          ByteArrayMethods.arrayEquals(base, off + a, base, off + b, len)
      }
  }

  /** Insert every word n-gram of `text` (see `Grams`): the same bits as
    * `add` over each gram string.
    */
  def addGrams(blob: Array[Byte], text: UTF8String, n: Int, k: Int): Unit = {
    val g = new Grams(text, n)
    var i = 0
    while (i < g.count) { setAll(blob, g.h1(i), g.h2(i), k); i += 1 }
  }

  /** Codegen entry point: the number of DISTINCT word n-grams of `text`
    * whose k probe bits are all set; 0 for null text or an empty blob.
    * Equal grams have equal hashes, so a gram hits iff every copy of it
    * does; distinctness is therefore decided by content among the hits
    * alone — rare on a real corpus — and clean grams are never compared.
    * Sorting the hits by hash pair makes every copy of a gram a
    * neighbour, so content is compared only within a run of equal pairs
    * (one gram, bar a hash collision): O(h log h) for h hits, also on a
    * long, heavily contaminated document or a saturated blob.
    */
  def gramHits(blob: Array[Byte], text: UTF8String, n: Int, k: Int): Long = {
    if (text == null || blob.length == 0) return 0L
    val g = new Grams(text, n)
    val hits = new Array[Int](g.count)
    var nh = 0
    var i = 0
    while (i < g.count) {
      if (allSet(blob, g.h1(i), g.h2(i), k)) { hits(nh) = i; nh += 1 }
      i += 1
    }
    // h1, h2 < 2^30: one Long key orders by the pair
    val byHash = hits.take(nh).sortBy(i => g.h1(i) << 30 | g.h2(i))
    var distinct = 0L
    var a = 0
    while (a < nh) {
      // byHash(a until r): the distinct grams of this run so far
      var r = a + 1
      var c = a + 1
      while (c < nh && g.sameHash(byHash(a), byHash(c))) {
        var d = a
        while (d < r && !g.same(byHash(d), byHash(c))) d += 1
        if (d == r) {
          val t = byHash(r); byHash(r) = byHash(c); byHash(c) = t
          r += 1
        }
        c += 1
      }
      distinct += r - a
      a = c
    }
    distinct
  }
}

/** Aggregate a group of STRINGs into a BLOOM-1 blob of m bits (m a
  * power of two, so the odd double-hashing step cycles all positions).
  * Partials merge by bitwise OR — map-side combine works, and shuffle
  * traffic per (group, mapper) is one m/8-byte buffer regardless of
  * group size.
  *
  * `gram` = 0 inserts each value itself (`graft_bloom_agg`); `gram` = n
  * inserts every word n-gram of each value instead, hashed in one pass
  * without building gram strings (`BloomOps.addGrams`) — the same blob,
  * byte for byte, as exploding the gram strings into a gram-0 aggregate.
  */
case class BloomAgg(child: Expression, m: Int, k: Int, gram: Int = 0,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  require(m >= 64 && m <= (1 << 27) && (m & (m - 1)) == 0,
    s"bloom m must be a power of two in [64, 2^27], got $m")
  require(k >= 1 && k <= 16, s"bloom k out of range: $k")
  require(gram >= 0, s"bloom gram width must be >= 0, got $gram")

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](m / 8)

  override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v == null) ()
    else if (gram == 0) BloomOps.add(b, v.toString, k)
    else BloomOps.addGrams(b, v, gram, k)
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

/** The LOGICAL form of a per-row probe against a BLOOM-1 blob: plan
  * identity and canonicalization see the blob by content (a binary
  * literal compares with `Arrays.equals`), while plan strings render
  * it as `<blob N bytes>` instead of hex-encoding megabytes into every
  * explain, AQE update and SQL event. At optimization it is replaced
  * by its `kernel`: when the caller shipped the blob as a broadcast
  * (`shipped`), the kernel reads that handle and the literal leaves
  * the plan — tasks carry a few-byte handle instead of a blob copy per
  * stage. Without a handle (SQL surface, blob columns, scalar
  * subqueries) the kernel evaluates `blob` as given; a binary literal
  * goes in as an `InlineBlob`, so optimized and physical plan strings
  * render it as its size too. Kernels are static `BloomOps` calls.
  */
abstract class ShippedBlobProbe extends Expression with RuntimeReplaceable {
  def blob: Expression
  def shipped: Option[BroadcastBlob]

  /** The optimized per-row probe over `b`: the handle, or `blob`. */
  protected def kernel(b: Expression): Expression

  override lazy val replacement: Expression = kernel(shipped.getOrElse(
    blob match {
      case l @ Literal(_: Array[Byte], BinaryType) => InlineBlob(l)
      case e => e
    }))

  // RuntimeReplaceable canonicalizes to the replacement, whose handle
  // compares by broadcast id; keep comparing the blob by content
  override lazy val canonicalized: Expression = withCanonicalizedChildren

  override protected def otherCopyArgs: Seq[AnyRef] = shipped :: Nil
}

/** Scalar probe: all k BLOOM-1 bits of `value` set in `blob`? m is the
  * blob's own length (so it cannot disagree with the build side); k
  * must match the build-side k — a smaller k would accept supersets,
  * so it is part of the sketch table's schema contract. Optimizes to
  * a static call of `BloomOps.contains` (see `ShippedBlobProbe`).
  */
case class BloomContains(blob: Expression, value: Expression,
    k: Expression)(val shipped: Option[BroadcastBlob] = None)
    extends ShippedBlobProbe {

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

  override protected def kernel(b: Expression): Expression =
    StaticInvoke(BloomOps.getClass, BooleanType, "contains",
      Seq(b, value, k), returnNullable = false)

  override def toString: String =
    s"$prettyName(${BloomOps.render(blob)}, $value, $k)"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(blob = newChildren(0), value = newChildren(1),
      k = newChildren(2))(shipped)
}

/** Decontamination probe: the number of DISTINCT word n-grams of
  * `text` whose k BLOOM-1 bits are all set in `blob` (never null; 0 for
  * null text), computed in one pass by `BloomOps.gramHits` — the value
  * of `size(filter(array_distinct(ngrams(text)), g => contains(g)))`
  * with no gram string, array or lambda. Optimizes to a static call
  * of that kernel (see `ShippedBlobProbe`).
  */
case class BloomGramHits(blob: Expression, text: Expression, n: Int,
    k: Int)(val shipped: Option[BroadcastBlob] = None)
    extends ShippedBlobProbe {

  require(n >= 1, s"gram width must be >= 1, got $n")
  require(k >= 1 && k <= 16, s"bloom k out of range: $k")

  override def children: Seq[Expression] = Seq(blob, text)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_gram_hits"

  override def checkInputDataTypes(): TypeCheckResult =
    if (blob.dataType == BinaryType && text.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName(blob, text) requires BINARY and STRING, got " +
        s"${blob.dataType.catalogString}, ${text.dataType.catalogString}")

  // null text reaches the kernel, which counts it as 0
  override protected def kernel(b: Expression): Expression =
    StaticInvoke(BloomOps.getClass, LongType, "gramHits",
      Seq(b, text, Literal(n), Literal(k)), propagateNull = false,
      returnNullable = false)

  override def toString: String =
    s"$prettyName(${BloomOps.render(blob)}, $text, $n, $k)"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(blob = newChildren(0), text = newChildren(1))(shipped)
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

/** A binary literal a kernel reads when no handle was shipped (the SQL
  * surface): the literal's bytes, rendered as `<blob N bytes>` instead
  * of hex. Not foldable, so constant folding cannot unwrap it.
  */
case class InlineBlob(blob: Literal) extends LeafExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = blob.value
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = blob.genCode(ctx)
  override def toString: String = BloomOps.render(blob)
}

object Bloom {

  /** Column API: aggregate strings — or, with `gram` = n > 0, every
    * word n-gram of each string — into an m-bit, k-probe blob.
    */
  def bloomAgg(col: Column, m: Int, k: Int, gram: Int = 0): Column =
    ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(col), m, k, gram)
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
      ColumnBridge.expression(value), Literal(k))(handle(blob)))

  /** Column API: the number of distinct word n-grams of `text` in a
    * broadcast blob built with gram width n (`BloomGramHits`).
    */
  def gramHits(blob: Broadcast[Array[Byte]], text: Column, n: Int,
      k: Int): Column =
    ColumnBridge.column(BloomGramHits(Literal(blob.value),
      ColumnBridge.expression(text), n, k)(handle(blob)))

  private def handle(blob: Broadcast[Array[Byte]]): Option[BroadcastBlob] =
    Some(BroadcastBlob(blob, blob.value.length))
}

package graft.functions

import graft.ops.Lexicon
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** LANGID-4 step 3 (the stopword-ratio argmax) as one native pass over
  * the UTF-8 bytes of already-lowercased text: split on ' ' once, one
  * hash lookup per token into a word -> language-bitmask table built
  * from `Lexicon.collection`, then the frozen decision —
  * language i wins if its ratio is >= 0.03 and >= every later
  * language's ratio, in `Lexicon.langOrder`; no winner (or no tokens,
  * or null) -> 'other'. Ratios are count / max(tokens, 1) as doubles,
  * the same arithmetic the oracle mirrors.
  */
object LangIdOps {
  private val labels: Array[UTF8String] =
    Lexicon.langOrder.map(UTF8String.fromString).toArray
  private val Other: UTF8String = UTF8String.fromString("other")

  /** Stopword -> bitmask of the languages (by `langOrder` index) whose
    * list holds it; keys compare by UTF-8 bytes.
    */
  private val masks: Map[UTF8String, Int] =
    Lexicon.langOrder.zipWithIndex.flatMap { case (l, i) =>
      Lexicon.collection(l).words.map(w => UTF8String.fromString(w) -> (1 << i))
    }.groupMapReduce(_._1)(_._2)(_ | _)

  /** Codegen entry point: the winning language of lowercased `text`. */
  def argmax(text: UTF8String): UTF8String = {
    if (text == null) return Other
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    val counts = new Array[Int](labels.length)
    var tokens = 0
    var i = 0
    while (i < n) {
      val start = i
      while (i < n && Platform.getByte(base, off + i) != ' ') i += 1
      if (i > start) {
        tokens += 1
        // a view over the token's bytes, not a copy
        val mask = masks.getOrElse(
          UTF8String.fromAddress(base, off + start, i - start), 0)
        var l = 0
        while (l < labels.length) {
          if ((mask & (1 << l)) != 0) counts(l) += 1
          l += 1
        }
      }
      i += 1 // past the space
    }
    val total = math.max(tokens, 1).toDouble
    var l = 0
    while (l < labels.length) {
      val r = counts(l) / total
      var wins = r >= 0.03
      var j = l + 1
      while (wins && j < labels.length) {
        wins = r >= counts(j) / total
        j += 1
      }
      if (wins) return labels(l)
      l += 1
    }
    Other
  }

  /** Column API: LANGID-4's stopword argmax of lowercased `text`. */
  def stopwordArgmax(text: Column): Column =
    ColumnBridge.column(StopwordArgmax(ColumnBridge.expression(text)))
}

/** `LangIdOps.argmax` as a codegen'd expression over a STRING child
  * (the caller lowercases); never null.
  */
case class StopwordArgmax(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_stopword_argmax"

  override def eval(input: InternalRow): Any =
    LangIdOps.argmax(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = graft.functions.LangIdOps.argmax(
        ${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

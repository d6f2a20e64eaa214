package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Extractor

/** SQL surface for the extractor: a native Catalyst expression (design
  * preference (b) — custom Expression over UDF) so `spark.sql` users can
  * call
  *
  *   SELECT extract_main_content(text, role, tool) FROM turns
  *
  * Returns a struct (extractor, extracted_text, n_spans, error, spans).
  * `doGenCode` emits a static call into [[ExtractOps]] so the enclosing
  * WholeStageCodegen span is preserved (no CodegenFallback interpreter
  * switch for the rest of the stage).
  */
object ExtractOps {

  val sparkDataType: DataType = StructType(Seq(
    StructField("extractor", StringType, nullable = false),
    StructField("extracted_text", StringType, nullable = false),
    StructField("n_spans", IntegerType, nullable = false),
    StructField("error", StringType, nullable = false),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("begin", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false),
      StructField("kind", StringType, nullable = false))),
      containsNull = false), nullable = false)))

  /** Codegen/eval entry: null-tolerant on role/tool. */
  def eval(text: UTF8String, role: UTF8String,
      tool: UTF8String): InternalRow = {
    val ex = Extractor.extract(
      if (role == null) "" else role.toString,
      if (tool == null) "" else tool.toString,
      if (text == null) "" else text.toString)
    val spans = new GenericArrayData(ex.spans.map(s =>
      InternalRow(s.begin, s.end, UTF8String.fromString(s.kind))).toArray)
    InternalRow(
      UTF8String.fromString(ex.extractor),
      UTF8String.fromString(ex.extracted_text),
      ex.spans.length,
      UTF8String.fromString(ex.error),
      spans)
  }
}

case class ExtractMainContent(text: Expression, role: Expression,
    tool: Expression) extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = role
  override def third: Expression = tool

  override def dataType: DataType = ExtractOps.sparkDataType
  override def nullable: Boolean = text.nullable

  override def prettyName: String = "extract_main_content"

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null
    else ExtractOps.eval(t.asInstanceOf[UTF8String],
      role.eval(input).asInstanceOf[UTF8String],
      tool.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tG = text.genCode(ctx)
    val rG = role.genCode(ctx)
    val lG = tool.genCode(ctx)
    val rowCls = classOf[InternalRow].getName
    val code =
      code"""
        ${tG.code}
        ${rG.code}
        ${lG.code}
        boolean ${ev.isNull} = ${tG.isNull};
        $rowCls ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.ExtractOps.eval(
            ${tG.value},
            ${rG.isNull} ? null : ${rG.value},
            ${lG.isNull} ? null : ${lG.value});
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(text = newFirst, role = newSecond, tool = newThird)
}

/** MEDIA-1 header decode as a native expression: parses real container
  * headers (png/gif/bmp/jpeg/wav) from a binary column, stub fallback
  * for unknown magic (see ops.Multimodal). `doGenCode` emits a static
  * call so WholeStageCodegen is preserved.
  */
object MediaMetaOps {

  val sparkDataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  def eval(payload: Array[Byte]): InternalRow = {
    val (fmt, w, h, f) =
      graft.ops.Multimodal.parseContainerHeader(payload).getOrElse {
        val (w0, h0, f0, _, _) =
          graft.ops.Multimodal.decodeStub("binary", payload)
        ("unknown", w0, h0, f0)
      }
    InternalRow(UTF8String.fromString(fmt), w, h, f)
  }
}

/** MEDIA-2 content decode as a native expression: real BMP-pixel /
  * WAV-PCM content hash + 8-band embedding from a binary column; null
  * for formats without a real content decoder (the codec stub is a
  * Dataset-API concern — SQL users get an honest null, not fiction).
  */
object MediaContentOps {

  val sparkDataType: DataType = StructType(Seq(
    StructField("content_hash", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def eval(payload: Array[Byte]): InternalRow = {
    val decoded = graft.ops.Multimodal.parseContainerHeader(payload)
      .flatMap {
        case ("bmp", _, _, _) =>
          graft.ops.Multimodal.decodeBmpContent(payload)
        case ("wav", _, _, _) =>
          graft.ops.Multimodal.decodeWavContent(payload)
        case _ => None
      }
    decoded match {
      case Some((hash, emb)) =>
        InternalRow(hash,
          new GenericArrayData(emb.map(f => f: Any).toArray))
      case None => null
    }
  }
}

case class MediaContent(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MediaContentOps.sparkDataType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_media_content"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"graft_media_content requires a BINARY " +
          s"argument, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MediaContentOps.eval(v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val rowCls = classOf[InternalRow].getName
    val code =
      code"""
        ${c.code}
        $rowCls ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.MediaContentOps.eval(${c.value});
        }
        boolean ${ev.isNull} = ${ev.value} == null;
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

case class MediaMeta(child: Expression) extends UnaryExpression {

  // reject graft_media_meta(non_binary) at analysis time (a clean
  // AnalysisException) instead of a ClassCastException inside codegen.
  // (ExpectsInputTypes would be the idiomatic spelling, but its
  // Seq[AbstractDataType] signature is private[sql]; the check hook
  // itself is public.)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"graft_media_meta requires a BINARY " +
          s"argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = MediaMetaOps.sparkDataType
  override def prettyName: String = "graft_media_meta"

  override protected def nullSafeEval(input: Any): Any =
    MediaMetaOps.eval(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaMetaOps.eval($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object GraftFunctions {

  /** Column-API surface (requires register(spark) once per session). */
  def extract_main_content(text: Column, role: Column,
      tool: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "extract_main_content", text, role, tool)

  private def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "extract_main_content(text, role, tool) takes 3 arguments")
    ExtractMainContent(exprs(0), exprs(1), exprs(2))
  }

  /** Imperative registration (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_main_content", builder, "built-in")
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier(
        "extract_main_content"),
      new ExpressionInfo(classOf[ExtractMainContent].getName,
        "extract_main_content"),
      (exprs: Seq[Expression]) =>
        ExtractMainContent(exprs(0), exprs(1), exprs(2))))
    GraftOpFunctions.all.foreach(ext.injectFunction)
  }
}

/** SQL registrations for the training-data op surface: each function
  * expands to the SAME Catalyst expression tree as its Column API
  * (ops.TextStats / ops.Lexicon / ops.Ann), so `spark.sql` users get
  * identical semantics and codegen with zero UDFs.
  */
object GraftOpFunctions {

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.graft.ColumnBridge

  private type Reg =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def reg(name: String, arity: Int,
      f: Seq[Column] => Column): Reg = (
    FunctionIdentifier(name),
    new ExpressionInfo("graft.functions.GraftOpFunctions", name),
    (exprs: Seq[Expression]) => {
      require(exprs.length == arity,
        s"$name takes $arity argument(s), got ${exprs.length}")
      ColumnBridge.expression(
        f(exprs.map(ColumnBridge.column)))
    })

  val all: Seq[Reg] = Seq(
    reg("graft_redact_pii", 1,
      cs => graft.ops.TextStats.redactPII(cs.head)),
    reg("graft_quality", 1,
      cs => graft.ops.TextStats.qualityScore(cs.head)),
    reg("graft_fingerprint", 1,
      cs => graft.ops.TextStats.fingerprint(cs.head)),
    reg("graft_top_token_ratio", 1,
      cs => graft.ops.TextStats.topTokenRatio(cs.head)),
    reg("graft_dup_bigram_ratio", 1,
      cs => graft.ops.TextStats.dupBigramRatio(cs.head)),
    reg("graft_sample_bucket", 1,
      cs => graft.ops.TextStats.sampleBucket(cs.head)),
    reg("graft_lang_id", 1,
      cs => graft.ops.Lexicon.langId(cs.head)),
    reg("graft_bpe_tokens", 1,
      cs => graft.ops.Bpe.tokenCount(cs.head)),
    reg("graft_cosine", 2,
      cs => graft.ops.Ann.cosine(cs(0), cs(1))),
    reg("graft_url_normalize", 1,
      cs => graft.ops.UrlOps.normalize(cs.head)),
    reg("graft_url_host", 1,
      cs => graft.ops.UrlOps.host(cs.head)),
    (FunctionIdentifier("graft_kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName,
        "graft_kmv_distinct"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_kmv_distinct(col, k) takes 2 arguments, " +
            s"got ${exprs.length}")
        require(exprs(1).foldable,
          "graft_kmv_distinct: k must be a literal")
        // the analyzer wraps a bare AggregateFunction in
        // AggregateExpression, as for built-in aggregates
        KmvDistinct(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue)
      }),
    (FunctionIdentifier("graft_kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketch].getName,
        "graft_kmv_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_kmv_sketch(col, k) takes 2 arguments, " +
            s"got ${exprs.length}")
        require(exprs(1).foldable, "graft_kmv_sketch: k must be a literal")
        KmvSketch(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue)
      }),
    (FunctionIdentifier("graft_kmv_merge"),
      new ExpressionInfo(classOf[KmvMergeEstimate].getName,
        "graft_kmv_merge"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_kmv_merge(sketch, k) takes 2 arguments, " +
            s"got ${exprs.length}")
        require(exprs(1).foldable, "graft_kmv_merge: k must be a literal")
        KmvMergeEstimate(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue)
      }),
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_bloom_agg(col, m, k) takes 3 arguments, " +
            s"got ${exprs.length}")
        require(exprs(1).foldable && exprs(2).foldable,
          "graft_bloom_agg: m and k must be literals")
        BloomAgg(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue,
          exprs(2).eval().asInstanceOf[Number].intValue)
      }),
    (FunctionIdentifier("graft_bloom_merge"),
      new ExpressionInfo(classOf[BloomMergeBlobs].getName,
        "graft_bloom_merge"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_bloom_merge takes 1 argument, got ${exprs.length}")
        BloomMergeBlobs(exprs.head)
      }),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName,
        "graft_bloom_contains"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"graft_bloom_contains(blob, value, k) takes 3 arguments, " +
            s"got ${exprs.length}")
        BloomContains(exprs(0), exprs(1), exprs(2))()
      }),
    (FunctionIdentifier("graft_covered_runs"),
      new ExpressionInfo(classOf[CoveredRuns].getName,
        "graft_covered_runs"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_covered_runs(starts, w) takes 2 arguments, " +
            s"got ${exprs.length}")
        CoveredRuns(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("graft_window_hashes"),
      new ExpressionInfo(classOf[WindowHashes].getName,
        "graft_window_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_window_hashes(tokens, w) takes 2 arguments, " +
            s"got ${exprs.length}")
        WindowHashes(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("graft_media_content"),
      new ExpressionInfo(classOf[MediaContent].getName,
        "graft_media_content"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_media_content takes 1 argument, got ${exprs.length}")
        MediaContent(exprs.head)
      }),
    (FunctionIdentifier("graft_media_meta"),
      new ExpressionInfo(classOf[MediaMeta].getName, "graft_media_meta"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"graft_media_meta takes 1 argument, got ${exprs.length}")
        MediaMeta(exprs.head)
      }))

  /** Imperative registration (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
}

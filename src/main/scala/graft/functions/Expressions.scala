package graft.functions

import graft.core.{Fingerprint, Html, Rx}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels callable from generated code (whole-stage codegen emits
  * `graft.functions.StringKernels.xxx(...)` — keep these static-shaped).
  */
object StringKernels {
  /** Whitespace-token count over the raw UTF-8 bytes — no String allocation.
    * Counts maximal runs of bytes that are not [[graft.core.Rx.isTokenSeparator]];
    * the separators are ASCII and ASCII bytes never appear inside a
    * multibyte UTF-8 sequence, so scanning only the ASCII bytes is exact.
    */
  def tokenCount(s: UTF8String): Int = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    var count = 0
    var inTok = false
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      val ws = b >= 0 && Rx.isTokenSeparator(b.toChar)
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    count
  }

  def simhash64(s: UTF8String): Long = Fingerprint.simhash64(s.toString)

  /** A page's text from its html bytes: BOM-aware UTF-8 decode, then the
    * boilerplate-stripped main text. The one html→text rule —
    * [[graft.engine.Extraction]]'s html branch calls it too.
    */
  def htmlText(html: Array[Byte]): String = Html.extract(Html.decodeBytes(html)).text
}

/** Native token-count expression: codegen-friendly (stays inside the
  * WholeStageCodegen span, no UDF serialization) — the hot counter for
  * token-budget aggregations over 10^12 rows.
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  // analysis-time type checking — without this a non-string child passes
  // analysis and dies per-row (ClassCastException) deep inside a stage
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = StringKernels.tokenCount(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringKernels.tokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenCount = copy(child = newChild)
  override def prettyName: String = "graft_token_count"
}

/** Native 64-bit SimHash expression (near-dup sketch) — codegen'd call into
  * the shared kernel so dedup scans avoid UDF overhead.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = StringKernels.simhash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** Native html→text expression: binary page markup to its extracted main
  * text ([[StringKernels.htmlText]]), so the text and the stats computed
  * from it stay plan columns that Catalyst can prune.
  */
case class HtmlText(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(StringKernels.htmlText(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.functions.StringKernels.htmlText($c))")
  override protected def withNewChildInternal(newChild: Expression): HtmlText = copy(child = newChild)
  override def prettyName: String = "graft_html_text"
}

/** Deterministic 64-bit shuffle key — `rotl64((id + seed) * A, 32) * A`
  * with A = 6364136223846793005 (MMIX's odd multiplier), all arithmetic
  * wrapping mod 2^64 ([[graft.engine.Pack.seededShuffle]]). Spark's ANSI
  * `*`/`+` throw on long overflow by design, but the key NEEDS
  * two's-complement wraparound (the bijection mod 2^64 is the whole
  * mechanism), so this native expression evaluates raw Java arithmetic;
  * codegen inlines it — no kernel call, stays inside WholeStageCodegen.
  *
  * Why the rotate-multiply sandwich: a single multiply-add is LINEAR in
  * the seed — changing the seed shifts every key by the same constant and
  * (except at the rare wrap boundary) preserves the whole order, i.e. the
  * seed would not actually reshuffle anything. The 32-bit rotation between
  * two multiplies is not shift-equivariant, so different seeds produce
  * genuinely different orders, while each step (add, odd-multiply, rotate)
  * stays a bijection mod 2^64 — keys never collide. Every step is plain
  * `*`, `+`, `%`, `//` in the unsigned domain, so the key replays exactly
  * in HUGEINT SQL (a xor-shift finalizer would not).
  */
case class ShuffleKey64(child: Expression, seed: Long) extends UnaryExpression {
  private final val A = 6364136223846793005L
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Long.rotateLeft((v.asInstanceOf[Long] + seed) * A, 32) * A
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"(java.lang.Long.rotateLeft(($c + ${seed}L) * ${A}L, 32) * ${A}L)")
  override protected def withNewChildInternal(newChild: Expression): ShuffleKey64 = copy(child = newChild)
  override def prettyName: String = "graft_shuffle_key64"
}

/** Column-level API for the native expressions; [[GraftExtensions]]
  * registers the SQL names of `graft_token_count` and `graft_simhash64`.
  */
object GraftFunctions {
  def token_count(c: Column): Column = ColumnBridge.column(TokenCount(ColumnBridge.expression(c)))
  def simhash64(c: Column): Column = ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))
  def html_text(c: Column): Column = ColumnBridge.column(HtmlText(ColumnBridge.expression(c)))
  def shuffle_key64(c: Column, seed: Long): Column =
    ColumnBridge.column(ShuffleKey64(ColumnBridge.expression(c), seed))

  private[functions] def unary(name: String, exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1)
      throw new IllegalArgumentException(s"$name expects exactly 1 argument, got ${exprs.length}")
    exprs.head
  }
}

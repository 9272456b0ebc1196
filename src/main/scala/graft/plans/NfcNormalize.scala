package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd scalar `Expression` — the text
  * canonicalization pass of a multilingual corpus pipeline (decomposed
  * e + U+0301 → é, compatibility sequences left alone). Spark has no
  * built-in normalizer, so the alternatives are a Scala UDF (boxing, breaks
  * whole-stage codegen) or this: a native expression whose generated code
  * calls straight into `java.text.Normalizer`.
  *
  * The ASCII fast path never allocates: NFC cannot change a pure-ASCII
  * string, and UTF-8 continuation bytes are ≥ 0x80, so a single byte scan
  * proves normalization is an identity — the common case for web/English
  * corpora, making the per-row cost of this pass ~one memchr at 100 TB.
  * Pretty-printed as `nfc_normalize(str)` (name-compatible with DuckDB's).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string argument")

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Called from both interpreted eval and generated Java. */
  def normalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length && bytes(i) >= 0) i += 1 // signed: non-ASCII < 0
    if (i == bytes.length) return s // pure ASCII — NFC is the identity
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  def column(s: Column): Column = ColumnBridge.column(NfcNormalize(ColumnBridge.expression(s)))
}

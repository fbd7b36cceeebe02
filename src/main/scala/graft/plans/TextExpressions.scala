package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[NfcNormalize]] — a top-level object so codegen can
  * call it through the compiler-emitted static forwarder.
  *
  * The `isNormalized` probe first is the hot-path contract: real corpora
  * are overwhelmingly already NFC (every ASCII string trivially is), and
  * the probe is a single forward scan with no allocation — the
  * String↔UTF8String round-trip and the normalizer's builder only run on
  * the rare decomposed row. Returning the INPUT reference on the
  * already-normal path keeps the common case zero-copy.
  */
object NfcCodec {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization as a native codegen'd expression — the
  * canonicalization step a text-curation pipeline runs BEFORE any
  * hash-keyed operator (exact dedup, minhash shingles, URL keys):
  * "é" as U+00E9 and as "e"+U+0301 are byte-different, so unnormalized
  * corpora silently under-deduplicate and split vocabulary entries.
  *
  * Spark ships no normalizer function, so the alternatives are a Scala
  * UDF (serialization wall per row, opaque to codegen) or this: a
  * UnaryExpression whose generated code is one static call into
  * [[NfcCodec]], staying inside whole-stage codegen like the
  * [[DotProduct]] kernel. Null-safe (null → null), non-string input
  * rejected at analysis.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")

  override def nullSafeEval(input: Any): Any =
    NfcCodec.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NfcCodec.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object TextExpressions {
  /** Session-level SQL registration: `graft_nfc` and `graft_jaro_winkler`.
    * Safe to call on any session (idempotent).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfc"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_jaro_winkler"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1)))
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static Jaro–Winkler kernel — a top-level object so generated code can
  * call it through the compiler-emitted static forwarder (the
  * [[NfcCodec]] pattern).
  *
  * Variant pinned to DuckDB's `jaro_winkler_similarity` (fuzz-tested
  * bit-identical over 1500 random pairs + every supplier-name pair,
  * plus captured non-BMP vectors — the kernel is UTF-8-byte-based,
  * matching DuckDB on emoji/supplementary CJK, not just ASCII):
  *   - match window `max(⌊max(|a|,|b|)/2⌋ − 1, 0)` (the clamp makes
  *     single-char identity pairs score 1, unlike the unclamped paper
  *     formula);
  *   - either side empty → 0 (INCLUDING both-empty, where the classic
  *     definition says 1);
  *   - Winkler prefix boost (≤4 chars, weight 0.1) applied only when
  *     jaro > 0.7 (the boost-threshold variant).
  * Working arrays are O(|a|+|b|) per call — fine for name-length keys;
  * the match loop is the textbook O(|a|·window) scan.
  */
object JaroWinklerKernel {
  def sim(a: UTF8String, b: UTF8String): Double = {
    // UTF-8 BYTES, not UTF-16 units or code points: DuckDB's kernel
    // scans raw bytes (pinned by the non-BMP vectors in
    // TextExpressionSpec — e.g. 😀 vs 😁 scores 0.883333, the 4-byte
    // computation with a 3-byte shared prefix). Working on the
    // UTF8String's bytes also drops the per-call String decode the
    // UTF-16 version paid.
    val s1 = a.getBytes
    val s2 = b.getBytes
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val md = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(l2 - 1, i + md)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s2(j) == s1(i)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val j = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (j <= 0.7) return j
    var l = 0
    val maxL = math.min(4, math.min(l1, l2))
    while (l < maxL && s1(l) == s2(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }
}

/** Jaro–Winkler similarity as a native codegen'd expression — the
  * record-linkage scorer for SHORT keys (person/org/product names)
  * where Levenshtein's edit counts over-penalize transpositions.
  * Complements the edit-distance family (`levenshtein`); pair it
  * with a blocking join so it only ever scores candidate pairs.
  *
  * A Scala UDF would cost a serialization wall per pair right where
  * linkage does its O(candidates) work; this stays inside whole-stage
  * codegen as one static call. Null-safe (null → null), both inputs
  * must be strings.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string inputs")

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerKernel.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c1, c2) => s"graft.plans.JaroWinklerKernel.sim($c1, $c2)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Jaro and Jaro–Winkler string similarity (Jaro 1989; Winkler 1990)
  * as codegen'd expressions — the standard scorer for fuzzy record
  * linkage on short identity-ish strings (names, titles, SKUs), where
  * edit distance over-penalizes transpositions. Spark ships
  * `levenshtein` but no Jaro; DuckDB ships both, which makes the
  * DuckDB function the cross-engine oracle (q164).
  *
  * Exact textbook semantics, verified value-for-value against
  * DuckDB's implementation:
  *  - match window `floor(max(|a|,|b|)/2) - 1`;
  *  - transpositions = half the positional mismatches between the two
  *    matched-character sequences;
  *  - Winkler prefix bonus `l·0.1·(1 − jaro)` with `l = min(4, common
  *    prefix)` applied ONLY when jaro exceeds the 0.7 boost
  *    threshold;
  *  - either side empty → 0.0 (DuckDB's convention, incl. both
  *    empty).
  *
  * Like [[CosineSim]], this is per-row in-expression work: linkage
  * pipelines BLOCK first (q138's shape — candidate pairs from a cheap
  * equi-join key), then score pairs narrowly; the scorer itself never
  * shuffles. */
object JaroWinkler {

  /** Jaro similarity over UTF-16 code units (identical to codepoints
    * for the BMP text linkage operates on). */
  def jaro(ua: UTF8String, ub: UTF8String): Double = {
    if (ua == null || ub == null) return 0.0
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: positional mismatches between the matched
    // subsequences, halved
    var t = 0
    var bi = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(bi)) bi += 1
        if (a.charAt(i) != b.charAt(bi)) t += 1
        bi += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / la + md / lb + (md - t / 2) / md) / 3.0
  }

  /** Winkler variant: prefix bonus above the 0.7 boost threshold. */
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val j = jaro(ua, ub)
    if (j <= 0.7) return j
    val a = ua.toString
    val b = ub.toString
    val max = math.min(4, math.min(a.length, b.length))
    var l = 0
    while (l < max && a.charAt(l) == b.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  def column(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinklerExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

abstract class JaroBase extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (STRING, STRING), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
}

case class JaroSimilarityExpr(left: Expression, right: Expression)
    extends JaroBase {
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.jaro(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cls = JaroWinkler.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (a, b) => s"$cls.jaro($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): JaroSimilarityExpr = copy(left = l, right = r)
  override def prettyName: String = "jaro_similarity"
}

case class JaroWinklerExpr(left: Expression, right: Expression)
    extends JaroBase {
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.jaroWinkler(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cls = JaroWinkler.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (a, b) => s"$cls.jaroWinkler($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): JaroWinklerExpr = copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler_similarity"
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** In-row greedy MMR selection over one query's packed shortlist —
  * the whole k-round Carbonell–Goldstein loop as ONE codegen'd
  * expression evaluation per query (see
  * [[graft.operators.MmrRerank]]).
  *
  * Why in-row: the dataframe formulation of the greedy loop needs k−1
  * sequential distributed rounds (each a global barrier) over a
  * queries×n² candidate-pair frame. But the selection for one query
  * depends ONLY on that query's shortlist — n ≤
  * [[graft.operators.MmrRerank.MaxShortlistPerQuery]] rows of
  * (id, rel, vec) — so packing the shortlist into one row and running
  * the loop in-task turns k barriers + an n²-row frame into one
  * aggregation and k·n in-task cosines. Exactly the semantics of the
  * old loop, kept bit-identical:
  *
  *  - sims are [[CosineSim.cosine]] on the same cast-to-double
  *    vectors (the same static method the pair frame's expression
  *    called);
  *  - argmax order is (score desc, id asc) via `Double.compare` —
  *    the [[TopKByScore]] heap's documented comparator (NaN first,
  *    −0.0 ≠ 0.0);
  *  - round 1 scores λ·rel; later rounds λ·rel − (1−λ)·max sim to
  *    the selected set, where candidates or selected items WITHOUT a
  *    corpus vector contribute no sim (the left-join `coalesce(max,
  *    0)` of the old pair frame);
  *  - null-rel candidates are never selected (the heap skipped null
  *    scores);
  *  - every packed row is its own candidate id: a repeated id (the
  *    corpus side of the join broke MmrRerank's unique-id
  *    precondition) fails the query, since duplicates would tie on
  *    (score, id) and resolve by the nondeterministic collect order.
  *
  * Input: `array<struct<neighbor_id:long, rel:double,
  * vec:array<double>>>`; output `array<struct<neighbor_id:long,
  * mmr:double, rn:int>>` ordered rn = 1..min(k, selectable).
  */
case class MmrSelect(child: Expression, k: Int, lambda: Double)
    extends UnaryExpression {

  override def dataType: DataType = MmrSelect.OutType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(a, b, c)), _)
        if a.dataType == LongType && b.dataType == DoubleType &&
          (c.dataType == ArrayType(DoubleType, true) ||
            c.dataType == ArrayType(DoubleType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            "mmr_select needs array<struct<long, double, " +
              s"array<double>>>, got ${other.simpleString(8)}")
    }

  override def nullSafeEval(in: Any): Any =
    MmrSelect.select(in.asInstanceOf[ArrayData], k, lambda)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cls = MmrSelect.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev,
      in => s"${ev.value} = $cls.select($in, $k, $lambda);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MmrSelect = copy(child = newChild)
  override def prettyName: String = "mmr_select"
}

object MmrSelect {

  private[graft] val OutType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("mmr", DoubleType, nullable = false),
    StructField("rn", IntegerType, nullable = false))),
    containsNull = false)

  /** The greedy loop; see the class doc for the exact semantics. */
  def select(cands: ArrayData, k: Int, lambda: Double): ArrayData = {
    val n = cands.numElements()
    val cap = graft.operators.MmrRerank.MaxShortlistPerQuery
    // hard physical bound first: a duplicated-corpus-id join fan-out
    // (precondition violation, see MmrRerank) must not buy an
    // unbounded allocation before the distinct-id check below can
    // even count
    require(n <= 16 * cap,
      s"mmr: a query packed $n rows (hard bound ${16 * cap}) — the " +
        "corpus side of the rerank join has duplicated ids " +
        "(MmrRerank's documented precondition is a unique-id corpus)")
    val ids = new Array[Long](n)
    val rels = new Array[Double](n)
    val relNull = new Array[Boolean](n)
    val vecs = new Array[ArrayData](n)
    val distinctIds = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 3)
      ids(i) = row.getLong(0)
      distinctIds.add(ids(i))
      if (row.isNullAt(1)) relNull(i) = true else rels(i) = row.getDouble(1)
      if (!row.isNullAt(2)) vecs(i) = row.getArray(2)
      i += 1
    }
    require(distinctIds.size == n,
      s"mmr: a query packed $n rows for ${distinctIds.size} distinct " +
        "ids — the corpus side of the rerank join has duplicated ids " +
        "(MmrRerank's documented precondition is a unique-id corpus)")
    require(n <= cap,
      s"mmr: a query has a $n-candidate shortlist " +
        s"(max $cap); the in-task selection is O(k·n) per query — " +
        "cut the retriever's candidate list before reranking")
    val maxsim = new Array[Double](n)
    val hasSim = new Array[Boolean](n)
    val taken = new Array[Boolean](n)
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](
      math.min(k, n))
    var r = 1
    var done = false
    while (r <= k && !done) {
      var best = -1
      var bestScore = 0.0
      i = 0
      while (i < n) {
        if (!taken(i) && !relNull(i)) {
          val div = if (r == 1) 0.0
            else (1.0 - lambda) * (if (hasSim(i)) maxsim(i) else 0.0)
          val score =
            if (r == 1) lambda * rels(i) else lambda * rels(i) - div
          if (best < 0) { best = i; bestScore = score }
          else {
            val c = java.lang.Double.compare(score, bestScore)
            if (c > 0 || (c == 0 && ids(i) < ids(best))) {
              best = i; bestScore = score
            }
          }
        }
        i += 1
      }
      if (best < 0) done = true
      else {
        taken(best) = true
        out += new GenericInternalRow(
          Array[Any](ids(best), bestScore, r))
        if (vecs(best) != null) {
          var j = 0
          while (j < n) {
            if (!taken(j) && vecs(j) != null) {
              val s = CosineSim.cosine(vecs(j), false, vecs(best), false)
              if (!hasSim(j) || s > maxsim(j)) {
                maxsim(j) = s; hasSim(j) = true
              }
            }
            j += 1
          }
        }
        r += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  def column(cands: Column, k: Int, lambda: Double): Column =
    GraftBridge.column(
      MmrSelect(GraftBridge.expression(cands), k, lambda))
}

package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: random-hyperplane LSH bucket id for an
  * embedding (`array<double>` or `array<float>`): bit j of the result is
  * the sign of ⟨vec, plane_j⟩.
  *
  * Hyperplane components are seeded pseudo-random (splitmix64 over
  * (seed, plane, dim)) and cached per (bits, dim, seed) per JVM — the
  * builtin formulation recomputed the hash-derived matrix for EVERY ROW
  * (measured 5.8 s on 2000×64-d vectors; this is ~ms). Deterministic
  * across executors: the matrix depends only on (bits, dim, seed).
  */
case class HyperplaneLsh(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 63, "bits must be in [1, 63]")
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_lsh requires array<double|float>, got $other")
    }
  // def, not val: child.dataType is only callable once resolved
  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneLsh.bucket(input.asInstanceOf[ArrayData], bits, seed, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cls = HyperplaneLsh.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = $cls.bucket($c, $bits, $seed, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneLsh = copy(child = newChild)
  override def prettyName: String = "hyperplane_lsh"
}

object HyperplaneLsh {
  private val cache = new ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** plane(j)(d) ∈ [-1, 1), deterministic in (seed, j, d). */
  def planes(bits: Int, dim: Int, seed: Int): Array[Array[Double]] =
    cache.computeIfAbsent((bits, dim, seed), _ =>
      Array.tabulate(bits, dim) { (j, d) =>
        val h = CmsState.splitmix64(seed.toLong * 1000003L + j.toLong * 8191L + d)
        (h.toDouble / Long.MaxValue.toDouble)
      })

  def bucket(arr: ArrayData, bits: Int, seed: Int, isFloat: Boolean): Long = {
    val dim = arr.numElements()
    val m = planes(bits, dim, seed)
    var out = 0L
    var j = 0
    while (j < bits) {
      val plane = m(j)
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val v = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        acc += v * plane(d)
        d += 1
      }
      if (acc > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  def column(c: Column, bits: Int, seed: Int = 42): Column =
    GraftBridge.column(HyperplaneLsh(GraftBridge.expression(c), bits, seed))
}

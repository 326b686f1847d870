package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The random-projection (Johnson–Lindenstrauss) sketch of a vector as
  * one fused native expression: `out[p] = Σ_d v[d] · plane(p, d)` for
  * `p < dims`, over the same deterministic md5-derived plane family as
  * [[HyperplaneBuckets]] (`SimOps.planeComponent`).
  *
  * Why (r18, guide §1.2 step 2): the composed projection evaluates
  * `dims` interpreted `aggregate(zip_with(v, transform(sequence(…))))`
  * passes per row AND re-derives the md5 plane components — constants
  * of (plane, dim) — per (row × plane × dim): ~200M md5 calls over the
  * 10× corpus, measured 25 s. Here components come from
  * [[HyperplaneBuckets]]'s per-executor memoized cache and each row
  * runs `dims` tight dot loops.
  *
  * Bit-identical to the composed form: per-plane accumulation is the
  * same left-to-right index-order fold from 0.0, and the component
  * formula is the memoized twin of the SQL chain (parity-spec'd in
  * `RpProjectSpec`). Null semantics match the composed array exactly —
  * a NULL input vector, an EMPTY one (the composed `sequence(0, -1)`
  * pairs it with two indices and no values) or ANY null element yields
  * an array of `dims` NULLs (each per-plane fold is poisoned), never a
  * NULL array.
  */
case class RpProject(child: Expression, dims: Int)
    extends UnaryExpression {

  require(dims > 0, s"dims must be positive, got $dims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rp_project requires ARRAY<DOUBLE>, got ${other.simpleString(10)}")
  }

  // never null itself: degenerate inputs produce an array of null
  // ELEMENTS, matching the composed array(aggregate(...), ...) form
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def prettyName: String = "rp_project"

  override protected def withNewChildInternal(newChild: Expression): RpProject =
    copy(child = newChild)

  override def eval(input: InternalRow): Any =
    RpProject.compute(child.eval(input).asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{FalseLiteral, JavaCode}
    val c = child.genCode(ctx)
    val value = ctx.freshName("rpOut")
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData $value =
          graft.functions.RpProject.compute(
            ${c.isNull} ? null : ${c.value}, $dims);
      """,
      isNull = FalseLiteral,
      value = JavaCode.variable(value, dataType))
  }
}

object RpProject {

  /** Column-API entry point (casts the input to `ARRAY<DOUBLE>`). */
  def apply(vec: Column, dims: Int): Column =
    Bridge.column(RpProject(
      Bridge.expression(vec.cast("array<double>")), dims))

  /** The fused loop (also the codegen target). A null or empty input
    * or any null element yields `dims` null components — the composed
    * form's poisoned folds.
    */
  def compute(vec: ArrayData, dims: Int): ArrayData = {
    if (vec == null || vec.numElements() == 0)
      return new GenericArrayData(new Array[AnyRef](dims))
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return new GenericArrayData(new Array[AnyRef](dims))
      i += 1
    }
    val out = new Array[AnyRef](dims)
    var p = 0
    while (p < dims) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += vec.getDouble(d) * HyperplaneBuckets.planeComponent(p, d)
        d += 1
      }
      out(p) = java.lang.Double.valueOf(dot)
      p += 1
    }
    new GenericArrayData(out)
  }
}

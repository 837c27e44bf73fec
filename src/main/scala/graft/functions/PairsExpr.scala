package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression emitting the ordered pairs `(a, b)` with
  * `a < b` of a BIGINT array — the inverted-index pair generator behind
  * q11's rare-shingle candidate path.
  *
  * Given one shingle's (bounded, ≤ df-cap) posting list of doc ids, this
  * replaces the classic `rare.as("a").join(rare.as("b"), s = s && a < b)`
  * self-equi-join: the posting list is already grouped by the shingle, so
  * the m·(m−1)/2 ordered pairs can be enumerated directly — half the rows
  * the join would produce (no (b, a) mirror to filter), no hash-probe
  * machinery, and one fewer shuffle of the exploded shingle table. The
  * input is sorted here (collect_list order is nondeterministic), so
  * `a < b` holds under the same BIGINT ordering the join predicate used.
  *
  * Codegen via a static kernel call, same pattern as [[ShinglesExpr]]
  * (no companion-class instance method shadowing, so Janino resolves the
  * static forwarder and whole-stage codegen stays enabled).
  */
final case class OrderedPairsExpr(child: Expression) extends UnaryExpression {

  // null ELEMENTS are rejected: the kernel reads the array as primitive
  // longs, where a null would silently become a 0 doc id
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ordered_pairs needs an array<bigint> column without null " +
        s"elements, got $other")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_ordered_pairs"

  override def nullSafeEval(input: Any): Any =
    OrderedPairsKernel.eval(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.OrderedPairsKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): OrderedPairsExpr =
    copy(child = newChild)
}

/** Row kernel shared by interpreted eval and generated code — top-level
  * object with no companion class so the static forwarder exists for
  * Janino (see [[ShinglesKernel]]). */
object OrderedPairsKernel {
  def eval(arr: ArrayData): ArrayData = {
    val raw = arr.toLongArray()
    java.util.Arrays.sort(raw)
    // dedupe in place: `a < b` is STRICT, exactly the old self-join's
    // `a.doc_id < b.doc_id` predicate (q11's posting lists are distinct
    // per shingle by construction, so this is defensive, not load-bearing)
    var m = 0
    var r = 0
    while (r < raw.length) {
      if (m == 0 || raw(r) != raw(m - 1)) { raw(m) = raw(r); m += 1 }
      r += 1
    }
    val out = new Array[Any](m * (m - 1) / 2)
    var k = 0
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        out(k) = new GenericInternalRow(Array[Any](raw(i), raw(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object OrderedPairsExpr {
  /** Column form (DataFrame API). */
  def pairsCol(ids: Column): Column =
    GraftColumnBridge.column(OrderedPairsExpr(GraftColumnBridge.expression(ids)))
}

package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for distinct k-token shingles of a text
  * column — the SQL-facing form of `Normalize.shingles(s, k).distinct`.
  *
  * A Scala UDF computing the same thing pays a CatalystTypeConverter round
  * trip per row (UTF8String → String → Seq[String] → re-encoded array);
  * this expression participates in whole-stage codegen via a static call
  * (`defineCodeGen`) and builds the Catalyst array directly — the preferred
  * extension order from SURVEY/the builder mandate: built-ins, then a
  * native `Expression` with `doGenCode`, then UDFs. Used by the dedup
  * candidate generators (q11/q12) and shingle detection (q22).
  */
final case class ShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"shingle length must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles needs a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    ShinglesKernel.eval(input.asInstanceOf[UTF8String], k)

  // Call the standalone ShinglesKernel object: scalac only emits a static
  // forwarder when no companion-class instance method shadows the name, and
  // ShinglesExpr itself inherits Expression.eval — calling
  // graft.functions.ShinglesExpr.eval from Janino fails to resolve and
  // silently disables whole-stage codegen (round-2 ADVICE). ShinglesKernel
  // has no companion class, so the forwarder exists; CodegenHardSpec runs
  // this expression with codegen.fallback=false to keep it that way.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShinglesKernel.eval($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** Row kernel shared by interpreted eval and generated code. Deliberately a
  * top-level object with NO companion class so scalac emits a static
  * forwarder `ShinglesKernel.eval(UTF8String,int)` that Janino can resolve.
  */
object ShinglesKernel {
  def eval(text: UTF8String, k: Int): ArrayData = {
    val sh = graft.text.Normalize.shingles(text.toString, k).distinct
    val out = new Array[Any](sh.length)
    var i = 0
    while (i < sh.length) { out(i) = UTF8String.fromString(sh(i)); i += 1 }
    new GenericArrayData(out)
  }
}

object ShinglesExpr {
  /** Column form (DataFrame API). */
  def shinglesCol(text: Column, k: Int): Column =
    GraftColumnBridge.column(ShinglesExpr(GraftColumnBridge.expression(text), k))

  /** Registration triple for [[graft.catalog.GraftExtensions]] /
    * [[GraftFunctions.register]]:
    * SQL surface `graft_shingles(text, k)` with a literal k. */
  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
    { args =>
      require(args.length == 2, "graft_shingles(text, k) takes two arguments")
      val k = args(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"graft_shingles: k must be an integer literal, got $other")
      }
      ShinglesExpr(args.head, k)
    })
}

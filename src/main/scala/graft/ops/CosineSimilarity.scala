package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity between two float-array columns as a NATIVE Catalyst
  * expression with whole-stage codegen.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is
  * semantically identical but HOFs evaluate INTERPRETED in Spark — lambda
  * per element, boxed doubles. On an all-pairs join that is millions of
  * 64-element cosines (82 s at sf0.1). This expression runs the same
  * double-accumulated loop (cast each float to double, multiply,
  * left-to-right sum — the identical floating-point result) inside
  * generated code.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  // AbstractDataType is private[sql]; let override inference pick the type
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def prettyName: String = "cosine_similarity"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.CosineSimilarity.cosine($a, $b)")
}

object CosineSimilarity {

  /** Double-accumulated cosine; identical arithmetic (and therefore
    * bit-identical results) to the HOF form
    * `aggregate(zip_with(a,b,(x,y)=>x.cast(double)*y.cast(double)),...)
    *  / (sqrt(Σa²)·sqrt(Σb²))` it replaces — the DuckDB oracle hashes
    * depend on that. Called from interpreted eval AND generated code. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // tails beyond the common prefix still count toward the norms,
    // mirroring norm(va)*norm(vb) over the full arrays
    var j = n
    while (j < a.numElements()) {
      val x = a.getFloat(j).toDouble; na += x * x; j += 1
    }
    j = n
    while (j < b.numElements()) {
      val y = b.getFloat(j).toDouble; nb += y * y; j += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column API. */
  def cosine_similarity(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

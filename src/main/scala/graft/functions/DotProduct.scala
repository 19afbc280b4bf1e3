package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native dot product over two array<double> columns.
  *
  * The pure-DataFrame formulation — `aggregate(zip_with(a, b, _*_), 0.0,
  * _+_)` — is semantically identical but executes as interpreted
  * higher-order lambdas with a per-row array allocation; at N candidate
  * pairs × 64 dims that was the dominant cost of the similarity operators
  * (round-2 bench). This expression is a codegen'd tight loop over the
  * unsafe array data: no allocation, no boxing, stays inside
  * WholeStageCodegen.
  *
  * Summation is sequential in index order — the SAME IEEE result as the
  * fold it replaces and as DuckDB's list_dot_product, so oracle parity is
  * unaffected.
  *
  * Contract: element-wise over min(len(a), len(b)); elements are assumed
  * NON-NULL (embedding vectors are dense). A null element would read as
  * 0.0 here while DuckDB's list_dot_product returns NULL — if nullable
  * elements ever appear upstream, filter or coalesce them first.
  *
  * Registered as SQL function `graft_dot` two ways:
  *  - [[GraftExtensions]] for `spark.sql.extensions`-configured sessions;
  *  - [[DotProduct.register]] for runtime registration (used by
  *    graft.core.Sessions on arbitrary driver-provided sessions).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<double> arguments, got $l and $r")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
         |int ${ev.value}_n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  ${ev.value}_s += $x.getDouble(${ev.value}_i) * $y.getDouble(${ev.value}_i);
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  val Name = "graft_dot"

  val info = new ExpressionInfo(classOf[DotProduct].getName, Name)

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"$Name expects exactly 2 arguments")
    DotProduct(exprs.head, exprs(1))
  }

  /** Runtime registration for sessions we didn't build (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(Name, builder, "built-in")
}

/** SparkSessionExtensions hook: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions` makes the graft
  * native functions first-class in every session of the cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(DotProduct.Name), DotProduct.info, DotProduct.builder))
    ext.injectFunction((FunctionIdentifier(RollingHash.Name), RollingHash.info, RollingHash.builder))
    ext.injectFunction((FunctionIdentifier(IntersectCount.Name), IntersectCount.info, IntersectCount.builder))
    ext.injectFunction((FunctionIdentifier(WordShingles.Name), WordShingles.info, WordShingles.builder))
    ext.injectFunction((FunctionIdentifier(NfcNormalize.Name), NfcNormalize.info, NfcNormalize.builder))
    ext.injectFunction((FunctionIdentifier(graft.analytics.BloomJoin.MightContainName),
      new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        graft.analytics.BloomJoin.MightContainName),
      graft.analytics.BloomJoin.mightContainBuilder))
    ext.injectFunction((FunctionIdentifier(graft.analytics.BloomJoin.BloomAggName),
      new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        graft.analytics.BloomJoin.BloomAggName),
      graft.analytics.BloomJoin.bloomAggBuilder))
    ext.injectOptimizerRule(_ => FuseIntersectCount)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.OneTaskSort)
  }
}

package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

import graft.functions.{ArrayCountInSet, DotProduct, NearestCentroids, UnitVector}

/** SQL-surface registration for the engine's custom Catalyst
  * expressions, so `spark.sql("SELECT dot_product(a, b) ...")` uses the
  * same codegen kernel as the Column API.
  *
  * Two deployment paths:
  *  - cluster config: `spark.sql.extensions=graft.GraftExtensions`
  *    (the standard SparkSessionExtensions injection), or
  *  - runtime: `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.dotProductDescriptor)
    e.injectFunction(GraftExtensions.unitVectorDescriptor)
    e.injectFunction(GraftExtensions.arrayCountInSetDescriptor)
    e.injectFunction(GraftExtensions.nearestCentroidsDescriptor)
    e.injectOptimizerRule(_ => graft.plans.KernelSubstitution)
    e.injectPlannerStrategy(_ => graft.plans.LocalTopKStrategy)
  }
}

object GraftExtensions {

  private def buildDotProduct(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "dot_product(arrayA, arrayB)")
    DotProduct(
      Cast(exprs(0), ArrayType(DoubleType)),
      Cast(exprs(1), ArrayType(DoubleType)))
  }

  private def buildUnitVector(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "unit_vector(array)")
    UnitVector(Cast(exprs(0), ArrayType(DoubleType)))
  }

  private def buildArrayCountInSet(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2,
      "array_count_in_set(array, marker, markers...) — markers must be literals")
    val markers = exprs.tail.map { e =>
      require(e.foldable, "array_count_in_set markers must be literals")
      String.valueOf(e.eval(null))
    }
    ArrayCountInSet(Cast(exprs.head, ArrayType(StringType)), markers)
  }

  private def buildNearestCentroids(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3 && exprs(2).foldable,
      "nearest_centroids(unitVector, codebook, n) — n must be a literal")
    NearestCentroids(
      Cast(exprs(0), ArrayType(DoubleType)),
      Cast(exprs(1), ArrayType(NearestCentroids.centroidType)),
      exprs(2).eval(null).asInstanceOf[Number].intValue())
  }

  private[graft] val nearestCentroidsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nearest_centroids"),
    new ExpressionInfo(classOf[NearestCentroids].getName, "nearest_centroids"),
    buildNearestCentroids)

  private[graft] val arrayCountInSetDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("array_count_in_set"),
    new ExpressionInfo(classOf[ArrayCountInSet].getName, "array_count_in_set"),
    buildArrayCountInSet)

  private[graft] val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
    buildDotProduct)

  private[graft] val unitVectorDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("unit_vector"),
    new ExpressionInfo(classOf[UnitVector].getName, "unit_vector"),
    buildUnitVector)

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", buildDotProduct, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unit_vector", buildUnitVector, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_count_in_set", buildArrayCountInSet, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nearest_centroids", buildNearestCentroids, "scala_udf")
    // kernel substitution is idempotent and purely semantic-preserving,
    // but only add it once per session
    if (!spark.experimental.extraOptimizations.contains(graft.plans.KernelSubstitution)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.KernelSubstitution
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.LocalTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.LocalTopKStrategy
    }
  }
}

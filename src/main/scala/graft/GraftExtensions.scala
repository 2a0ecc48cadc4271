package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.{DecimalDotExpr, RollingHashExpr}
import org.apache.spark.sql.graft.PinnedScan

/** Engine extension point, wired via `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Registers the engine's native expressions into the session's function
  * registry so they resolve in both the Column API (`call_function`) and raw
  * SQL, and plans pins that keep a partitioning through `PinnedScan`. This
  * is the standard injection seam for rules and planner strategies.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("decimal_dot"),
      new ExpressionInfo(classOf[DecimalDotExpr].getName, "decimal_dot"),
      (children: Seq[Expression]) => DecimalDotExpr(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHashExpr(children.head, children(1))))
    // Catalyst ships bloom_filter_agg / might_contain (the expression pair
    // its own InjectRuntimeFilter plants) but keeps them in the INTERNAL
    // function registry, invisible to SQL. Surface them here so
    // BloomPrefilter's sketch build + probe stay native codegen'd
    // expressions instead of an opaque driver-closure UDF.
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c)       => new BloomFilterAggregate(c)
        case Seq(c, n)    => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"bloom_filter_agg expects 1-3 args, got ${other.size}")
      }))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
      (children: Seq[Expression]) => BloomFilterMightContain(children.head, children(1))))
    ext.injectPlannerStrategy(_ => PinnedScan)
  }
}

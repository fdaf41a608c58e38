package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the native
  * `quantized_dot` expression with the session function registry so
  * SQL text can use it (`SELECT quantized_dot(a, b)`), not just the
  * DataFrame API, and the AQE runtime rule [[SmallSortRule]] (small
  * global sorts on one partition).
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (all graft session builders do).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("quantized_dot"),
      new ExpressionInfo(classOf[QuantizedDotProduct].getName, "quantized_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"quantized_dot expects 2 arguments, got ${children.length}")
        QuantizedDotProduct(children.head, children(1))
      }))
    ext.injectRuntimeOptimizerRule(_ => SmallSortRule)
  }
}

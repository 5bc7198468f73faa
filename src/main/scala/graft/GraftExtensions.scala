package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: the SQL surface of the engine's
  * native expressions. With `spark.sql.extensions=graft.GraftExtensions`,
  * every name in `graft.functions.natives` resolves in `spark.sql` and
  * `expr()` strings. The engine's own operators do not need it: they build
  * the same expressions as typed Columns (`graft.functions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.natives.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

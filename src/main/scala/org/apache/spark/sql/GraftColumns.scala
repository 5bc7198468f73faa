package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The Column ↔ Catalyst Expression bridge. Spark 4 keeps it
  * (`classic.ExpressionUtils`) private to `org.apache.spark.sql`, so this
  * object lives in that package and re-exports its two conversions — the
  * static-factory pattern table formats use to reach package-private
  * constructors. `graft.functions` builds every native expression through
  * it as a typed Column, with no function registry in between. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

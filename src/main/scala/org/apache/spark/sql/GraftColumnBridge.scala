package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion for the
  * library's custom Catalyst expressions (Spark 4 moved the public
  * `Column(expr)` constructor behind the Connect-compatible ColumnNode
  * layer; `classic.ExpressionUtils` is the sanctioned classic-mode
  * path but is package-private). This object and
  * `execution.datasources.parquet.GraftParquetBridge` (footer schema
  * reads for `graft.engine.ParquetCatalog.read`) are the only places
  * the library steps inside Spark's namespace.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A 1-row/1-column DataFrame as a scalar-subquery Column — what
    * expressions like `BloomFilterMightContain` require their
    * constant side to be (a correlated-free subquery the optimizer
    * evaluates once and inlines, exactly like the SQL
    * `(SELECT agg(...) FROM t)` form).
    */
  def scalarSubquery(df: Dataset[Row]): Column =
    column(catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed))
}

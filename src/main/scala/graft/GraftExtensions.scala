package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim
import graft.expressions.GraftFunctions

/** SQL-surface registration for the compiled kernels: add
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and the functions are callable
  * from SQL — `SELECT graft_simhash64(text) FROM docs`. Each name and its
  * builder is declared once, in `GraftFunctions.sqlFunctions`; a SQL call
  * builds the same expression as the Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name),
        (args: Seq[Expression]) => Shim.expression(build(args.map(Shim.column)))))
    }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SQL names for graft's functions in every session of a deployment: set
  * `spark.sql.extensions=graft.GraftExtensions` on spark-submit and every
  * model-free graft function (graft_minhash, graft_cosine, graft_topk, …)
  * is available in pure SQL — for SQL-only clients such as JDBC/Thrift or
  * notebooks pointed at a shared cluster.
  *
  * Injects the same builder list `GraftFunctions.ensure` registers in one
  * session, so the two SQL surfaces cannot diverge. Scala code needs
  * neither: the Column API in [[graft.functions.GraftFunctions]] builds the
  * expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}

package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point registering the engine's native
  * functions for SQL use. [[graft.GraftSession.build]] registers it; an
  * embedder's own session builder adds it with
  *
  * {{{
  *   .withExtensions(new GraftExtensions)      // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * After which `SELECT themis_murmur64(key) FROM t` parses anywhere SQL
  * runs — the SQL-surface twin of the `ThemisMurmur64(col)` column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("themis_murmur64"),
      new ExpressionInfo(classOf[ThemisMurmur64].getName, "themis_murmur64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "themis_murmur64 takes exactly one argument")
        ThemisMurmur64(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[GraftHash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_hash60 takes exactly one argument")
        GraftHash60(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[GraftDot].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot takes exactly two arguments")
        GraftDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2"),
      new ExpressionInfo(classOf[GraftL2].getName, "graft_l2"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_l2 takes exactly two arguments")
        GraftL2(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_tokenize"),
      new ExpressionInfo(classOf[GraftTokenize].getName, "graft_tokenize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_tokenize takes exactly one argument")
        GraftTokenize(children.head)
      }))
    // the deferred sink→source stage (write files at EXECUTE time, then
    // read them back) — see graft.plans.DeferredIngest
    ext.injectPlannerStrategy(_ => graft.plans.DeferredIngestStrategy)
  }
}

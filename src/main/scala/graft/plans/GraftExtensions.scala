package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions installer — wires the graft-native expressions
  * into any session at build time (SURVEY.md §4 path (c) registration):
  *
  * {{{
  * graft.Session.builder(master, partitions)
  *   .withExtensions(new GraftExtensions)          // programmatic
  * // or spark.sql.extensions=graft.plans.GraftExtensions  (config/submit)
  * }}}
  *
  * Unlike the per-session temp-function registration (Fnv1a64.register),
  * extension injection survives `newSession()` forks and applies to every
  * session the builder creates — the deployment story for a cluster-wide
  * function library.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension (path (c)): native as-of join planning +
    // column pruning through the custom node
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => AsOfJoinPruning)
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
    e.injectOptimizerRule(_ => IntervalJoinPruning)
    e.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"jaro_winkler takes 2 arguments, got ${exprs.length}")
        JaroWinkler(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("fnv1a64"),
      new ExpressionInfo(classOf[Fnv1a64].getName, "fnv1a64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, s"fnv1a64 takes 1 argument, got ${exprs.length}")
        Fnv1a64(exprs.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, s"dot_product takes 2 arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, s"cosine_sim takes 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("char_grams"),
      new ExpressionInfo(classOf[CharGrams].getName, "char_grams"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3,
          s"char_grams takes (text, gramLen, stride), got ${exprs.length} args")
        def lit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
          require(e.foldable, s"char_grams gramLen/stride must be literals, got $e")
          e.eval().asInstanceOf[Number].intValue()
        }
        CharGrams(exprs.head, lit(exprs(1)), lit(exprs(2)))
      }))
    e.injectFunction((
      new FunctionIdentifier("topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3,
          s"topk takes (key, payload, k), got ${exprs.length} args")
        require(exprs(2).foldable, s"topk k must be a literal, got ${exprs(2)}")
        // the analyzer wraps a bare AggregateFunction in AggregateExpression
        TopKAgg(exprs.head, exprs(1), exprs(2).eval().asInstanceOf[Number].intValue())
      }))
  }
}

package graft

import graft.functions.{BlocklistCounts, FloatVecDot, ShingleCodes, StringFingerprint}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

/** `SparkSessionExtensions` entry point: makes the engine's native
  * expressions SQL-callable cluster-wide via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)` at builder time, as
  * [[Runner.builder]] does) — the standard deployment seam for a library
  * on a shared cluster, no code changes in user jobs. Also injects the engine's optimizer rules
  * ([[graft.plans.MarkerHitsRule]]).
  *
  * Deliberate envelope note: the extension ladder stops at Expressions +
  * optimizer Rules. No custom `SparkStrategy`/`SparkPlan` exists because
  * no operator in this engine needs one — every whole-operator semantic
  * (as-of join, greedy matcher, banded LSH, grid-rank) is expressible as
  * built-in operators whose physical plans Catalyst already picks well;
  * a custom strategy would duplicate planner behavior without changing
  * any plan we'd want changed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("string_fingerprint"),
      new ExpressionInfo(classOf[StringFingerprint].getName, "string_fingerprint"),
      (args: Seq[Expression]) => StringFingerprint(args(0))))
    e.injectFunction((
      FunctionIdentifier("shingle_codes"),
      new ExpressionInfo(classOf[ShingleCodes].getName, "shingle_codes"),
      (args: Seq[Expression]) => ShingleCodes(args(0),
        args(1).eval().asInstanceOf[Int])))
    e.injectFunction((
      FunctionIdentifier("blocklist_counts"),
      new ExpressionInfo(classOf[BlocklistCounts].getName, "blocklist_counts"),
      (args: Seq[Expression]) => BlocklistCounts(args(0),
        GraftExtensions.wordArgs(args.tail))))
    // transparent HOF → kernel rewrite (marker counting); semantics
    // identical, cost flat in the marker-set size — see MarkerHitsRule
    e.injectOptimizerRule(_ => graft.plans.MarkerHitsRule)
  }
}

object GraftExtensions {
  /** Trailing foldable string args → the blocklist word list
    * (`blocklist_counts(text, 'slow', 'big', ...)`). Each arg must be a
    * foldable NON-NULL STRING — an integer literal would otherwise be
    * silently stringified and a NULL would NPE deep in eval.
    */
  private[graft] def wordArgs(args: Seq[Expression]): Seq[String] = {
    require(args.forall(_.foldable),
      "blocklist_counts: words must be string literals")
    require(args.forall(_.dataType ==
      org.apache.spark.sql.types.StringType),
      "blocklist_counts: words must be string literals, got " +
        args.map(_.dataType.simpleString).mkString(", "))
    args.map { e =>
      val v = e.eval()
      require(v != null,
        "blocklist_counts: words must be non-null string literals")
      v.toString
    }
  }
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

/** Engine session extensions (`SparkSessionExtensions`, the public plug-in
  * API — enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`):
  *
  *  1. `injectFunction` — every kernel of
  *     [[graft.functions.ArrayMath.SqlFunctions]] (`graft_dot_product`,
  *     `graft_sorted_intersect_size`) is registered in every session built
  *     with the extension (no per-session [[graft.Catalog.register]] call
  *     needed).
  *  2. `injectCheckRule` — [[CartesianGuard]]: refuse, at analysis time,
  *     any join that would execute as an unbounded cartesian /
  *     nested-loop pair blowup. At 100 TB a single accidental cross join
  *     (a dropped join key, a typo'd non-equi predicate) is a
  *     cluster-week; failing the query at planning beats discovering it
  *     in the shuffle metrics. Bounded patterns stay legal: a side whose
  *     row bound (`maxRows`) is ≤ [[CartesianGuard.SmallSide]] — e.g. a
  *     global-aggregate scalar (corpus size N in TF-IDF), an explicit
  *     `limit(k)` probe set, or a literal small dim — is provably safe
  *     to replicate.
  *
  * The shipped `SparkEntry.queries` run on plain sessions (the driver
  * builds its own); the extension is the user-facing hardened entry
  * point, exercised by ExtensionsSpec. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.ArrayMath.SqlFunctions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.checkedBuild))
    }
    ext.injectCheckRule(_ => CartesianGuard)
    // tier-(c) extension point: the custom as-of join physical operator
    // ([[GraftAsOfJoinExec]]) becomes plannable in this session
    ext.injectPlannerStrategy(_ => GraftAsOfStrategy)
  }
}

/** Analysis-time guard against unbounded pair joins. A join is refused
  * when (a) it is an inner/cross join with no equality conjunct linking
  * the two sides — i.e. it can only execute as cartesian / nested-loop —
  * and (b) neither side carries a row bound ≤ `SmallSide`.
  *
  * Because the rule runs at analysis time (before predicate pushdown),
  * the equality conjunct may still sit in a `Filter` ABOVE the join —
  * the classic comma-join `SELECT ... FROM a, b WHERE a.k = b.k` parses
  * as Filter(Join(condition = None)). The guard therefore accepts a
  * linking equality found in the join condition OR in any Filter that is
  * an ANCESTOR of the join (the optimizer will push such a predicate
  * down into an equi join). Filters in sibling subtrees are ignored —
  * they can never constrain this join's pairing.
  *
  * Known FROM-order limitation: a multi-way comma join is parsed
  * left-deep in FROM order, so `FROM a, c, b WHERE a.k = b.k AND
  * b.j = c.j` builds (a × c) first, and no single WHERE equality links
  * a-to-c — the guard refuses it even though join reordering would find
  * an equi plan. This is a deliberate conservative bias: reorder the
  * FROM list (or use explicit JOIN ... ON) so each adjacent pair is
  * linked. Pinned by ExtensionsSpec. */
object CartesianGuard extends (LogicalPlan => Unit) {

  val SmallSide = 1000L

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def hasEquiConjunct(j: Join, filterConjuncts: Seq[Expression]): Boolean =
    (j.condition.toSeq.flatMap(splitConjuncts) ++ filterConjuncts).exists {
      case EqualTo(l, r) => linksSides(j, l, r)
      case EqualNullSafe(l, r) => linksSides(j, l, r)
      case _ => false
    }

  private def linksSides(j: Join, l: Expression, r: Expression): Boolean = {
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    (l.references.subsetOf(leftOut) && r.references.subsetOf(rightOut) &&
      l.references.nonEmpty && r.references.nonEmpty) ||
    (l.references.subsetOf(rightOut) && r.references.subsetOf(leftOut) &&
      l.references.nonEmpty && r.references.nonEmpty)
  }

  private def bounded(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= SmallSide)

  override def apply(plan: LogicalPlan): Unit = check(plan, Nil)

  /** Walk the tree carrying only the conjuncts of ANCESTOR Filters:
    * a Filter in a sibling branch must not vacuously whitelist this
    * join (it cannot be pushed into it). */
  private def check(p: LogicalPlan, inherited: Seq[Expression]): Unit = p match {
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      check(f.child, inherited ++ splitConjuncts(f.condition))
    case j: Join =>
      if ((j.joinType == Inner || j.joinType == Cross) &&
          !hasEquiConjunct(j, inherited) && !bounded(j.left) && !bounded(j.right))
        throw new org.apache.spark.SparkException(
          "[GRAFT_CARTESIAN_GUARD] join has no equality predicate linking its sides and " +
            "neither side is provably small (maxRows <= " + SmallSide + "): " +
            "this would execute as an unbounded cartesian/nested-loop pair join. " +
            "Add a join key, or bound one side with limit(n).")
      j.children.foreach(check(_, inherited))
    case other => other.children.foreach(check(_, inherited))
  }
}

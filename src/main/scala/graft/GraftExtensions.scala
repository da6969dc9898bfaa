package graft

import java.util.Locale

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.{CosineSimilarity, IntersectCountSortedLong, JaccardSimilarity, JaccardSortedLong, SimHash64}

import graft.functions.BQCompat

/** Rewrites BigQuery's bare unit identifiers — `TIMESTAMP_DIFF(a, b,
  * DAY)` — to string literals before reference resolution. Spark resolves
  * function arguments before functions, so without this rule `DAY` fails
  * as an unresolvable column and the function builder never runs. Scoped
  * to the known unit-taking functions, known unit names, AND the unit
  * argument position of each function (last for the *_DIFF family, second
  * for the *_TRUNC family), so a real column named `day` used as a DATA
  * argument — e.g. `TIMESTAMP_DIFF(day, other_ts, HOUR)` — is untouched.
  */
object BQUnitArgRule extends Rule[LogicalPlan] {
  private val unitArgs: PartialFunction[Expression, Expression] = {
    case f: UnresolvedFunction
        if f.nameParts.length == 1 &&
          BQCompat.UnitArgFunctions.contains(f.nameParts.head.toLowerCase(Locale.ROOT)) =>
      val unitIdx = BQCompat.UnitArgFunctions(f.nameParts.head.toLowerCase(Locale.ROOT)) match {
        case BQCompat.UnitPos.Last => f.arguments.length - 1
        case BQCompat.UnitPos.Second => 1
      }
      val rewritten = f.arguments.zipWithIndex.map {
        case (a: UnresolvedAttribute, i)
            if i == unitIdx && a.nameParts.length == 1 &&
              BQCompat.UnitNames.contains(a.name.toUpperCase(Locale.ROOT)) =>
          Literal(a.name.toUpperCase(Locale.ROOT))
        case (other, _) => other
      }
      f.copy(arguments = rewritten)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions(unitArgs)

  /** The same rewrite over a freshly parsed plan, before any analysis:
    * it also walks subquery plans and CTE bodies, which the analyzer
    * would otherwise hand to [[apply]] one by one.
    */
  def onParsed(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case w: UnresolvedWith =>
      w.copy(cteRelations = w.cteRelations.map { case (n, r, d) => (n, onParsed(r).asInstanceOf[SubqueryAlias], d) })
    case p => p.transformExpressions(unitArgs)
  }
}

/** Spark-native installation point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` injects the engine's
  * native codegen kernels into every session's FunctionRegistry at
  * session build time — the idiomatic way a Spark library ships custom
  * Catalyst expressions to a cluster (no per-session install() call, and
  * `newSession()` children inherit them).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays (null on dim mismatch / zero norm)"),
      { case Seq(a: Expression, b: Expression) => CosineSimilarity(a, b) }: Seq[Expression] => Expression))
    ext.injectFunction((
      FunctionIdentifier("jaccard_sim"),
      info("jaccard_sim", "jaccard_sim(a, b) - Jaccard similarity of two distinct string arrays"),
      { case Seq(a: Expression, b: Expression) => JaccardSimilarity(a, b) }: Seq[Expression] => Expression))
    ext.injectFunction((
      FunctionIdentifier("jaccard_sorted_long"),
      info("jaccard_sorted_long", "jaccard_sorted_long(a, b) - Jaccard over pre-sorted distinct long arrays (merge-count)"),
      { case Seq(a: Expression, b: Expression) => JaccardSortedLong(a, b) }: Seq[Expression] => Expression))
    ext.injectFunction((
      FunctionIdentifier("intersect_count_sorted_long"),
      info("intersect_count_sorted_long", "intersect_count_sorted_long(a, b) - intersection size of two pre-sorted distinct long arrays (merge-count)"),
      { case Seq(a: Expression, b: Expression) => IntersectCountSortedLong(a, b) }: Seq[Expression] => Expression))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array"),
      { case Seq(a: Expression) => SimHash64(a) }: Seq[Expression] => Expression))

    // The full BigQuery-dialect surface ships with the extension too, so a
    // cluster configured with spark.sql.extensions needs no per-session
    // BQCompat.install call. That includes the builtin-name overrides
    // (literal SPLIT, NULL-semantics REGEXP_EXTRACT): setting
    // spark.sql.extensions=graft.GraftExtensions IS the opt-in to
    // BigQuery SQL semantics…
    (BQCompat.builders ++ BQCompat.dialectOverrides).foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, name), b))
    }
    // …including BigQuery's bare-identifier unit arguments, which need an
    // analyzer rule (see BQUnitArgRule).
    ext.injectResolutionRule(_ => BQUnitArgRule)
  }
}

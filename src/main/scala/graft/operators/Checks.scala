package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._

/** Data-quality check library — the reference's test surface as
  * violation-DataFrame builders (dbt-style: a check SELECTs the rows that
  * violate it; zero rows = pass).
  *
  * Covers: not_null / unique (schema.yml per-column tests),
  * dbt_utils.expression_is_true (reference models/staging/schema.yml:133-136,
  * 198-207), dbt_utils.unique_combination_of_columns and relationship
  * orphan checks (reference models/marts/commerce/dims/dim_orders.yml:36-43),
  * accepted_values, and the singular-test shapes under reference tests/
  * (email shape, lat/lon range, delivered-after-shipped, value length).
  *
  * Scale: every check is a filter (no shuffle) except unique/combination
  * (one partial-agg groupBy on the key) and relationships (a broadcast or
  * shuffle anti-join) — all linear, all AQE-friendly. `summarize` counts
  * all row-level checks over one base in a single pass over it.
  */
object Checks {

  /** One named check with dbt-style severity. */
  final case class Check(name: String, severity: String, violations: DataFrame)

  /** Rows where `expr` is FALSE (dbt semantics: nulls pass — the
    * expression test is `where not(expression)`, which drops null rows). */
  def expressionIsTrue(df: DataFrame, expr: Column): DataFrame =
    df.where(!expr)

  /** Rows with a null key. */
  def notNull(df: DataFrame, c: String): DataFrame =
    df.where(col(c).isNull)

  /** One row per duplicated key value (count > 1). */
  def unique(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("n_rows")).where(col("n_rows") > 1)

  /** One row per duplicated column combination —
    * dbt_utils.unique_combination_of_columns. */
  def uniqueCombination(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n_rows")).where(col("n_rows") > 1)

  /** Child rows whose non-null key has no parent (relationships test).
    * Anti-join shuffles on the key; Catalyst broadcasts small parents. */
  def relationships(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.where(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti")

  /** Rows whose value is outside the accepted set (nulls pass). */
  def acceptedValues(df: DataFrame, c: String, values: Seq[String]): DataFrame =
    df.where(col(c).isNotNull && !col(c).isin(values: _*))

  /** Summarize a battery into (check_name, severity, n_violations,
    * status) — the shape a scheduler alerts on, ordered by check name.
    *
    * A check whose violations are `base.where(cond)` (not_null,
    * expression_is_true, accepted_values, a singular row test, and the
    * final filter of unique) counts as `count_if(cond)` over `base`, and
    * all such checks over semantically equal bases (`sameResult`) are
    * counted in ONE aggregate over that base, then unpivoted back to one
    * row per check: a battery of nine row tests over three tables scans
    * each table once, not once per test. Every other check is one count
    * over its violation plan. `status` is dbt run semantics: a violating
    * error-severity check is 'fail', a violating warn-severity check is
    * 'warn' (logged, run continues — all 13 reference singular tests are
    * `severity: warn`, e.g. reference
    * tests/stg_shipments__delivered_after_shipped.sql:1), a clean check
    * is 'pass'. */
  def summarize(checks: Seq[Check]): DataFrame = {
    // columns and unpivot labels are slot ids; names and severities are
    // looked up once at the end, so any check name is safe
    val slot = (i: Int) => s"c$i"
    val indexed = checks.zipWithIndex
    val filters = indexed.flatMap { case (c, i) =>
      c.violations.queryExecution.analyzed match {
        case Filter(cond, base) if cond.deterministic &&
            !SubqueryExpression.hasSubquery(cond) => Some((base, cond, i))
        case _ => None
      }
    }
    // group on the base's semantics; a member's condition is rebound to
    // the group's base by output position (equal plans, other expr ids)
    val groups = filters.foldLeft(Vector.empty[(LogicalPlan, Vector[(Expression, Int)])]) {
      case (acc, (base, cond, i)) => acc.indexWhere(_._1.sameResult(base)) match {
        case -1 => acc :+ (base -> Vector(cond -> i))
        case g =>
          val (b, members) = acc(g)
          val rebind = AttributeMap(base.output.zip(b.output))
          val rebound = cond.transform { case a: Attribute => rebind.getOrElse(a, a) }
          acc.updated(g, b -> (members :+ (rebound -> i)))
      }
    }
    val fused = groups.map { case (base, members) =>
      val counts = members.map { case (cond, i) =>
        count_if(GraftSqlBridge.column(cond)).as(slot(i)) }
      GraftSqlBridge.frame(checks.head.violations.sparkSession, base)
        .agg(counts.head, counts.tail: _*)
        .unpivot(Array.empty[Column], members.map(m => col(slot(m._2))).toArray,
          "slot", "n_violations")
    }
    val fusedSlots = filters.map(_._3).toSet
    val single = indexed.collect { case (c, i) if !fusedSlots(i) =>
      c.violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(slot(i)).as("slot"), col("n_violations"))
    }
    def lookup(f: Check => String): Column =
      element_at(typedLit(indexed.map { case (c, i) => slot(i) -> f(c) }.toMap), col("slot"))
    (fused ++ single).reduce(_ unionAll _)
      .select(lookup(_.name).as("check_name"), lookup(_.severity).as("severity"),
        col("n_violations"))
      .withColumn("status",
        when(col("n_violations") === 0L, "pass")
          .when(col("severity") === "error", "fail")
          .otherwise("warn"))
      .orderBy(col("check_name"))
  }

  /** Severity-faithful RUN verdict over a summarized battery: the run
    * fails iff any ERROR-severity check has violations — warn-severity
    * violations are reported but do not fail the run (dbt's contract).
    * One row: (n_checks, n_failed_error, n_warned, run_status). */
  def runVerdict(summary: DataFrame): DataFrame =
    summary.agg(
      count(lit(1)).as("n_checks"),
      sum(when(col("status") === "fail", 1L).otherwise(0L)).as("n_failed_error"),
      sum(when(col("status") === "warn", 1L).otherwise(0L)).as("n_warned"))
      .select(col("n_checks"), col("n_failed_error"), col("n_warned"),
        when(col("n_failed_error") > 0, "fail").otherwise("pass").as("run_status"))
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Checks
import graft.sources.Materialize

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, Option("a"), 10), (2L, Option("a"), -5),
    (2L, Option.empty[String], 7), (3L, Option("b"), 0)
  ).toDF("id", "grp", "v")

  test("notNull / unique / uniqueCombination") {
    assert(Checks.notNull(df, "grp").count() === 1)
    assert(Checks.unique(df, "id").count() === 1)          // id=2 duplicated
    assert(Checks.uniqueCombination(df, Seq("id", "grp")).count() === 0)
  }

  test("expressionIsTrue: nulls pass (dbt semantics)") {
    val withNull = df.withColumn("v2", when(col("id") === 3, null).otherwise(col("v")))
    // id=2 row with v=-5 fails; the null row is NOT a violation
    assert(Checks.expressionIsTrue(withNull, col("v2") >= 0).count() === 1)
  }

  test("relationships: orphans only, null keys pass") {
    val parent = Seq(1L, 2L).toDF("pid")
    val child = Seq(Option(1L), Option(9L), Option.empty[Long]).toDF("pid")
    assert(Checks.relationships(child, "pid", parent, "pid").count() === 1)
  }

  test("acceptedValues + summarize shape") {
    val checks = Seq(
      Checks.Check("vals", "warn", Checks.acceptedValues(df, "grp", Seq("a"))),
      Checks.Check("ok", "error", Checks.notNull(df, "id")))
    val summary = Checks.summarize(checks)
    val rows = summary.collect()
    assert(rows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq ===
      Seq(("ok", "error", 0L, "pass"), ("vals", "warn", 1L, "warn")))
    // warn-severity violations alone do NOT fail the run
    val v = Checks.runVerdict(summary).collect()(0)
    assert((v.getLong(0), v.getLong(1), v.getLong(2), v.getString(3)) ===
      ((2L, 0L, 1L, "pass")))
  }

  test("runVerdict fails only on error-severity violations") {
    val failing = Seq(
      Checks.Check("bad", "error", Checks.acceptedValues(df, "grp", Seq("a"))),
      Checks.Check("meh", "warn", Checks.acceptedValues(df, "grp", Seq("a"))))
    val v = Checks.runVerdict(Checks.summarize(failing)).collect()(0)
    assert(v.getString(3) === "fail" && v.getLong(1) === 1L && v.getLong(2) === 1L)
  }

  test("summarize fuses row checks: one aggregate per base, counts as per check") {
    val withNull = df.withColumn("v2", when(col("id") === 3, null).otherwise(col("v")))
    // two frames over equal plans with distinct attribute ids share one pass
    val other = Seq(1L, 5L, 9L).toDF("k")
    val otherAgain = Seq(1L, 5L, 9L).toDF("k")
    val checks = Seq(
      Checks.Check("a_null_grp", "error", Checks.notNull(withNull, "grp")),
      Checks.Check("b_unique_id", "warn", Checks.unique(withNull, "id")),
      // the null v2 row is NOT a violation: nulls pass expression_is_true
      Checks.Check("c_v2_nonneg", "warn", Checks.expressionIsTrue(withNull, col("v2") >= 0)),
      Checks.Check("d_grp_accepted", "error", Checks.acceptedValues(withNull, "grp", Seq("a"))),
      Checks.Check("e_k_small", "warn", Checks.expressionIsTrue(other, col("k") < 6)),
      Checks.Check("f_k_odd", "error", Checks.expressionIsTrue(otherAgain, col("k") % 2 === 1)),
      Checks.Check("g_orphan", "warn",
        Checks.relationships(other, "k", withNull.select(col("id").as("k")), "k")))
    val summary = Checks.summarize(checks)
    // two fused row-check aggregates, unique's two (group, then count of
    // its filter) and the anti-join's count
    val aggs = summary.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.size === 5, summary.queryExecution.optimizedPlan.toString)
    val got = summary.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getString(3))).toSeq
    val perCheck = checks.map { c =>
      val n = c.violations.count()
      (c.name, c.severity, n,
        if (n == 0) "pass" else if (c.severity == "error") "fail" else "warn")
    }.sortBy(_._1)
    assert(got === perCheck)
    assert(got.map(_._3) === Seq(1L, 1L, 1L, 1L, 1L, 0L, 2L))
  }

  test("Materialize: table sink writes partitioned parquet; view resolves name") {
    val out = java.nio.file.Files.createTempDirectory("graft_mat").toString
    Materialize.table(df, out, "GOLD", "t1", partitionBy = Seq("grp"))
    val back = spark.read.parquet(s"$out/GOLD/t1")
    assert(back.count() === 4)
    assert(back.columns.toSet === Set("id", "grp", "v"))
    assert(Materialize.view(df, "SILVER", "T2") === "silver__t2")
    assert(spark.table("silver__t2").count() === 4)
  }
}

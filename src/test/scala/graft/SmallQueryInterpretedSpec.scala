package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.plans.{InterpretedQueryExec, SmallQueryInterpreted}
import graft.sources.Tables

/** `plans.SmallQueryInterpreted`: a query over a small, known input runs
  * interpreted and keeps every operator visible; a large or unknown-size
  * input keeps whole-stage codegen; rows do not depend on the choice. */
class SmallQueryInterpretedSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val small = "/root/testdata/sf0.001"

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes Spark compiles while `f` runs. */
  private def compiled(f: => Unit): Long = { val c0 = compiles(); f; compiles() - c0 }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `df` through the noop sink and collects it; the executed plan. */
  private def run(df: DataFrame): SparkPlan = {
    noop(df)
    df.collect()
    df.queryExecution.executedPlan
  }

  /** A grouped sum and a sort with a literal no other test uses, so a
    * codegen run cannot hit classes cached by an earlier query. */
  private def rollup(df: DataFrame, salt: Long): DataFrame =
    df.groupBy((col("k") % 7).as("g"))
      .agg(sum(col("v") * salt).as("s"))
      .orderBy(col("s").desc, col("g"))

  private def lines(salt: Long): DataFrame = rollup(
    Tables.load(spark, small, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity").cast("long").as("v")), salt)

  private def codegenStages(plan: SparkPlan) = collect(plan) { case w: WholeStageCodegenExec => w }

  test("a below-crossover query plans no codegen stage and compiles nothing") {
    // Spark generates the hash aggregate's row joiner in every mode, once
    // per key/buffer shape: a first run of the shape warms it up
    noop(lines(31L))
    val df = lines(104729L)
    assert(compiled(noop(df)) === 0, "noop write")
    assert(compiled(df.queryExecution.toRdd.count()) === 0, "toRdd")
    val plan = run(df)
    assert(plan.isInstanceOf[InterpretedQueryExec], plan)
    assert(codegenStages(plan).isEmpty, s"codegen stages:\n$plan")
    assert(collect(plan) { case h: HashAggregateExec => h }.size === 2, plan)
    assert(collect(plan) { case s: SortExec => s }.nonEmpty, plan)
    // the same shape with a new literal does compile when codegen is forced
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try assert(compiled(noop(lines(7919L))) > 0, "CODEGEN_ONLY")
    finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("an above-crossover query keeps whole-stage codegen") {
    val n = 3 * SmallQueryInterpreted.CrossoverBytes / 8 // Range estimates 8 bytes a row
    val df = rollup(spark.range(n).select(col("id").as("k"), col("id").as("v")), 7L)
    val plan = run(df)
    assert(!plan.isInstanceOf[InterpretedQueryExec], plan)
    assert(collect(plan) { case h: HashAggregateExec => h }.forall(h =>
      codegenStages(plan).exists(_.child.find(_ eq h).isDefined)), s"aggregates outside codegen:\n$plan")
  }

  test("a plan with an unknown-size leaf keeps codegen") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val rdd = spark.sparkContext.parallelize((1L to 100L).map(i => Row(i, i * 3)), 2)
    val df = rollup(spark.createDataFrame(rdd, schema), 5L)
    val plan = run(df)
    assert(!plan.isInstanceOf[InterpretedQueryExec], plan)
    assert(codegenStages(plan).nonEmpty, plan)
  }

  test("rows are identical interpreted and with codegen") {
    def rows(codegenOnly: Boolean)(df: => DataFrame): (Boolean, Seq[Row]) = {
      val key = "spark.sql.codegen.factoryMode"
      if (codegenOnly) spark.conf.set(key, "CODEGEN_ONLY")
      try {
        val d = df
        (d.queryExecution.executedPlan.isInstanceOf[InterpretedQueryExec], d.collect().toSeq)
      } finally spark.conf.unset(key)
    }
    val frames: Seq[(String, () => DataFrame)] = Seq("lines rollup" -> (() => lines(3L))) ++
      Seq("q119_length_histogram", "q197_retention_hazard", "q246_typed_aggregator",
        "q55_timestamp_ntz_local", "q85_inverted_index").map(q =>
        q -> (() => SparkEntry.queries(q)(spark, small)))
    frames.foreach { case (what, df) =>
      val (interpreted, a) = rows(codegenOnly = false)(df())
      val (codegen, b) = rows(codegenOnly = true)(df())
      assert(interpreted && !codegen, s"$what: the choice did not differ")
      assert(a === b, what)
    }
  }
}

package graft

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{GenerateMutableProjection, GenerateUnsafeProjection}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{ExactDecimalSum, ExactDoubleToDecimal}
import graft.plans.LongDecimalRewrite

/** The long-based money kernels against Spark's own expressions: every
  * input gives the same value, or the same error class, interpreted and
  * generated, in each eval mode. */
class DecimalKernelsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Modes = Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY)
  private val in = BoundReference(0, DoubleType, nullable = true)

  /** Value, or the error's condition (else its class). Decimals compare
    * by unscaled value and scale. */
  private def outcome(f: => Any): Either[String, Any] =
    try scala.util.Right(f match {
      case d: Decimal => d.toJavaBigDecimal
      case other => other
    }) catch {
      case e: SparkThrowable => scala.util.Left(e.getCondition)
      case e: Throwable => scala.util.Left(e.getClass.getName)
    }

  private def cast(dt: DecimalType, mode: EvalMode.Value): Cast = Cast(in, dt, Some("UTC"), mode)
  private def kernel(c: Cast): ExactDoubleToDecimal = LongDecimalRewrite.exactCast(c).get

  /** Interpreted and generated outcomes of `e` on each input. */
  private def outcomes(e: Expression, xs: Seq[Double], codegen: Boolean): Seq[Either[String, Any]] =
    if (!codegen) xs.map(x => outcome(e.eval(InternalRow(x))))
    else {
      val dt = e.dataType.asInstanceOf[DecimalType]
      val proj = GenerateUnsafeProjection.generate(Seq(e), true)
      xs.map { x =>
        outcome {
          val r = proj(InternalRow(x))
          if (r.isNullAt(0)) null else r.getDecimal(0, dt.precision, dt.scale)
        }
      }
    }

  private def pow10(k: Int): Double = s"1e$k".toDouble

  /** Exact and near .5 ties at `scale`: the closest doubles to (k + .5) / 10^s
    * and their neighbours, both signs. */
  private def ties(scale: Int, rnd: scala.util.Random): Seq[Double] = {
    val ks = Seq(0L, 1L, 2L, 7L, 12L, 99L, 12345L, 99999999L) ++ Seq.fill(8)(rnd.nextInt(1000000).toLong)
    for {
      k <- ks
      t = s"${k}5e-${scale + 1}".toDouble
      x <- Seq(t, Math.nextUp(t), Math.nextDown(t), Math.nextUp(Math.nextUp(t)),
        Math.nextDown(Math.nextDown(t)), (k + 0.5) / pow10(scale))
      sign <- Seq(1.0, -1.0)
    } yield sign * x
  }

  /** The largest magnitude that fits (p, s), the rounding boundary above it
    * and their neighbours, both signs. */
  private def bounds(p: Int, s: Int): Seq[Double] = {
    val top = pow10(p - s)
    val half = top - 0.5 / pow10(s)
    val ulp = 1.0 / pow10(s)
    for {
      x <- Seq(top, Math.nextUp(top), Math.nextDown(top), half, Math.nextUp(half),
        Math.nextDown(half), top - ulp, top - 2 * ulp)
      sign <- Seq(1.0, -1.0)
    } yield sign * x
  }

  private val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, 1e-310, -2.5e-320, Double.MaxValue, -Double.MaxValue)

  /** Random doubles at every magnitude from 1e-25 to 1e25, both signs, and
    * random bit patterns. */
  private def randoms(rnd: scala.util.Random): Seq[Double] =
    (for (e <- -25 to 25; _ <- 0 until 4)
      yield (1 + 9 * rnd.nextDouble()) * pow10(e) * (if (rnd.nextBoolean()) 1 else -1)) ++
      Seq.fill(100)(java.lang.Double.longBitsToDouble(rnd.nextLong()))

  private def inputs(p: Int, s: Int, seed: Int): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    ties(s, rnd) ++ bounds(p, s) ++ specials ++ randoms(rnd)
  }

  private def assertSame(what: String, xs: Seq[Double],
      got: Seq[Either[String, Any]], want: Seq[Either[String, Any]]): Unit = {
    val (g, w) = (got.toIndexedSeq, want.toIndexedSeq)
    val bad = xs.indices.filter(i => g(i) != w(i))
    assert(bad.isEmpty, s"$what: ${bad.size} mismatches, e.g. " +
      bad.take(3).map(i => s"${xs(i)} -> ${g(i)} (Spark: ${w(i)})").mkString("; "))
  }

  test("cast kernel equals Spark's cast at every (p, s), interpreted, in every eval mode") {
    for (s <- 0 to 18; p <- math.max(s, 1) to 18; mode <- Modes) {
      val c = cast(DecimalType(p, s), mode)
      val xs = inputs(p, s, p * 100 + s)
      assertSame(s"($p,$s) $mode", xs, outcomes(kernel(c), xs, codegen = false),
        outcomes(c, xs, codegen = false))
    }
  }

  test("cast kernel equals Spark's cast in generated code, in every eval mode") {
    for (s <- 0 to 18; p <- Seq(math.max(s, 1), 18).distinct; mode <- Modes) {
      val c = cast(DecimalType(p, s), mode)
      val xs = inputs(p, s, p * 100 + s + 7)
      assertSame(s"($p,$s) $mode codegen", xs, outcomes(kernel(c), xs, codegen = true),
        outcomes(c, xs, codegen = true))
    }
  }

  test("cast kernel equals Spark's cast on 200k money-shaped and random doubles") {
    val rnd = new scala.util.Random(11)
    val xs = Vector.fill(50000)(rnd.nextLong() % 100000000000L / 100.0) ++ // cents
      Seq.fill(50000)(rnd.nextInt(1000000) / 1000.0 + rnd.nextInt(3) * 0.0005) ++
      Seq.fill(50000)((rnd.nextDouble() - 0.5) * 2e6) ++
      Seq.fill(50000)((rnd.nextDouble() - 0.5) * pow10(rnd.nextInt(12))).toIndexedSeq
    for (dt <- Seq(DecimalType(18, 6), DecimalType(12, 2), DecimalType(10, 3))) {
      val c = cast(dt, EvalMode.LEGACY)
      assertSame(s"$dt", xs, outcomes(kernel(c), xs, codegen = false), outcomes(c, xs, codegen = false))
    }
  }

  test("casts the rule does not own stay Spark's") {
    assert(LongDecimalRewrite.exactCast(cast(DecimalType(19, 6), EvalMode.ANSI)).isEmpty)
    assert(LongDecimalRewrite.exactCast(
      Cast(BoundReference(0, FloatType, nullable = true), DecimalType(18, 6))).isEmpty)
    assert(LongDecimalRewrite.exactCast(
      Cast(BoundReference(0, DecimalType(20, 2), nullable = true), DecimalType(18, 6))).isEmpty)
  }

  // ---- sums -----------------------------------------------------------

  private val Rule = LongDecimalRewrite.ruleName

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val execModes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** `build()`'s rows with the rule on and off, in codegen and interpreted
    * mode, ANSI on and off: the same rows, or the same error class. The
    * rule must have rewritten the plan when on. */
  private def assertSumParity(what: String)(build: => DataFrame): Unit =
    for ((exec, confs) <- execModes; ansi <- Seq("true", "false")) {
      def run(on: Boolean) = withConfs(confs ++ Seq("spark.sql.ansi.enabled" -> ansi,
          "spark.sql.optimizer.excludedRules" -> (if (on) "" else Rule)): _*) {
        val df = build
        val rewritten = df.queryExecution.optimizedPlan.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[ExactDecimalSum])))
        (rewritten, outcome(df.collect().toSeq.map(_.toSeq)))
      }
      val (onRewritten, on) = run(on = true)
      val (offRewritten, off) = run(on = false)
      assert(onRewritten && !offRewritten, s"$what [$exec, ansi=$ansi]: rule did not apply")
      assert(on === off, s"$what [$exec, ansi=$ansi]")
    }

  private def decimals(dt: DecimalType, rows: Seq[(Int, Option[BigInt])]): DataFrame = {
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("v", dt)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
      case ((g, v), i) => Row(g, v.map(u => new JBigDecimal(u.bigInteger, dt.scale)).orNull, i.toLong)
    }, 3), schema.add("id", LongType))
  }

  private val MaxU = BigInt(10).pow(18) - 1

  test("exact sums equal Spark's: mixed signs, extremes, null and empty groups") {
    val rnd = new scala.util.Random(5)
    for (dt <- Seq(DecimalType(18, 0), DecimalType(18, 6), DecimalType(12, 2), DecimalType(9, 4))) {
      val top = BigInt(10).pow(dt.precision) - 1
      val rows =
        Seq.fill(600)((rnd.nextInt(4), Some(BigInt(rnd.nextLong()) % top))) ++
          Seq.fill(300)((4, Some(top))) ++ Seq.fill(300)((5, Some(-top))) ++
          (0 until 400).map(i => (6, Some(if (i % 2 == 0) top else -top + 1))) ++
          Seq.fill(5)((7, None)) ++ Seq((0, None), (3, None))
      val df = decimals(dt, rows)
      assertSumParity(s"$dt grouped")(df.groupBy("g").agg(sum("v").as("s")).orderBy("g"))
      assertSumParity(s"$dt global")(df.agg(sum("v"), sum(when(col("g") === 7, col("v")))))
      assertSumParity(s"$dt empty global")(df.filter(col("g") > 100).agg(sum("v")))
      assertSumParity(s"$dt empty grouped")(df.filter(col("g") > 100).groupBy("g").agg(sum("v")))
      assertSumParity(s"$dt try_sum")(df.groupBy("g").agg(expr("try_sum(v)")).orderBy("g"))
    }
  }

  test("exact sums equal Spark's over a 10^6-row group of near-max magnitudes") {
    // a naive long accumulator would wrap after ten of these rows
    assertSumParity("1e6 rows") {
      spark.range(1000000).select((col("id") % 3).as("g"),
          ((col("id") * 7919 % 1000L - 500) * 999999999999999L).cast(DecimalType(18, 0)).as("v"),
          (lit(MaxU.toLong) - col("id")).cast(DecimalType(18, 0)).as("w"))
        .groupBy("g").agg(sum("v"), sum("w")).orderBy("g")
    }
  }

  test("exact window sums equal Spark's: running, sliding and whole-partition frames") {
    val rnd = new scala.util.Random(9)
    val dt = DecimalType(18, 2)
    val df = decimals(dt, Seq.fill(3000)((rnd.nextInt(5),
      if (rnd.nextInt(10) == 0) None else Some(BigInt(rnd.nextLong()) % MaxU))))
    val byId = Window.partitionBy("g").orderBy("id")
    assertSumParity("window") {
      df.select(col("g"), col("id"),
        sum("v").over(byId.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run"),
        sum("v").over(byId.rowsBetween(-2, 0)).as("slide"),
        sum("v").over(Window.partitionBy("g")).as("all")).orderBy("id")
    }
  }

  test("sums at p <= 8 are left to Spark's DecimalAggregates") {
    val s = Sum(AttributeReference("v", DecimalType(8, 2))())
    assert(LongDecimalRewrite.exactSum(s, checkEachStep = true).isEmpty)
    assert(LongDecimalRewrite.exactSum(Sum(AttributeReference("v", DecimalType(9, 2))()),
      checkEachStep = true).nonEmpty)
  }

  test("sums check each step exactly where Spark's buffer is an UnsafeRow") {
    def stepped(df: DataFrame): Seq[Boolean] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
        case e: ExactDecimalSum => e.checkEachStep
      })
    val df = decimals(DecimalType(18, 2), Seq((1, Some(BigInt(5))), (2, None)))
    assert(stepped(df.groupBy("g").agg(sum("v"))) === Seq(true))
    assert(stepped(df.agg(sum("v"))) === Seq(false))
    // collect_list's object buffer makes Spark plan an object-hash aggregate
    assert(stepped(df.groupBy("g").agg(sum("v"), collect_list("id"))) === Seq(false))
    assert(stepped(df.select(sum("v").over(Window.partitionBy("g")))) === Seq(false))
  }

  test("streaming aggregates keep Spark's Sum (their buffer is checkpointed state)") {
    val df = spark.readStream.format("rate").load()
      .select((col("value") % 3).as("g"), col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy("g").agg(sum("v"))
    val exprs = LongDecimalRewrite(df.queryExecution.analyzed).flatMap(_.expressions)
    assert(exprs.exists(_.exists(_.isInstanceOf[Sum])))
    assert(!exprs.exists(_.exists(_.isInstanceOf[ExactDecimalSum])))
  }

  /** Spark's `agg` run from buffer `init` over `xs`, then evaluated. An
    * UnsafeRow buffer re-checks the decimal's precision on every write, as
    * a grouped HashAggregate does; a generic row does not, as a global
    * aggregate's locals and a window's buffer do. */
  private def runUpdates(agg: DeclarativeAggregate, init: Seq[Any], xs: Seq[Decimal],
      unsafe: Boolean, codegen: Boolean): Either[String, Any] = outcome {
    val bufAttrs = agg.aggBufferAttributes
    val inAttr = agg.children.head.asInstanceOf[AttributeReference]
    val update = BindReferences.bindReferences(agg.updateExpressions, AttributeSeq(bufAttrs :+ inAttr))
    val proj = if (codegen) GenerateMutableProjection.generate(update, true)
      else InterpretedMutableProjection.createProjection(update)
    val generic = new GenericInternalRow(init.toArray)
    val buf = if (unsafe) UnsafeProjection.create(bufAttrs.map(_.dataType).toArray).apply(generic).copy()
      else generic
    proj.target(buf)
    xs.foreach(x => proj(new JoinedRow(buf, InternalRow(x))))
    BindReferences.bindReference(agg.evaluateExpression, AttributeSeq(bufAttrs)).eval(buf)
  }

  /** Spark's merge of two partial buffers (each written to an UnsafeRow,
    * as a partial aggregate's output is), then evaluated. */
  private def runMerge(agg: DeclarativeAggregate, a: Seq[Any], b: Seq[Any],
      unsafe: Boolean): Either[String, Any] = outcome {
    val bufAttrs = agg.aggBufferAttributes
    val types = bufAttrs.map(_.dataType).toArray
    val merge = BindReferences.bindReferences(agg.mergeExpressions,
      AttributeSeq(bufAttrs ++ agg.inputAggBufferAttributes))
    val left = if (unsafe) UnsafeProjection.create(types).apply(new GenericInternalRow(a.toArray)).copy()
      else new GenericInternalRow(a.toArray)
    val right = UnsafeProjection.create(types).apply(new GenericInternalRow(b.toArray)).copy()
    val proj = GenerateMutableProjection.generate(merge, true)
    proj.target(left)
    proj(new JoinedRow(left, right))
    BindReferences.bindReference(agg.evaluateExpression, AttributeSeq(bufAttrs)).eval(left)
  }

  private def dec(u: BigInt, s: Int): Decimal = Decimal(new JBigDecimal(u.bigInteger, s))

  /** A running value as each kernel's buffer. */
  private def sparkBuf(u: BigInt, s: Int): Seq[Any] = Seq(dec(u, s), false)
  private def exactBuf(u: BigInt): Seq[Any] = {
    val (h, l) = u /% BigInt(10).pow(18)
    Seq(h.toLong, l.toLong, false, null)
  }

  test("overflow: null or the same error exactly where Spark's decimal sum gives one") {
    for (dt <- Seq(DecimalType(18, 0), DecimalType(12, 2), DecimalType(9, 3));
         mode <- Modes; stepped <- Seq(true, false); codegen <- Seq(true, false)) {
      val v = AttributeReference("v", dt)()
      val ref = Sum(v, NumericEvalContext(mode))
      val exact = LongDecimalRewrite.exactSum(ref, checkEachStep = stepped).get
      val limit = BigInt(10).pow(dt.precision + 10)
      val top = BigInt(10).pow(dt.precision) - 1
      val s = dt.scale
      val cases = Seq(
        limit - top - 1 -> Seq(top),                 // lands on the last value that fits
        limit - top -> Seq(top),                     // one past it
        limit - top / 2 -> Seq(top, -top, -top),     // out and back in
        -limit + top / 2 -> Seq(-top, top, top),
        -limit + 1 -> Seq(-top / 3, top),
        limit - 1 -> Seq.empty[BigInt],
        BigInt(0) -> Seq(top, -top, top))
      for ((start, xs) <- cases) {
        val want = runUpdates(ref, sparkBuf(start, s), xs.map(dec(_, s)), unsafe = stepped, codegen)
        val got = runUpdates(exact, exactBuf(start), xs.map(dec(_, s)), unsafe = true, codegen)
        assert(got === want, s"$dt $mode stepped=$stepped codegen=$codegen start=$start xs=$xs")
      }
      val merges = Seq(
        (limit - 1, BigInt(1)), (limit - 1, BigInt(0)), (-limit + 1, BigInt(-1)),
        (limit - top, top - 1), (-limit + top, -top)) ++
        // a partial past the limit only exists unchecked; Spark's partial
        // output row turns it null
        (if (stepped) Nil else Seq((limit + 5, BigInt(-10)), (-limit - top, top)))
      for ((a, b) <- merges; (x, y) <- Seq((a, b), (b, a))) {
        val want = runMerge(ref, sparkBuf(x, s), sparkBuf(y, s), unsafe = stepped)
        val got = runMerge(exact, exactBuf(x), exactBuf(y), unsafe = true)
        assert(got === want, s"$dt $mode stepped=$stepped merge $x + $y")
      }
    }
  }

  // ---- plan shape ---------------------------------------------------------

  test("q01: no DOUBLE->DECIMAL cast or decimal Sum left; its aggregates stay whole-stage") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
    val exprs = df.queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
    val casts = exprs.flatMap(_.collect {
      case c: Cast if c.child.dataType == DoubleType && c.dataType.isInstanceOf[DecimalType] => c
    })
    val sums = exprs.flatMap(_.collect { case s: Sum if s.dataType.isInstanceOf[DecimalType] => s })
    assert(casts.isEmpty && sums.isEmpty, s"left: ${casts ++ sums}")
    assert(exprs.exists(_.exists(_.isInstanceOf[ExactDecimalSum])))
    // the physical half at sf0.1: at sf0.001 the query is small enough to
    // run interpreted (plans.SmallQueryInterpreted), with no codegen stage
    val big = SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.1")
    big.collect()
    val plan = big.queryExecution.executedPlan
    val aggs = collect(plan) { case h: HashAggregateExec => h }
    val stages = collect(plan) { case w: WholeStageCodegenExec => w }
    val staged = stages.flatMap(_.child.collect { case h: HashAggregateExec => h })
    assert(aggs.nonEmpty && aggs.size === staged.size, s"aggregates outside codegen:\n$plan")
    // like Sum's DECIMAL(28, 6) buffer, the long buffers plan no two-level
    // fast hash map (a memory page per partial task)
    assert(!stages.exists(_.doCodeGen()._2.body.contains("FastHashMap")))
  }
}

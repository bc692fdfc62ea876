package graft.plans

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, CodegenObjectFactoryMode, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf

/** Physical rule: a query whose whole input Spark estimates at no more
  * than [[SmallQueryInterpreted.CrossoverBytes]] runs interpreted — no
  * whole-stage codegen, Spark's interpreted projections, predicates and
  * orderings — instead of compiling Java per query.
  *
  * Why this exists: for a query over a few hundred KB, Janino compiles and the
  * JIT then warms up more code than the query executes. A traced floor
  * pass (14 queries at sf0.01) compiled 189 classes and spent 27.5 s of
  * JIT time for 3.8 s of executor CPU. Interpreted evaluation skips both;
  * on larger inputs it loses, because then per-row cost dominates (q55 at
  * sf0.1, 2.7 MB, runs twice as slow interpreted). So the choice follows
  * the input size: the summed `stats.sizeInBytes` of every leaf of the query,
  * subqueries included. A leaf whose size Spark does not know (an RDD, a
  * reliable checkpoint without stats) keeps codegen, and so does every
  * query at 100 TB. SCALE.md ("Interpreted small queries") has the A/B
  * behind the crossover.
  *
  * How: the choice is per query. [[InterpretedQueryExec]] sits above the
  * query's `AdaptiveSparkPlanExec` (or the write command holding it) and
  * runs the query with `spark.sql.codegen.wholeStage=false` and
  * `spark.sql.codegen.factoryMode=NO_CODEGEN` as the thread's SQLConf,
  * where AQE plans each stage, and as local properties, which every job
  * submitted meanwhile hands its tasks. The node only wraps: every
  * operator stays in the plan, visible to `AdaptiveSparkPlanHelper`.
  *
  * A session that turns whole-stage codegen off or sets a factory mode
  * other than the default `FALLBACK` (`CODEGEN_ONLY` forces codegen) is
  * left alone, and so is a plan without AQE: Spark collapses the codegen
  * stages of such a plan right after this rule, outside any scope it
  * could set.
  *
  * Injection point: a columnar rule's post-transition hook (wired in
  * `graft.GraftExtensions`), the one physical hook that runs after
  * `InsertAdaptiveSparkPlan` on the main query.
  */
object SmallQueryInterpreted extends Rule[SparkPlan] {

  /** Summed leaf input, in bytes, up to which a query runs interpreted:
    * 768 KiB, inside the gap of the A/B behind it: the queries up to
    * 0.6 MB won or tied interpreted, bar q55, and q01 at 1.04 MB lost. */
  val CrossoverBytes: Long = 3L << 18

  override def apply(plan: SparkPlan): SparkPlan =
    if (codegenAtDefaults && adaptiveQuery(plan).exists(isSmall)) InterpretedQueryExec(plan)
    else plan

  private def codegenAtDefaults: Boolean = conf.wholeStageEnabled &&
    conf.getConf(SQLConf.CODEGEN_FACTORY_MODE) == CodegenObjectFactoryMode.FALLBACK

  /** The main query's adaptive plan: the root, or under a write command.
    * Subquery plans are compiled on their own and must stay adaptive. */
  private def adaptiveQuery(plan: SparkPlan): Option[AdaptiveSparkPlanExec] =
    plan.collectFirst { case a: AdaptiveSparkPlanExec if !a.isSubquery => a }

  private def isSmall(a: AdaptiveSparkPlanExec): Boolean =
    a.inputPlan.logicalLink.exists { lp =>
      val sizes = lp.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }
      sizes.nonEmpty && sizes.forall(_ < conf.defaultSizeInBytes) && sizes.sum <= CrossoverBytes
    }

  private val Interpreted: Seq[(String, String)] = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

  /** This thread's SQLConf with codegen off (a copy: a task's own conf
    * cannot be cloned). */
  private[plans] def interpretedConf(): SQLConf = {
    val c = new SQLConf
    (SQLConf.get.getAllConfs ++ Interpreted).foreach { case (k, v) => c.setConfString(k, v) }
    c
  }

  /** Runs `body` interpreted: planning on this thread and every job it
    * submits (their tasks read the local properties). */
  private[plans] def interpreted[T](plan: SparkPlan)(body: => T): T = {
    val sc = plan.session.sparkContext
    val saved = Interpreted.map { case (k, _) => k -> sc.getLocalProperty(k) }
    Interpreted.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try GraftSqlBridge.withConf(interpretedConf())(body)
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}

/** Runs its child, a whole query, interpreted (see [[SmallQueryInterpreted]]).
  * `executeCollect`, `executeTake` and `executeTail` run inside the scope,
  * so the child's own fast paths (a collect limit, a command's result)
  * stay. `execute()` returns an RDD whose tasks compute interpreted too,
  * for a job that its caller runs later (a write, a checkpoint, a cache).
  */
case class InterpretedQueryExec(child: SparkPlan) extends UnaryExecNode {
  import SmallQueryInterpreted.interpreted

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] =
    interpreted(this)(new InterpretedRDD(child.execute()))
  override def executeCollect(): Array[InternalRow] = interpreted(this)(child.executeCollect())
  override def executeTake(n: Int): Array[InternalRow] = interpreted(this)(child.executeTake(n))
  override def executeTail(n: Int): Array[InternalRow] = interpreted(this)(child.executeTail(n))

  override protected def withNewChildInternal(newChild: SparkPlan): InterpretedQueryExec =
    copy(child = newChild)
}

/** `prev`, with each partition's operators set up under an interpreted
  * SQLConf on the task thread (as Spark's own `SQLExecutionRDD` does for
  * session confs). */
private class InterpretedRDD(prev: RDD[InternalRow]) extends RDD[InternalRow](prev) {
  override val partitioner = prev.partitioner
  override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions
  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    GraftSqlBridge.withConf(SmallQueryInterpreted.interpretedConf())(
      firstParent[InternalRow].iterator(split, context))
}

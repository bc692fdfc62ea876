package graft.plans

import org.apache.spark.sql.DataFrame

/** Policy seam for lineage-cutting materialization inside iterative
  * operators and multi-consumer pipeline spines.
  *
  * Why a seam: the repo's iterative loops (connected components, k-core,
  * BFS, SemDeDup) and multiply-consumed frames all need a
  * materialize-and-truncate step — without it the logical plan multiplies
  * per round and multi-consumer subtrees recompute. `localCheckpoint(true)`
  * is the right LOCAL answer (no cacheManager entry, blocks freed by the
  * ContextCleaner), but its blocks are EXECUTOR-RESIDENT and
  * NON-REPLICATED: on a real cluster, losing one executor mid-iteration
  * kills the job, because the truncated lineage cannot recompute the lost
  * blocks. At 100 TB on ~1000 executors that is a near-certainty per run.
  *
  * The seam keeps `localCheckpoint` as the single-JVM fast path and lets a
  * cluster deployment flip ONE config to a fault-tolerant cut:
  *
  *   - `graft.checkpoint.policy=local` (default): `localCheckpoint(true)`.
  *   - `graft.checkpoint.policy=reliable`: `Dataset.checkpoint(true)` to
  *     the reliable checkpoint dir (HDFS/object store — replicated, so an
  *     executor loss recomputes nothing and loses nothing). The dir comes
  *     from `SparkContext.checkpointDir` if already set, else from
  *     `graft.checkpoint.dir` (set lazily on first use). This is not just
  *     a claim: `graft.RecoveryProof` (script-run) SIGKILLs an executor
  *     JVM mid-iteration under `local-cluster[2,2,1024]` with this policy
  *     and asserts the CC / k-core outputs are byte-identical to an
  *     undisturbed run — measured results in SCALE.md §"Executor-loss
  *     recovery".
  *
  * Both are pin-neutral — neither registers anything in the
  * cacheManager, so PinHygieneSpec's invariant holds under either policy.
  *
  * Cleanup: reliable-checkpoint RDD files are removed by the
  * ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
  * is set, else at application end.
  */
object CheckpointPolicy {

  val PolicyKey = "graft.checkpoint.policy"
  val DirKey = "graft.checkpoint.dir"

  sealed trait Policy
  case object Local extends Policy
  case object Reliable extends Policy

  def resolve(df: DataFrame): Policy =
    df.sparkSession.conf.get(PolicyKey, "local") match {
      case "local" => Local
      case "reliable" => Reliable
      case other => throw new IllegalArgumentException(
        s"$PolicyKey must be local|reliable, got '$other'")
    }

  // ── Test-visible pre-cut plan registry ────────────────────────────
  // materialize() TRUNCATES lineage, so any plan node upstream of a cut
  // is invisible to suite-wide plan lints that sweep only the final
  // optimizedPlan (WindowLintSpec's documented blind spot). When a test
  // thread opts in, every materialize() on that thread first records the
  // about-to-be-cut frame's optimized plan. ThreadLocal, not global:
  // sbt runs suites concurrently in one JVM, and a shared buffer would
  // collect cuts from unrelated suites mid-sweep. Production cost when
  // not recording: one ThreadLocal read per cut.
  private val cutPlanRecorder = new ThreadLocal[
    java.util.ArrayList[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]()

  /** Start recording pre-cut optimized plans on the CALLING thread. */
  def startRecordingCutPlans(): Unit =
    cutPlanRecorder.set(new java.util.ArrayList)

  /** Plans recorded on this thread since [[startRecordingCutPlans]]. */
  def recordedCutPlans
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Option(cutPlanRecorder.get) match {
      case Some(buf) =>
        import scala.jdk.CollectionConverters._
        buf.asScala.toList
      case None => Nil
    }

  /** Stop recording and drop this thread's buffer. */
  def stopRecordingCutPlans(): Unit = cutPlanRecorder.remove()

  /** Materialize `df` and truncate its lineage under the session's
    * configured policy. Eager in both modes — iterative callers rely
    * on the cut frame being computed exactly once. */
  def materialize(df: DataFrame): DataFrame = {
    val rec = cutPlanRecorder.get
    // optimizedPlan is lazy-cached in QueryExecution and the cut is about
    // to execute the frame anyway — recording adds no extra optimization.
    if (rec != null) rec.add(df.queryExecution.optimizedPlan)
    materialize0(df)
  }

  private def materialize0(df: DataFrame): DataFrame = resolve(df) match {
    case Local => df.localCheckpoint(true)
    case Reliable =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = df.sparkSession.conf.get(DirKey, null)
        require(dir != null,
          s"$PolicyKey=reliable needs SparkContext.checkpointDir or $DirKey")
        sc.setCheckpointDir(dir)
      }
      // checkpoint(eager=true) on an unpersisted Dataset computes the
      // subtree TWICE (once for the eager action, once for the
      // ReliableCheckpointRDD write job) — Spark's documented caveat.
      // Inside iterative loops that would double every round's compute,
      // so persist for the duration of the write and drop the blocks
      // immediately after: pin-neutral at steady state.
      df.persist()
      try df.checkpoint(true)
      finally df.unpersist(blocking = false)
  }

  /** `df.cutLineage()` — the call sites' spelling of [[materialize]]. */
  implicit final class DataFrameCutOps(private val df: DataFrame)
      extends AnyVal {
    def cutLineage(): DataFrame = materialize(df)
  }
}

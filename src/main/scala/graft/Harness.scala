package graft

import org.apache.spark.sql.SparkSession

/** The one session shape and the one timed run shared by every harness
  * main (Bench, BenchProfile, Verify, PlanAudit, Quickstart) and the test
  * fixture, so the oracle gate runs the shape that gets timed.
  * RecoveryProof keeps its own builder: it needs a `local-cluster` master
  * and a `spark.checkpoint.dir` that no other caller wants.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE right-size shuffles in BOTH directions: start high and
      // coalesce down (small inputs end at ~cpus partitions as before;
      // big inputs keep enough partitions to stay under the spill
      // threshold — the sf3.3/sf10 twins measured 1M-row partitions
      // spilling at initialPartitionNum = cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus * 8)
      // Spark 4.1's default, pinned so the integer-cast and overflow
      // semantics the queries rely on cannot move with the runtime
      .config("spark.sql.ansi.enabled", true)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Clear leftovers persisted by PREVIOUS queries. Two distinct pools
    * (round-9 watch item — the ~20% driver-vs-builder suite drift):
    *   1. cacheManager entries (CC edge frames, catalog nodes) —
    *      catalog.clearCache().
    *   2. localCheckpoint blocks from cutLineage()'s local cuts: these
    *      are NOT in the cacheManager; the checkpoint RDD sits in
    *      sc.persistentRdds and only the ASYNC ContextCleaner reaps its
    *      blocks after a driver GC notices the dropped reference. Across
    *      a 379-query suite the blocks accumulate and their eventual
    *      collection lands inside LATER queries' timed windows. Reap
    *      deterministically instead: every bench query is self-contained,
    *      so any still-persisted RDD after the noop write is garbage.
    * The explicit GC matters too: with ~400 queries in one JVM,
    * collections of the PREVIOUS query's garbage otherwise land inside
    * the next query's measured window, inflating the whole suite ~25-30%
    * in a way that scales with suite LENGTH, not query cost (observed
    * round-4 -> round-5: uniform inflation on unchanged queries as the
    * surface grew 152 -> 198; round-8 -> round-9: +8%/query as it grew
    * 314 -> 379).
    */
  def reap(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Reap, then time one build + write of query `name` through the
    * `noop` sink. Unlike `.count()`, a noop write evaluates every output
    * column and keeps the final sort, so Catalyst cannot delete the
    * money-math projections or the global ORDER BY (round-1 verdict:
    * `.count()` under-measured exactly those). Returns the seconds, or
    * the failure — never a time-to-failure masquerading as a fast run.
    */
  def timed(spark: SparkSession, name: String, sfDir: String): Either[Throwable, Double] = {
    reap(spark)
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities: salted two-stage aggregation and bucketed
  * range joins — the two manual techniques that matter when AQE's runtime
  * skew handling isn't enough (extreme hot keys, or join shapes AQE can't
  * split).
  */
object Skew {

  /** Two-stage salted aggregation: partial-aggregate on (key, salt) —
    * spreading a hot key over `saltBuckets` reducers — then final-combine
    * on key. `partials` are (aggCol → partialExpr); `finals` combine the
    * partial columns. The salt must be deterministic for oracle parity,
    * so it derives from a hash of the full row's grouping-independent
    * content — here a column the caller supplies.
    *
    * For algebraic aggregates (sum/count/min/max) the result is exactly
    * the unsalted aggregate; the salted form only changes the exchange
    * topology: stage 1 shuffles (key, salt) — bounded fan-in per reducer —
    * stage 2 shuffles `saltBuckets` rows per key.
    */
  def saltedAggregate(
      df: DataFrame,
      key: Column,
      saltSource: Column,
      saltBuckets: Int,
      partials: Seq[(String, Column)],
      finals: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(saltSource, lit(saltBuckets)))
    val stage1 = salted.groupBy(key.as("__key"), col("__salt"))
      .agg(partials.head._2.as(partials.head._1),
        partials.tail.map { case (n, c) => c.as(n) }: _*)
    stage1.groupBy(col("__key"))
      .agg(finals.head, finals.tail: _*)
  }

  /** Salted equi-join for hot keys: the SMALL side replicates
    * saltBuckets× with explicit salt ids and the big side salts each row
    * deterministically from `saltSource`, so the join shuffles on
    * (key, salt) and a hot key's rows spread over saltBuckets reducers
    * instead of hammering one. Result is exactly the unsalted join
    * (every big row meets its key's replica at its own salt). This is
    * what AQE's skew-join split does adaptively; the explicit form works
    * when statistics lie or the skew is known up front. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltSource: Column, saltBuckets: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", pmod(saltSource, lit(saltBuckets)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    saltedBig.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Bucketed range join: match left rows to right intervals
    * [startCol, endCol] on a shared time axis WITHOUT a nested-loop join.
    * Intervals explode to the integer buckets they overlap (width
    * `bucketWidth`, same unit as the columns); points bucket once; the
    * join runs as an equi-join on (bucket) plus the exact range filter.
    * Right intervals must be bounded (end - start bounded) for the
    * explode to stay small — the standard range-join optimization Spark
    * lacks natively (a raw inequality join plans as BroadcastNestedLoop).
    */
  def rangeJoin(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    val pB = points.withColumn("__bucket", (col(pointCol) / bucketWidth).cast("long"))
    val iB = intervals.withColumn("__bucket",
      explode(sequence((col(startCol) / bucketWidth).cast("long"),
        (col(endCol) / bucketWidth).cast("long"))))
    pB.join(iB, Seq("__bucket"))
      .where(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__bucket")
  }

  /** Input-parallelism skew fix (spark_optimization_guide §2.5 "input
    * skew": a source whose row-carrying split count is far below the
    * cluster's core count serializes every downstream per-row computation,
    * e.g. a CPU-heavy projection (decimal money chains, JSON parsing,
    * regex normalization), twice when a global sort's range-sampling pass
    * re-executes the child).
    *
    * A small parquet file is cut into a few byte-range splits under the
    * open-cost packing rule, but a row group is read only by the split
    * that holds its midpoint. Every input under the test data and the
    * benchmark's generated inputs is one row group, so exactly ONE split
    * carries rows and the scan runs single-task whatever
    * `getNumPartitions` reports.
    *
    * Round-robin repartition to the session's default parallelism, but
    * ONLY when the scan reports fewer splits than that: on a real
    * deployment the same table arrives in hundreds of >=128 MB splits and
    * this is a no-op. Deterministic under retry: round-robin repartition
    * sorts its input first (spark.sql.execution.sortBeforeRepartition,
    * on by default — SPARK-23207), so task retries reproduce the same
    * row placement. Results are row-set-identical; every consumer in
    * this repo either aggregates or ends in a total ORDER BY, so
    * partitioning is invisible to the oracle.
    *
    * Call sites opt in per query. A blanket fan-out of every load in
    * `Tables.load` was measured and rejected (perfbench, 3 alternating
    * pairs, seed 1, 4-core VM): q01's window went from 2.11-2.70 s to
    * 2.72-2.95 s, marts makespan from 9.7-11.7 s to 12.5-13.3 s and
    * stateful makespan from 14.3-14.8 s to 15.6-20.8 s — the extra
    * shuffle costs more than the parallel projection wins at sf0.1. */
  def fanOutRead(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Hash-partition by `key` at the session's FULL width, pinned against
    * AQE coalescing.
    *
    * For exchanges that are small in BYTES but expensive per ROW (a
    * digest, permutation arithmetic, decimal chains), AQE's parallelism-
    * first coalescing (floor = minPartitionSize, 1 MB) packs the
    * downstream stage onto a handful of tasks — byte-optimal, CPU-wrong.
    * An explicit repartition(n, key) is exempt from coalescing; n =
    * max(defaultParallelism, spark.sql.shuffle.partitions) is
    * scale-adaptive (a cluster's configured shuffle width wins when
    * higher than the core count). Because HashPartitioning(key) satisfies
    * every aggregate/window clustered on (key, …) — the
    * ClusteredDistribution subset rule — consumers keyed on `key` reuse
    * this exchange instead of adding their own: pinning often REMOVES an
    * exchange while fixing the width. (Joins do NOT inherit it — they
    * require all cluster keys — so pin only ahead of aggregates/windows.) */
  def fanOutByKey(df: DataFrame, key: Column): DataFrame = {
    val sess = df.sparkSession
    val shuffleParts =
      scala.util.Try(sess.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(sess.sparkContext.defaultParallelism)
    df.repartition(
      math.max(sess.sparkContext.defaultParallelism, shuffleParts), key)
  }
}

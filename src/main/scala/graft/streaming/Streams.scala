package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import graft.operators.IncrementalMerge

/** Structured-Streaming twins of the batch operators: the same semantics
  * (dedup, windowed revenue rollup, incremental merge) expressed as
  * unbounded queries, plus a custom-state sessionizer. The reference is a
  * batch dbt project; this is the "same pipeline, streaming source"
  * surface a Spark-native engine owes its users.
  *
  * Scale notes: all operators are keyed-state streaming — state is
  * hash-partitioned by key across executors and bounded by watermark
  * eviction (no unbounded growth); the merge sink uses foreachBatch so
  * each micro-batch reuses the exact batch IncrementalMerge operator
  * (one code path, two execution modes).
  */
object Streams {

  /** Streaming exact-dedup: first arrival per key wins within the
    * watermark horizon (the streaming twin of Dedup.keepLatest — late
    * duplicates beyond the watermark are dropped by eviction). */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked tumbling-window revenue rollup (streaming twin of the
    * monthly-revenue aggregate; decimal sums stay exact). */
  def windowedRevenue(events: DataFrame, tsCol: String, watermark: String,
      windowLen: String, amount: Column): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(amount.cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("revenue"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("revenue"))

  /** Per-user session state: running event count and last-seen ts, emitted
    * on update — the KeyValueGroupedDataset.mapGroupsWithState surface for
    * custom state the built-in aggregates can't express. */
  final case class Evt(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserState(user_id: Long, n_events: Long, total_value: Double,
      last_seen: java.sql.Timestamp)

  def sessionState(events: Dataset[Evt])(implicit spark: SparkSession): Dataset[UserState] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout()) {
        (uid: Long, evts: Iterator[Evt], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0.0, null))
          val next = evts.foldLeft(prev) { (s, e) =>
            val later = s.last_seen == null || e.ts.after(s.last_seen)
            UserState(uid, s.n_events + 1, s.total_value + e.value,
              if (later) e.ts else s.last_seen)
          }
          state.update(next)
          next
      }
  }

  /** Completed-session records via flatMapGroupsWithState: events update
    * per-user state; when a processing-time timeout fires (no events for
    * `gap`), the closed session is EMITTED and the state cleared — the
    * standard session-window-with-custom-payload shape that
    * mapGroupsWithState (exactly one output per invocation) can't
    * express. */
  final case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  def closedSessions(events: Dataset[Evt], gap: String)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout()) {
        (uid: Long, evts: Iterator[Evt], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n_events, s.total_value))
          } else {
            val prev = state.getOption.getOrElse(UserState(uid, 0L, 0.0, null))
            val next = evts.foldLeft(prev)((s, e) =>
              s.copy(n_events = s.n_events + 1, total_value = s.total_value + e.value,
                last_seen = e.ts))
            state.update(next)
            state.setTimeoutDuration(gap)
            Iterator.empty
          }
      }
  }

  /** Event-time gap sessionization with EXACT integer values — the
    * oracle-gateable sibling of `closedSessions` (whose processing-time
    * timeouts are wall-clock and therefore unverifiable). Events carry
    * value in micro-units (pre-converted via the decimal path, so state
    * arithmetic is pure integers); a session closes either in-batch
    * (the sorted per-user slice shows a gap > `gapMs`) or when the
    * WATERMARK passes last_seen + gap (EventTimeTimeout) — both
    * deterministic given a deterministic batch sequence. State per user
    * is one open session; memory is bounded by active users within the
    * gap horizon. */
  final case class EvtU(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value_u: Long)
  final case class OpenSession(user_id: Long, start: java.sql.Timestamp,
      last_seen: java.sql.Timestamp, n_events: Long, value_u: Long)
  final case class SessionRow(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, value_u: Long)

  def eventTimeSessions(events: Dataset[EvtU], gapMs: Long)(
      implicit spark: SparkSession): Dataset[SessionRow] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EvtU], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionRow(uid, s.start, s.n_events, s.value_u))
          } else {
            // batch iterators are unordered; per-user-per-batch slices are
            // small, so an in-memory total-order sort is the right tool
            val evts = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer[SessionRow]()
            var open = state.getOption.orNull
            evts.foreach { e =>
              if (open == null)
                open = OpenSession(uid, e.ts, e.ts, 1L, e.value_u)
              else if (e.ts.getTime - open.last_seen.getTime > gapMs) {
                closed += SessionRow(uid, open.start, open.n_events, open.value_u)
                open = OpenSession(uid, e.ts, e.ts, 1L, e.value_u)
              } else
                open = open.copy(last_seen = e.ts, n_events = open.n_events + 1L,
                  value_u = open.value_u + e.value_u)
            }
            state.update(open)
            state.setTimeoutTimestamp(open.last_seen.getTime + gapMs)
            closed.iterator
          }
      }
  }

  /** Streaming corpus dedup — the streaming twin of exact-content
    * fingerprint dedup (TextKernels.contentFingerprint): documents are
    * keyed by their md5-u64 content fingerprint (native codegen'd
    * expression) and deduplicated within the watermark horizon. This is
    * the shape of an incremental training-data ingest: state is one
    * fingerprint per unique document, hash-partitioned and
    * watermark-evicted. */
  def dedupDocumentsStream(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("content_fp",
        graft.functions.TextKernels.contentFingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_fp")

  /** Stream-stream interval join — the unbounded twin of the fact↔event
    * equi-join: left and right are both streams, matched on `leftKey` =
    * `rightKey` when the right event lands within
    * [left_ts, left_ts + maxDelay]. Both sides carry watermarks so the
    * join state is BOUNDED: a left row is dropped from state once its
    * ts + maxDelay falls behind the right watermark, and vice versa —
    * the planner derives the eviction bound from the interval condition
    * (state never grows unboundedly). The two key columns must have
    * DISTINCT names (rename one side before calling) and all other
    * columns must be disjoint. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, watermark: String,
      maxDelay: String, joinType: String = "inner"): DataFrame = {
    require(leftKey != rightKey,
      "leftKey and rightKey must have distinct column names")
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs AND " +
          s"$rightTs <= $leftTs + INTERVAL $maxDelay"),
        joinType)
  }

  /** Streaming incremental-merge sink: every micro-batch merges into a
    * `partitionCol`-partitioned parquet target with the batch
    * IncrementalMerge operator (latest batch wins on key overlap) — the
    * streaming twin of the reference's incremental materialization.
    *
    * Scale shape: per batch, only the partitions PRESENT IN THE BATCH are
    * read (partition-pruned scan), merged and rewritten via dynamic
    * partition overwrite — untouched partitions are never read or
    * rewritten (the previous whole-table read→tmp→overwrite double write
    * was a per-batch full-table rewrite, a scale-killer and a crash
    * hazard: a failure mid-overwrite destroyed the live target). The
    * merged slice stages to a per-batch dir first because Spark cannot
    * overwrite the files a job is still reading; the staging slice is
    * touched-partitions-sized, not table-sized, and is deleted after the
    * dynamic overwrite commits.
    *
    * `partitionCol` must be non-null on every row (the usual date column
    * of an incremental model); keys should be unique per batch. Returns
    * the unstarted writer, so the caller picks the trigger. */
  def mergeSink(stream: DataFrame, spark: SparkSession, targetPath: String,
      keys: Seq[String], partitionCol: String,
      checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IncrementalMerge.mergeIntoPartitionedTarget(spark, targetPath, batch,
          keys, partitionCol, stagePath = s"${targetPath}__stage_$batchId")
      }

  /** transformWithState running totals — the Spark 4 arbitrary-state API
    * (StatefulProcessor + typed ValueState, RocksDB-backed), the modern
    * replacement for the flatMapGroupsWithState path (eventTimeSessions):
    * per key, a cumulative (count, sum) survives across micro-batches AND
    * checkpointed query lifetimes; each batch emits one row per touched
    * key carrying the cumulative AFTER the batch. The cumulative at the
    * final batch equals the batch aggregate over all input regardless of
    * how the stream was sliced — the split-invariance the q296 gate pins.
    * Requires the RocksDB state-store provider (the API's contract; the
    * caller sets spark.sql.streaming.stateStore.providerClass).
    */
  final case class TwsEvent(user_id: Long, value_u: Long)
  final case class TwsTotals(cnt: Long, sum_u: Long)
  final case class TwsOut(user_id: Long, cum_cnt: Long, cum_sum: Long)

  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsEvent, TwsOut] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[TwsTotals] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[TwsTotals]("totals",
        org.apache.spark.sql.Encoders.product[TwsTotals],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsOut] = {
      var cur = if (totals.exists()) totals.get() else TwsTotals(0L, 0L)
      rows.foreach(r => cur = TwsTotals(cur.cnt + 1L, cur.sum_u + r.value_u))
      totals.update(cur)
      Iterator.single(TwsOut(key, cur.cnt, cur.sum_u))
    }
  }

  def runningTotals(events: Dataset[TwsEvent]): Dataset[TwsOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}

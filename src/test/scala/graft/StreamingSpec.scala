package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Structured-Streaming operator fixtures driven through MemoryStream —
  * covers watermarked dedup, tumbling-window aggregation, custom
  * mapGroupsWithState, and the foreachBatch incremental-merge sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dedupStream: first arrival per key wins within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val deduped = Streams.dedupStream(
      in.toDF.toDF("k", "ts", "v"), "ts", "10 minutes", Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData((1L, ts("2024-01-01 00:00:00"), "first"),
      (1L, ts("2024-01-01 00:00:30"), "dup"),
      (2L, ts("2024-01-01 00:01:00"), "other"))
    q.processAllAvailable()
    val got = spark.table("dedup_out").orderBy("k").as[(Long, Timestamp, String)].collect()
    q.stop()
    assert(got.map(r => (r._1, r._3)).toSeq === Seq((1L, "first"), (2L, "other")))
  }

  test("windowedRevenue: watermarked tumbling windows with exact decimal sums") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.windowedRevenue(
      in.toDF.toDF("ts", "event_type", "value"), "ts", "10 minutes", "5 minutes",
      col("value"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    in.addData(
      (ts("2024-01-01 00:01:00"), "purchase", 10.10),
      (ts("2024-01-01 00:02:00"), "purchase", 0.20),
      (ts("2024-01-01 00:07:00"), "purchase", 5.00),
      (ts("2024-01-01 00:03:00"), "click", 1.00))
    q.processAllAvailable()
    val got = spark.table("win_out").orderBy("window_start", "event_type")
      .select(col("event_type"), col("n"), col("revenue").cast("string")).collect()
    q.stop()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq === Seq(
      ("click", 1L, "1.000000"), ("purchase", 2L, "10.300000"), ("purchase", 1L, "5.000000")))
  }

  test("sessionState: running per-user count/total/last-seen via mapGroupsWithState") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Evt]
    val st = Streams.sessionState(in.toDS())
    val q = st.writeStream.format("memory").queryName("sess_out")
      .outputMode("update").start()
    in.addData(
      Streams.Evt(1L, ts("2024-01-01 00:00:00"), 2.0),
      Streams.Evt(1L, ts("2024-01-01 00:05:00"), 3.0),
      Streams.Evt(2L, ts("2024-01-01 00:01:00"), 7.0))
    q.processAllAvailable()
    in.addData(Streams.Evt(1L, ts("2024-01-01 00:09:00"), 1.0))
    q.processAllAvailable()
    // memory sink in update mode appends updated rows; take the LAST state per user
    val got = spark.table("sess_out").as[Streams.UserState].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
    q.stop()
    assert(got(1L).n_events === 3 && got(1L).total_value === 6.0 &&
      got(1L).last_seen === ts("2024-01-01 00:09:00"))
    assert(got(2L).n_events === 1 && got(2L).total_value === 7.0)
  }

  test("dedupDocumentsStream: same-content docs collapse to one by fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = Streams.dedupDocumentsStream(
      in.toDF.toDF("doc_id", "ingested_at", "text"), "ingested_at", "text", "10 minutes")
    val q = out.writeStream.format("memory").queryName("docdedup_out")
      .outputMode("append").start()
    in.addData(
      (1L, ts("2024-01-01 00:00:00"), "the same document"),
      (2L, ts("2024-01-01 00:01:00"), "the same document"),   // dup content
      (3L, ts("2024-01-01 00:02:00"), "a different document"))
    q.processAllAvailable()
    val got = spark.table("docdedup_out").orderBy("doc_id")
      .select("doc_id", "text").collect()
    q.stop()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("intervalJoinStream: matches only within the event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[(Long, Timestamp)]
    val ships  = MemoryStream[(Long, Timestamp)]
    val out = Streams.intervalJoinStream(
      orders.toDF.toDF("order_id", "order_ts"),
      ships.toDF.toDF("ship_order_id", "ship_ts"),
      leftKey = "order_id", rightKey = "ship_order_id",
      leftTs = "order_ts", rightTs = "ship_ts",
      watermark = "10 minutes", maxDelay = "1 HOUR")
    val q = out.writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").start()
    orders.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
    ships.addData(
      (1L, ts("2024-01-01 00:30:00")),  // within 1h → match
      (2L, ts("2024-01-01 02:00:00")),  // beyond 1h → no match
      (3L, ts("2024-01-01 00:10:00")))  // no left side → no match
    q.processAllAvailable()
    val got = spark.table("ivj_out").select("order_id").collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(got === Seq(1L))
  }

  test("mergeSink: fresh wins per key; untouched partitions are not rewritten") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val target = s"$dir/target"; val ckpt = s"$dir/ckpt"
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.mergeSink(
      in.toDF.toDF("k", "v", "dt"), spark, target, Seq("k"), "dt", ckpt).start()
    in.addData((1L, "a1", "2024-01-01"), (2L, "b1", "2024-01-02"))
    q.processAllAvailable()
    def partFiles(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$target/dt=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val d1Before = partFiles("2024-01-01")
    assert(d1Before.nonEmpty)
    // batch 2 touches only dt=2024-01-02: update key 2, insert key 3
    in.addData((2L, "b2", "2024-01-02"), (3L, "c1", "2024-01-02"))
    q.processAllAvailable()
    q.stop()
    assert(partFiles("2024-01-01") === d1Before,
      "untouched partition files must survive byte-identical (same names + mtimes)")
    val got = spark.read.parquet(target)
      .select(col("k"), col("v"), col("dt").cast("string"))
      .orderBy("k").as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "a1", "2024-01-01"), (2L, "b2", "2024-01-02"),
      (3L, "c1", "2024-01-02")))
  }

  test("closedSessions: flatMapGroupsWithState emits the session on timeout") {
    // No-data batches off (on a session of its own, so no other suite's
    // query sees the setting): a ProcessingTimeTimeout then fires only in
    // a batch this test triggers, and no batch runs when the query stops.
    implicit val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[Streams.Evt]
    val q = Streams.closedSessions(in.toDS(), "500 milliseconds")
      .writeStream.format("memory").queryName("closed_out")
      .outputMode("append").start()
    in.addData(Streams.Evt(1L, ts("2024-01-01 00:00:00"), 2.0),
      Streams.Evt(1L, ts("2024-01-01 00:01:00"), 3.0))
    q.processAllAvailable()
    Thread.sleep(800) // past user 1's 500 ms processing-time timeout
    // user 2's event runs the batch that times user 1 out
    in.addData(Streams.Evt(2L, ts("2024-01-01 00:02:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.table("closed_out").as[Streams.SessionOut].collect()
    assert(rows.exists(r => r.user_id == 1L && r.n_events == 2 && r.total_value == 5.0))
  }
}

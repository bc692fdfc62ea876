package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels.{dec6, moneyOut}
import graft.sources.{Materialize, Tables}

/** Table-sink roundtrip (q49), file-format roundtrips (q62/q63), and
  * gap-based sessionization (q50). */
object SinkQueries {

  val defs: Seq[QueryDef] = Seq(

    // S3 table sink exercised end-to-end INSIDE the gate: materialize a
    // date-partitioned mart to parquet, read it back, aggregate. The
    // oracle computes the same aggregate straight from the source — so
    // the check proves the sink round-trips values and partitioning
    // drops nothing.
    QueryDef(
      "q49_table_sink_roundtrip",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val mart = o.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          to_date(col("o_orderdate")).as("order_date"),
          year(col("o_orderdate")).cast("int").as("order_year"))
        // fixed scratch dir, wiped per run: repeated invocations
        // reuse the same tree instead of accumulating orphaned temp dirs
        // (deleteOnExit can't remove non-empty directories)
        val out = Scratch.fresh(s, "graft_sink")
        Materialize.table(mart, out, "GOLD", "orders_mart", partitionBy = Seq("order_year"))
        s.read.parquet(s"$out/GOLD/orders_mart")
          .groupBy(col("order_year").cast("long").as("order_year"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            min(col("order_date")).as("first_date"),
            max(col("order_date")).as("last_date"))
          .orderBy(col("order_year"), col("o_orderstatus"))
      },
      Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               MIN(CAST(o_orderdate AS DATE)) AS first_date,
               MAX(CAST(o_orderdate AS DATE)) AS last_date
        FROM orders
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // JSON-lines file format exercised as BOTH sink and source: write a
    // projection as .json lines, read it back with a DECLARED schema (no
    // inference — the 100 TB stance: schema-on-read inference is a full
    // extra scan), aggregate; the oracle computes the same aggregate from
    // the parquet source, so the check proves the JSONL roundtrip loses
    // nothing (Jackson doubles round-trip exactly; dates travel as
    // strings).
    QueryDef(
      "q62_jsonl_roundtrip",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val out = Scratch.fresh(s, "graft_jsonl")
        o.select(col("o_orderkey"), col("o_orderstatus"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_totalprice"))
          .write.mode("overwrite").json(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_orderstatus",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("order_date",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("o_totalprice",
            org.apache.spark.sql.types.DoubleType)))
        s.read.schema(schema).json(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            moneyOut(sum(dec6(col("o_totalprice")))).as("revenue"),
            min(col("order_date")).as("first_date"),
            max(col("order_date")).as("last_date"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
               MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
               MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_date
        FROM orders
        GROUP BY 1
        ORDER BY 1""")),

    // CSV sibling of q62 — header + declared schema (inference off), the
    // other ubiquitous landing format. Doubles round-trip because Spark's
    // CSV writer emits shortest-repr doubles and the declared-schema read
    // parses them back exactly.
    QueryDef(
      "q63_csv_roundtrip",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val out = Scratch.fresh(s, "graft_csv")
        o.select(col("o_orderkey"), col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_totalprice"))
          .write.mode("overwrite").option("header", "true").csv(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_custkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("order_date",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("o_totalprice",
            org.apache.spark.sql.types.DoubleType)))
        s.read.schema(schema).option("header", "true").csv(out)
          .groupBy(substring(col("order_date"), 1, 4).as("order_year"))
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            moneyOut(sum(dec6(col("o_totalprice")))).as("revenue"))
          .orderBy(col("order_year"))
      },
      Some("""
        SELECT substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 4) AS order_year,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1
        ORDER BY 1""")),

    // ORC roundtrip — the third file format next to JSONL (q62) and CSV
    // (q63). ORC is Spark-native (vectorized reader, predicate pushdown
    // via ORC bloom/min-max); the gate writes a typed slice, reads it
    // back through the ORC reader, and aggregates — DuckDB can't read
    // ORC, so the oracle recomputes from the source table (the roundtrip
    // itself is what's under test).
    QueryDef(
      "q127_orc_roundtrip",
      (s, dir) => {
        val out = Scratch.fresh(s, "graft_orc")
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            dec6(col("l_extendedprice")).as("price"))
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_orderkey")).as("key_sum"),
            moneyOut(sum(col("price"))).as("gross"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n_lines,
               CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                    AS DECIMAL(38,6)) AS DOUBLE) AS gross
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // Malformed-row ingestion: a CSV feed with seeded corrupt rows
    // (non-numeric price on every 13th key) read in PERMISSIVE mode with
    // a _corrupt_record column — the quarantine-don't-crash contract of
    // real ingestion. Good rows parse typed; bad rows land whole in the
    // corrupt column with NULL fields. The gate counts both populations
    // with key checksums (corrupt keys recovered by parsing the raw
    // line), so silently dropped or silently coerced rows cannot hide.
    QueryDef(
      "q147_malformed_csv",
      (s, dir) => {
        val out = Scratch.fresh(s, "graft_badcsv")
        Tables.orders(s, dir)
          .selectExpr("""concat(o_orderkey, ',',
            CASE WHEN o_orderkey % 13 = 0 THEN 'notanumber'
                 ELSE CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS STRING) END)
            AS line""")
          .write.mode("overwrite").text(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("price",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(out)
          .select(col("k"), col("price"),
            col("_corrupt_record").isNotNull.as("corrupt"),
            when(col("_corrupt_record").isNotNull,
              split(col("_corrupt_record"), ",").getItem(0).cast("long"))
              .as("corrupt_key"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(!col("corrupt"), 1L).otherwise(0L)).as("n_parsed"),
            sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupt"),
            sum(when(!col("corrupt"), col("k"))).as("parsed_key_sum"),
            sum(col("corrupt_key")).as("corrupt_key_sum"),
            moneyOut(sum(dec6(col("price")))).as("parsed_price_sum"))
          .orderBy(col("n_rows"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
               CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 THEN o_orderkey END)
                 AS BIGINT) AS parsed_key_sum,
               CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN o_orderkey END)
                 AS BIGINT) AS corrupt_key_sum,
               CAST(CAST(SUM(CASE WHEN o_orderkey % 13 <> 0
                 THEN CAST(o_totalprice AS DECIMAL(18,6)) END)
                 AS DECIMAL(38,6)) AS DOUBLE) AS parsed_price_sum
        FROM orders
        ORDER BY n_rows""")),

    // Gap-based sessionization: per-user event stream split into
    // sessions wherever the inter-event gap exceeds 30 minutes (lag →
    // gap flag → running sum = session number), then per-session
    // rollup. One shuffle on user_id; both windows share the sort.
    QueryDef(
      "q50_sessionize",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gapUs  = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
        val newSession = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1L).otherwise(0L)
        val sessioned = ev.select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"),
            sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("session_no"))
        sessioned.groupBy(col("user_id"), col("session_no"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            (sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)"))
              .cast("double").as("session_value"))
          .orderBy(col("user_id"), col("session_no"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, ts, event_id, event_type, value,
                 epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
          FROM events),
        flagged AS (
          SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 30*60*1000000 THEN 1 ELSE 0 END AS new_session
          FROM g),
        sess AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          FROM flagged)
        SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // Incremental AGGREGATE-STATE maintenance — the materialized-view
    // upkeep loop: per-day partial aggregates (count + exact cent sum,
    // both SUM-mergeable) land as a parquet state table; each incoming
    // batch re-aggregates ITS OWN partials and merges into the state by
    // key (union + re-agg — never a rescan of prior batches). After
    // three disjoint batches the state must equal the direct aggregate
    // of everything — the mergeability contract that lets a 100 TB
    // daily rollup absorb late data by touching only the affected keys.
    // Each round writes a NEW state dir (parquet can't overwrite its
    // own input); real deployments flip a view pointer the same way.
    QueryDef(
      "q163_incremental_agg_state",
      (s, dir) => {
        val root = Scratch.fresh(s, "graft_agg_state")
        val o = Tables.orders(s, dir).select(
          to_date(col("o_orderdate")).as("day"), col("o_orderkey"),
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        (0 until 3).foreach { i =>
          val partial = o.where(col("o_orderkey") % 3 === i)
            .groupBy(col("day"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          val merged =
            if (i == 0) partial
            else s.read.parquet(s"$root/state_${i - 1}")
              .unionByName(partial)
              .groupBy(col("day"))
              .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"))
          merged.write.mode("overwrite").parquet(s"$root/state_$i")
        }
        s.read.parquet(s"$root/state_2")
          .select(col("day"), col("n"), col("sum_cents"))
          .orderBy(col("day"))
      },
      Some("""
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM orders
        GROUP BY 1
        ORDER BY 1""")),

    // Incremental view maintenance for JOINS — the delta-propagation
    // algebra next to q163's mergeable agg state: a materialized join
    // view absorbs batch deltas on EITHER side without rescanning the
    // base, V_new = V_old ∪ (ΔA⋈B) ∪ (A⋈ΔB) ∪ (ΔA⋈ΔB). Delta
    // membership is a deterministic key predicate (orders key%10=7,
    // customers key%50=3), and every output row is tagged with the term
    // that produced it — the gate therefore pins that the four terms
    // are a DISJOINT EXACT COVER of the direct join (the oracle
    // computes the direct join and classifies rows by the same
    // predicates; any overlap or gap in the delta algebra breaks the
    // per-term counts). Scale: the two cross-delta terms are
    // delta×dim / fact×delta joins — the delta side broadcasts; the
    // base term stands in for the already-materialized V_old, which a
    // real deployment reads back instead of recomputing.
    QueryDef(
      "q240_ivm_join_delta",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        val aOld = o.where(col("o_orderkey") % 10 =!= 7)
        val dA = o.where(col("o_orderkey") % 10 === 7)
        val bOld = c.where(col("c_custkey") % 50 =!= 3)
        val dB = c.where(col("c_custkey") % 50 === 3)
        def term(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame, tag: String) =
          a.join(broadcast(b), col("o_custkey") === col("c_custkey"))
            .select(col("segment"), col("cents"), lit(tag).as("term"))
        val v = term(aOld, bOld, "base")
          .unionByName(term(dA, bOld, "da"))
          .unionByName(term(aOld, dB, "db"))
          .unionByName(term(dA, dB, "dab"))
        v.groupBy(col("segment"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("term") === "base", 1L).otherwise(0L)).as("n_base"),
            sum(when(col("term") === "da", 1L).otherwise(0L)).as("n_delta_a"),
            sum(when(col("term") === "db", 1L).otherwise(0L)).as("n_delta_b"),
            sum(when(col("term") === "dab", 1L).otherwise(0L)).as("n_delta_ab"),
            sum(col("cents")).as("rev_cents"))
          .orderBy(col("segment"))
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k, o_custkey AS ck,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents
          FROM orders),
        c AS (SELECT c_custkey AS ck, c_mktsegment AS segment FROM customer),
        v AS (
          SELECT c.segment, o.cents,
                 CASE WHEN o.k % 10 <> 7 AND c.ck % 50 <> 3 THEN 'base'
                      WHEN o.k % 10 = 7  AND c.ck % 50 <> 3 THEN 'da'
                      WHEN o.k % 10 <> 7 AND c.ck % 50 = 3  THEN 'db'
                      ELSE 'dab' END AS term
          FROM o JOIN c ON o.ck = c.ck)
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN term='base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN term='da' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_a,
               CAST(SUM(CASE WHEN term='db' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_b,
               CAST(SUM(CASE WHEN term='dab' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_ab,
               CAST(SUM(cents) AS BIGINT) AS rev_cents
        FROM v
        GROUP BY segment
        ORDER BY segment""")),

    // Late-arriving dimension handling — the warehouse-load pattern the
    // SCD2/merge family (q65/q20) assumes away: facts land BEFORE their
    // dimension row exists (here: customers with key % 11 == 4 arrive in
    // a later dim batch), so the load inserts INFERRED members
    // (placeholder attributes) to keep referential integrity, and the
    // late batch BACKFILLS them in place. The gate accounts for both
    // phases at once: per final segment, how many facts initially
    // resolved to an inferred member vs a real one, and that the
    // post-backfill totals equal the direct join (the oracle computes
    // the direct join and classifies by the same lateness predicate —
    // any member dropped or double-inserted by the backfill breaks the
    // counts). Scale: the inferred-member set is a broadcast anti-join
    // key list; both phases are one equi-join of facts to the dim.
    QueryDef(
      "q251_late_arriving_dim",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_custkey"),
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        val dimFull = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        val dimEarly = dimFull.where(col("c_custkey") % 11 =!= 4)
        // phase 1: facts vs early dim — missing keys become inferred members
        val inferred = o.select(col("o_custkey").as("c_custkey")).distinct()
          .join(broadcast(dimEarly.select(col("c_custkey"))), Seq("c_custkey"),
            "left_anti")
          .select(col("c_custkey"), lit("INFERRED").as("segment"))
        val dimPhase1 = dimEarly.unionByName(inferred)
        val phase1 = o.join(broadcast(dimPhase1),
            col("o_custkey") === dimPhase1("c_custkey"))
          .select(col("o_custkey"), col("cents"),
            (col("segment") === "INFERRED").as("was_inferred"))
        // phase 2: late batch backfills the inferred members in place
        val dimLate = dimFull.where(col("c_custkey") % 11 === 4)
          .select(col("c_custkey").as("lk"), col("segment").as("late_segment"))
        val dimEarly2 = dimEarly
          .select(col("c_custkey").as("ek"), col("segment").as("early_segment"))
        val backfilled = phase1
          .join(broadcast(dimLate), col("o_custkey") === col("lk"), "left")
          .join(broadcast(dimEarly2), col("o_custkey") === col("ek"), "left")
          .select(coalesce(col("late_segment"), col("early_segment"))
            .as("segment"), col("cents"), col("was_inferred"))
        backfilled.groupBy(col("segment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("was_inferred"), 1L).otherwise(0L))
              .as("n_was_inferred"),
            sum(col("cents")).as("rev_cents"))
          .orderBy(col("segment"))
      },
      Some("""
        WITH o AS (
          SELECT o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents
          FROM orders),
        j AS (
          SELECT c.c_mktsegment AS segment, o.cents,
                 (c.c_custkey % 11 = 4) AS was_inferred
          FROM o JOIN customer c ON o.o_custkey = c.c_custkey)
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN was_inferred THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_was_inferred,
               CAST(SUM(cents) AS BIGINT) AS rev_cents
        FROM j
        GROUP BY segment
        ORDER BY segment""")))
}
package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Kernels.{dec6, moneyOut}
import graft.operators.Checks
import graft.sources.{Materialize, Tables}

/** Data-quality check battery (q37) and the view-sink / schema-name /
  * SQL-surface demonstration (q38).
  */
object CheckQueries {

  val defs: Seq[QueryDef] = Seq(

    // The reference's whole test surface as one summary: per-column tests,
    // expression_is_true, unique_combination_of_columns, relationships,
    // and ALL the singular-test shapes (email shape, lat/lon range,
    // delivered-after-shipped, country-code length —
    // reference tests/stg_addresses_country_len.sql:4-5 — and
    // tracking-number shape —
    // reference tests/stg_shipments__tracking_number_shape.sql:5-6).
    // Checks that pass AND checks that catch seeded violations, so both
    // outcomes are exercised; `status` carries the dbt severity contract
    // (error+violations = fail, warn+violations = warn, clean = pass).
    QueryDef(
      "q37_quality_checks",
      (s, dir) => Checks.summarize(battery(s, dir)),
      Some(s"""
        $BatterySummarySql
        ORDER BY check_name""")),

    // Severity-faithful RUN verdict over the q37 battery — the reference
    // runs all 13 singular tests at `severity: warn`
    // (e.g. reference tests/stg_shipments__delivered_after_shipped.sql:1),
    // so warn-severity violations are REPORTED but do not fail the run;
    // only an error-severity violation does. One aggregate over the
    // 13-row summary frame — run-level cost is independent of data size.
    QueryDef(
      "q295_check_run_verdict",
      (s, dir) => Checks.runVerdict(Checks.summarize(battery(s, dir)))
        .orderBy(col("run_status")),
      Some(s"""
        WITH summary AS (
          $BatterySummarySql)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_checks,
               CAST(SUM(CASE WHEN status = 'fail' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_failed_error,
               CAST(SUM(CASE WHEN status = 'warn' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_warned,
               CASE WHEN SUM(CASE WHEN status = 'fail' THEN 1 ELSE 0 END) > 0
                    THEN 'fail' ELSE 'pass' END AS run_status
        FROM summary
        ORDER BY run_status""")),

    // View sink + verbatim schema-name resolution + spark.sql surface:
    // register documents/embeddings as SILVER views, query them with SQL
    // (S4/S8 + J-join across the registered views).
    QueryDef(
      "q38_view_sink_sql",
      (s, dir) => {
        Materialize.view(Tables.documents(s, dir), "SILVER", "documents")
        Materialize.view(Tables.embeddings(s, dir), "SILVER", "embeddings")
        s.sql("""
          SELECT d.lang,
                 COUNT(*) AS n_docs,
                 COUNT(e.vec_id) AS n_vecs,
                 CAST(SUM(e.label) AS BIGINT) AS sum_label,
                 CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
          FROM silver__documents d
          LEFT JOIN silver__embeddings e ON e.vec_id = d.doc_id
          GROUP BY d.lang
          ORDER BY d.lang""")
      },
      Some("""
        SELECT d.lang,
               COUNT(*) AS n_docs,
               COUNT(e.vec_id) AS n_vecs,
               CAST(SUM(e.label) AS BIGINT) AS sum_label,
               CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents d
        LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        GROUP BY d.lang
        ORDER BY d.lang""")),

    // Dead-letter routing: every ingestion pipeline splits rows into the
    // clean stream and a quarantine with a REASON — q37 reports rule
    // violations in aggregate; this gates the row-routing itself. The
    // reason is the FIRST failing rule (deterministic CASE ladder, same
    // order both engines), the whole thing one codegen'd pass with a
    // tiny per-reason rollup; checksums pin that both engines route
    // exactly the same rows, not just the same counts.
    QueryDef(
      "q136_dead_letter_routing",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val reason = when(col("l_quantity") < 1 || col("l_quantity") > 50,
            "quantity_range")
          .when(col("l_discount") < 0 || col("l_discount") > 1, "discount_range")
          .when(col("l_shipdate").isNull, "missing_shipdate")
          .when(col("l_extendedprice") <= 0, "nonpositive_price")
          .otherwise("ok")
        li.select(col("l_orderkey"), col("l_linenumber"),
            dec6(col("l_extendedprice")).as("price"), reason.as("route"))
          .groupBy(col("route"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_orderkey")).as("key_checksum"),
            moneyOut(sum(col("price"))).as("routed_value"))
          .orderBy(col("route"))
      },
      Some("""
        WITH routed AS (
          SELECT l_orderkey,
                 CAST(l_extendedprice AS DECIMAL(18,6)) AS price,
                 CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 'quantity_range'
                      WHEN l_discount < 0 OR l_discount > 1 THEN 'discount_range'
                      WHEN l_shipdate IS NULL THEN 'missing_shipdate'
                      WHEN l_extendedprice <= 0 THEN 'nonpositive_price'
                      ELSE 'ok' END AS route
          FROM lineitem)
        SELECT route, COUNT(*) AS n_rows,
               CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
               CAST(CAST(SUM(price) AS DECIMAL(38,6)) AS DOUBLE) AS routed_value
        FROM routed
        GROUP BY route
        ORDER BY route""")))

  /** The q37/q295 check battery — single-sourced so the per-check summary
    * and the run verdict cannot drift. Messy columns (email, lat/lon,
    * shipments with delivery dates, country codes, tracking numbers) are
    * synthesized deterministically from keys; the oracle derives them
    * identically. Each table's messy columns live on ONE derived frame,
    * so `Checks.summarize` counts all row tests on a table in one pass. */
  private def battery(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Checks.Check] = {
    val cust = Tables.customer(s, dir)
    val ord  = Tables.orders(s, dir)
    val li   = Tables.lineitem(s, dir)
    val ev   = Tables.events(s, dir)

    // country_code: %13==0 seeds a 4-char violation, %13==1 is null (the
    // reference test passes nulls), 2- and 3-char codes are both legal
    // (reference tests/stg_addresses_country_len.sql:4-5).
    val custX = cust.select(col("*"),
      when(col("c_custkey") % 11 === 0, lit("@broken"))
        .otherwise(concat(lit("c"), col("c_custkey"), lit("@example.com"))).as("email"),
      (col("c_custkey") % 200 - 100).cast("double").as("latitude"),
      (col("c_custkey") % 400 - 200).cast("double").as("longitude"),
      when(col("c_custkey") % 13 === 0, lit("GBRX"))
        .when(col("c_custkey") % 13 === 1, lit(null).cast("string"))
        .when(col("c_custkey") % 13 === 2, lit("US"))
        .otherwise(lit("ARE")).as("country_code"))
    // shipments: tracking_number %17==0 seeds the empty-string violation,
    // %17==1 is null (passes — reference tests/stg_shipments__tracking_
    // number_shape.sql:5-6 requires NOT NULL AND length < 1).
    val liX = li.select(col("*"),
      col("l_shipdate").as("shipped_at"),
      expr("date_add(l_shipdate, CAST(l_partkey % 5 AS INT) - 1)").as("delivered_at"),
      when((col("l_orderkey") + col("l_linenumber")) % 17 === 0, lit(""))
        .when((col("l_orderkey") + col("l_linenumber")) % 17 === 1,
          lit(null).cast("string"))
        .otherwise(concat(lit("TRK"), col("l_orderkey"), lit("-"),
          col("l_linenumber"))).as("tracking_number"))

    Seq(
      Checks.Check("not_null_customer_name", "error",
        Checks.notNull(custX, "c_name")),
      Checks.Check("unique_order_key", "error",
        Checks.unique(ord, "o_orderkey")),
      Checks.Check("unique_combo_cust_orderdate", "warn",
        Checks.uniqueCombination(ord, Seq("o_custkey", "o_orderdate"))),
      Checks.Check("expr_extendedprice_nonneg", "error",
        Checks.expressionIsTrue(liX, col("l_extendedprice") >= 0)),
      Checks.Check("expr_discount_in_range", "warn",
        Checks.expressionIsTrue(liX, col("l_discount").between(0.0d, 0.08d))),
      Checks.Check("email_shape", "warn",
        custX.where(col("email").isNotNull && instr(col("email"), "@") <= 1)),
      Checks.Check("latlon_range", "warn",
        custX.where(
          (col("latitude").isNotNull && !col("latitude").between(-90, 90)) ||
            (col("longitude").isNotNull && !col("longitude").between(-180, 180)))),
      Checks.Check("country_len", "warn",
        custX.where(col("country_code").isNotNull &&
          !length(col("country_code")).isin(2, 3))),
      Checks.Check("tracking_number_shape", "warn",
        liX.where(col("tracking_number").isNotNull &&
          length(col("tracking_number")) < 1)),
      Checks.Check("fk_orders_customer", "error",
        Checks.relationships(ord, "o_custkey", cust, "c_custkey")),
      Checks.Check("fk_events_user_customer", "warn",
        Checks.relationships(ev, "user_id", cust, "c_custkey")),
      Checks.Check("delivered_after_shipped", "warn",
        liX.where(col("delivered_at").isNotNull &&
          col("shipped_at").isNotNull && col("delivered_at") < col("shipped_at"))),
      Checks.Check("accepted_order_status", "error",
        Checks.acceptedValues(ord, "o_orderstatus", Seq("O", "F", "P"))))
  }

  /** Oracle twin of `Checks.summarize(battery(...))` — the q37 SELECT
    * body, also embedded by q295's run-verdict rollup. No trailing ORDER
    * BY so callers append their own. */
  private def BatterySummarySql: String = """
        SELECT check_name, severity, n_violations,
               CASE WHEN n_violations = 0 THEN 'pass'
                    WHEN severity = 'error' THEN 'fail'
                    ELSE 'warn' END AS status
        FROM (
          WITH c AS (SELECT * FROM customer), o AS (SELECT * FROM orders),
          l AS (SELECT * FROM lineitem), e AS (SELECT * FROM events)
          SELECT 'not_null_customer_name' AS check_name, 'error' AS severity,
                 (SELECT COUNT(*) FROM c WHERE c_name IS NULL) AS n_violations
          UNION ALL
          SELECT 'unique_order_key', 'error',
                 (SELECT COUNT(*) FROM (SELECT o_orderkey FROM o GROUP BY 1 HAVING COUNT(*) > 1))
          UNION ALL
          SELECT 'unique_combo_cust_orderdate', 'warn',
                 (SELECT COUNT(*) FROM (SELECT o_custkey, o_orderdate FROM o GROUP BY 1,2 HAVING COUNT(*) > 1))
          UNION ALL
          SELECT 'expr_extendedprice_nonneg', 'error',
                 (SELECT COUNT(*) FROM l WHERE NOT (l_extendedprice >= 0))
          UNION ALL
          SELECT 'expr_discount_in_range', 'warn',
                 (SELECT COUNT(*) FROM l WHERE NOT (l_discount BETWEEN 0.0::DOUBLE AND 0.08::DOUBLE))
          UNION ALL
          SELECT 'email_shape', 'warn',
                 (SELECT COUNT(*) FROM (
                    SELECT CASE WHEN c_custkey % 11 = 0 THEN '@broken'
                                ELSE 'c' || c_custkey || '@example.com' END AS email FROM c)
                  WHERE email IS NOT NULL AND strpos(email, '@') <= 1)
          UNION ALL
          SELECT 'latlon_range', 'warn',
                 (SELECT COUNT(*) FROM (
                    SELECT (c_custkey % 200 - 100)::DOUBLE AS latitude,
                           (c_custkey % 400 - 200)::DOUBLE AS longitude FROM c)
                  WHERE (latitude IS NOT NULL AND NOT (latitude BETWEEN -90 AND 90))
                     OR (longitude IS NOT NULL AND NOT (longitude BETWEEN -180 AND 180)))
          UNION ALL
          SELECT 'country_len', 'warn',
                 (SELECT COUNT(*) FROM (
                    SELECT CASE WHEN c_custkey % 13 = 0 THEN 'GBRX'
                                WHEN c_custkey % 13 = 1 THEN NULL
                                WHEN c_custkey % 13 = 2 THEN 'US'
                                ELSE 'ARE' END AS country_code FROM c)
                  WHERE country_code IS NOT NULL AND length(country_code) NOT IN (2, 3))
          UNION ALL
          SELECT 'tracking_number_shape', 'warn',
                 (SELECT COUNT(*) FROM (
                    SELECT CASE WHEN (l_orderkey + l_linenumber) % 17 = 0 THEN ''
                                WHEN (l_orderkey + l_linenumber) % 17 = 1 THEN NULL
                                ELSE 'TRK' || l_orderkey || '-' || l_linenumber
                           END AS tracking_number FROM l)
                  WHERE tracking_number IS NOT NULL AND length(tracking_number) < 1)
          UNION ALL
          SELECT 'fk_orders_customer', 'error',
                 (SELECT COUNT(*) FROM o WHERE o_custkey IS NOT NULL
                    AND o_custkey NOT IN (SELECT c_custkey FROM c))
          UNION ALL
          SELECT 'fk_events_user_customer', 'warn',
                 (SELECT COUNT(*) FROM e WHERE user_id IS NOT NULL
                    AND user_id NOT IN (SELECT c_custkey FROM c))
          UNION ALL
          SELECT 'delivered_after_shipped', 'warn',
                 (SELECT COUNT(*) FROM (
                    SELECT l_shipdate AS shipped_at,
                           l_shipdate + (CAST(l_partkey % 5 AS INT) - 1) * INTERVAL 1 DAY AS delivered_at
                    FROM l)
                  WHERE delivered_at IS NOT NULL AND shipped_at IS NOT NULL
                    AND delivered_at < shipped_at)
          UNION ALL
          SELECT 'accepted_order_status', 'error',
                 (SELECT COUNT(*) FROM o WHERE o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('O','F','P'))
        )"""
}

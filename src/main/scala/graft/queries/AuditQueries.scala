package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._
import graft.sources.{Materialize, Tables}

/** Round-4 batch 14 — distribution monitoring, bucketed-layout joins,
  * and the SQL face of the injected extensions:
  *
  *  - q141: total-variation drift between split distributions, exact
  *    permille integers (PSI needs ln(); TV distance needs none — the
  *    transcendental-free stance, q75/q82).
  *  - q142: the bucketed zero-shuffle join as an ORACLE-GATED query
  *    (BucketingSpec pins the plan shape; this gates the data path).
  *  - q143: the GraftExtensions SQL surface end-to-end — the injected
  *    native functions called from `spark.sql` text, gated against
  *    DuckDB's md5_number_lower (the registration contract, not just
  *    the expression).
  */
object AuditQueries {

  val defs: Seq[QueryDef] = Seq(

    // Distribution drift between the q58 train/test splits, measured as
    // total-variation distance over length-histogram bins in EXACT
    // permille: TV = ½·Σ|p−q| → Σ|n_train·T_test − n_test·T_train| in
    // cross-multiplied integers, divided once by (2·T_train·T_test) via
    // floor div. Two partial aggs (split×bin, then bin) — the monitoring
    // query every training pipeline schedules; PSI's ln() would be
    // engine-dependent, TV is not.
    QueryDef(
      "q141_split_drift_tv",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("bucket",
            md5BitsModK(md5Bits(concat(lit("split:"), col("doc_id"))), 100L))
          .withColumn("split", when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
          .where(col("split") =!= "val")
          .selectExpr("split", "n_chars div 200 AS bin")
        val cells = d.groupBy(col("bin"))
          .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
            sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        val w = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cells
          .withColumn("t_train", sum(col("n_train")).over(w)) // bin table: bounded
          .withColumn("t_test", sum(col("n_test")).over(w))
          .agg(
            max(col("t_train")).as("n_train_docs"),
            max(col("t_test")).as("n_test_docs"),
            ((sum(abs(col("n_train") * col("t_test") - col("n_test") * col("t_train")))
              * 1000L) / (lit(2L) * max(col("t_train")) * max(col("t_test"))))
              .cast("long").as("tv_permille"))
          .orderBy(col("n_train_docs"))
      },
      Some("""
        WITH split AS (
          SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 n_chars // 200 AS bin
          FROM (SELECT n_chars,
                       CAST(md5_number_lower('split:' || doc_id) % 100 AS BIGINT) AS b
                FROM documents)),
        cells AS (
          SELECT bin,
                 SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
                 SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
          FROM split WHERE split <> 'val' GROUP BY 1),
        t AS (SELECT CAST(SUM(n_train) AS BIGINT) AS t_train,
                     CAST(SUM(n_test) AS BIGINT) AS t_test FROM cells)
        SELECT t.t_train AS n_train_docs, t.t_test AS n_test_docs,
               CAST((SUM(abs(n_train * t.t_test - n_test * t.t_train)) * 1000)
                    // (2 * t.t_train * t.t_test) AS BIGINT) AS tv_permille
        FROM cells, t
        GROUP BY t.t_train, t.t_test
        ORDER BY n_train_docs""")),

    // Bucketed big-big join, oracle-gated: both sides land as 8-bucket
    // tables on the join key, and the join runs bucket-to-bucket with
    // ZERO exchanges (the plan property BucketingSpec pins; here the
    // RESULT is gated too). This is the 100 TB co-located join the
    // SCALE.md big-big rows point at — layout does the shuffle once at
    // write time, every later join rides it free.
    QueryDef(
      "q142_bucketed_join",
      (s, dir) => {
        val root = Scratch.fresh(s, "graft_bucketed")
        s.sql("DROP TABLE IF EXISTS bq_orders")
        s.sql("DROP TABLE IF EXISTS bq_events")
        Materialize.bucketedTable(
          Tables.orders(s, dir).select(col("o_custkey"), dec6(col("o_totalprice")).as("price")),
          s"$root/orders", "bq_orders", "o_custkey", 8)
        Materialize.bucketedTable(
          Tables.events(s, dir).select(col("user_id"), col("event_type")),
          s"$root/events", "bq_events", "user_id", 8)
        s.table("bq_orders")
          .join(s.table("bq_events"), col("o_custkey") === col("user_id"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("o_custkey")).as("n_customers"),
            moneyOut(sum(col("price"))).as("price_sum"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT e.event_type, COUNT(*) AS n_pairs,
               COUNT(DISTINCT o.o_custkey) AS n_customers,
               CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6)))
                    AS DECIMAL(38,6)) AS DOUBLE) AS price_sum
        FROM orders o JOIN events e ON o.o_custkey = e.user_id
        GROUP BY e.event_type
        ORDER BY e.event_type""")),

    // The extensions' SQL face: the same query a notebook user would
    // type — the injected `md5_lower64_bits` and `vector_dot` natives
    // called from `spark.sql` TEXT over registered views. Gates that
    // config-only registration (spark.sql.extensions) delivers the
    // native expressions with DuckDB parity — the session-extension
    // contract end-to-end, not just the Column API. The md5 bits are
    // signed; unsigned mod-1000 is reconstructed in SQL (2⁶⁴ mod 1000 =
    // 616, the md5BitsModK identity); the dot products go through
    // decimal(18,6) before summing (raw double sums are order-dependent).
    QueryDef(
      "q143_sql_extensions",
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("docs_ext")
        Tables.embeddings(s, dir).createOrReplaceTempView("emb_ext")
        s.sql("""
          SELECT d.lang,
                 COUNT(*) AS n_docs,
                 CAST(SUM(pmod(pmod(md5_lower64_bits(d.text), 1000)
                   + IF(md5_lower64_bits(d.text) < 0, 616, 0), 1000)) AS BIGINT)
                   AS md5_checksum,
                 CAST(CAST(SUM(CAST(vector_dot(e.embedding, e.embedding)
                   AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS norm_sum
          FROM docs_ext d JOIN emb_ext e ON e.vec_id = d.doc_id
          GROUP BY d.lang
          ORDER BY d.lang""")
      },
      Some("""
        SELECT d.lang,
               COUNT(*) AS n_docs,
               CAST(SUM(md5_number_lower(d.text) % 1000) AS BIGINT) AS md5_checksum,
               CAST(CAST(SUM(CAST(
                 list_reduce(list_transform(range(1, 65),
                   i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE),
                   (x, y) -> x + y) AS DECIMAL(18,6))) AS DECIMAL(38,6))
                 AS DOUBLE) AS norm_sum
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        GROUP BY d.lang
        ORDER BY d.lang""")),

    // Right-to-be-forgotten cascade sweep — the governance op behind
    // every deletion request: given a deterministic tombstone predicate
    // (subject key % 97 == 13), account for every affected row across
    // the fact graph INCLUDING the cascade (lineitems die because their
    // parent order died, not because they carry the key). Per table:
    // purged/kept counts and a kept-side checksum, so a sweep that
    // misses a cascade edge or over-deletes is caught by exact numbers.
    // Scale: the direct tables evaluate the predicate in the scan (no
    // join); the cascade is one LEFT SEMI/ANTI join of lineitem against
    // the ~1% purged-order key set — broadcast at any realistic purge
    // rate, and the three audits partial-aggregate independently.
    QueryDef(
      "q243_forget_sweep",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val evA = ev.groupBy()
          .agg(sum(when(col("user_id") % 97 === 13, 1L).otherwise(0L)).as("n_purged"),
            sum(when(col("user_id") % 97 =!= 13, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("user_id") % 97 =!= 13, col("event_id"))).as("kept_checksum"))
          .select(lit("events").as("tbl"), col("n_purged"), col("n_kept"),
            col("kept_checksum"))
        val oA = o.groupBy()
          .agg(sum(when(col("o_custkey") % 97 === 13, 1L).otherwise(0L)).as("n_purged"),
            sum(when(col("o_custkey") % 97 =!= 13, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("o_custkey") % 97 =!= 13, col("o_orderkey"))).as("kept_checksum"))
          .select(lit("orders").as("tbl"), col("n_purged"), col("n_kept"),
            col("kept_checksum"))
        val purgedOrders = o.where(col("o_custkey") % 97 === 13)
          .select(col("o_orderkey"))
        val lPurged = l.join(broadcast(purgedOrders),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy().agg(count(lit(1)).as("n_purged"))
        val lKept = l.join(broadcast(purgedOrders),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .groupBy().agg(count(lit(1)).as("n_kept"),
            sum(col("l_orderkey") * 10 + col("l_linenumber")).as("kept_checksum"))
        val lA = lPurged.crossJoin(lKept)
          .select(lit("lineitem").as("tbl"), col("n_purged"), col("n_kept"),
            col("kept_checksum"))
        evA.unionByName(oA).unionByName(lA).orderBy(col("tbl"))
      },
      Some("""
        WITH ev AS (
          SELECT 'events' AS tbl,
                 CAST(SUM(CASE WHEN user_id % 97 = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
                 CAST(SUM(CASE WHEN user_id % 97 <> 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN user_id % 97 <> 13 THEN event_id END) AS BIGINT) AS kept_checksum
          FROM events),
        o AS (
          SELECT 'orders' AS tbl,
                 CAST(SUM(CASE WHEN o_custkey % 97 = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
                 CAST(SUM(CASE WHEN o_custkey % 97 <> 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN o_custkey % 97 <> 13 THEN o_orderkey END) AS BIGINT) AS kept_checksum
          FROM orders),
        li AS (
          SELECT 'lineitem' AS tbl,
                 CAST(SUM(CASE WHEN oo.o_custkey % 97 = 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
                 CAST(SUM(CASE WHEN oo.o_custkey % 97 <> 13 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN oo.o_custkey % 97 <> 13
                           THEN l.l_orderkey * 10 + l.l_linenumber END) AS BIGINT) AS kept_checksum
          FROM lineitem l JOIN orders oo ON l.l_orderkey = oo.o_orderkey)
        SELECT * FROM ev
        UNION ALL SELECT * FROM o
        UNION ALL SELECT * FROM li
        ORDER BY tbl""")),

    // Inclusion-dependency discovery (Metanome-style IND mining, the
    // profiling step that reverse-engineers foreign keys from data):
    // for each candidate (child column ⊆ parent column) pair, the
    // distinct-value containment fraction and the IND verdict. The
    // candidate list mixes the five true FKs with three decoys a naive
    // range-overlap profiler would flag (customer→orders flips the FK
    // direction — customers without orders break it; part.p_size and
    // order-priority prefixes overlap nations/keys only partially).
    // Scale: each pair is two distinct partial aggs + one left join on
    // the child's DISTINCT values (never the fact rows); the eight
    // pairs union into one 8-row report.
    QueryDef(
      "q285_ind_discovery",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        def pair(label: String, child: DataFrame, childCol: String,
            parent: DataFrame, parentCol: String): DataFrame = {
          val c = child.select(col(childCol).cast("long").as("v"))
            .where(col("v").isNotNull).distinct()
          val p = parent.select(col(parentCol).cast("long").as("v"))
            .where(col("v").isNotNull).distinct()
            .withColumn("hit", lit(1L))
          c.join(p, Seq("v"), "left")
            .agg(count(lit(1)).as("ndv_child"),
              sum(coalesce(col("hit"), lit(0L))).as("n_contained"))
            .select(lit(label).as("candidate"), col("ndv_child"),
              col("n_contained"),
              expr("(n_contained * 1000000) div ndv_child")
                .as("containment_ppm"),
              (col("n_contained") === col("ndv_child")).as("is_ind"))
        }
        val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
        val pt = Tables.part(s, dir); val su = Tables.supplier(s, dir)
        val cu = Tables.customer(s, dir); val na = Tables.nation(s, dir)
        Seq(
          pair("1_lineitem.okey_in_orders", li, "l_orderkey", o, "o_orderkey"),
          pair("2_lineitem.pkey_in_part", li, "l_partkey", pt, "p_partkey"),
          pair("3_lineitem.skey_in_supplier", li, "l_suppkey", su, "s_suppkey"),
          pair("4_orders.ckey_in_customer", o, "o_custkey", cu, "c_custkey"),
          pair("5_customer.nkey_in_nation", cu, "c_nationkey", na, "n_nationkey"),
          pair("6_customer.ckey_in_orders", cu, "c_custkey", o, "o_custkey"),
          pair("7_part.size_in_nation", pt, "p_size", na, "n_nationkey"),
          pair("8_nation.nkey_in_supplier", na, "n_nationkey", su, "s_suppkey"))
          .reduce(_ unionByName _)
          .orderBy(col("candidate"))
      },
      Some("""
        WITH
        p1 AS (SELECT '1_lineitem.okey_in_orders' AS candidate,
                      COUNT(*) AS ndv_child,
                      CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_contained
               FROM (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS v
                     FROM lineitem WHERE l_orderkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS v
                          FROM orders WHERE o_orderkey IS NOT NULL) p
                 ON c.v = p.v),
        p2 AS (SELECT '2_lineitem.pkey_in_part',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS v
                     FROM lineitem WHERE l_partkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS v
                          FROM part WHERE p_partkey IS NOT NULL) p ON c.v = p.v),
        p3 AS (SELECT '3_lineitem.skey_in_supplier',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS v
                     FROM lineitem WHERE l_suppkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS v
                          FROM supplier WHERE s_suppkey IS NOT NULL) p ON c.v = p.v),
        p4 AS (SELECT '4_orders.ckey_in_customer',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS v
                     FROM orders WHERE o_custkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS v
                          FROM customer WHERE c_custkey IS NOT NULL) p ON c.v = p.v),
        p5 AS (SELECT '5_customer.nkey_in_nation',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS v
                     FROM customer WHERE c_nationkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS v
                          FROM nation WHERE n_nationkey IS NOT NULL) p ON c.v = p.v),
        p6 AS (SELECT '6_customer.ckey_in_orders',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS v
                     FROM customer WHERE c_custkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS v
                          FROM orders WHERE o_custkey IS NOT NULL) p ON c.v = p.v),
        p7 AS (SELECT '7_part.size_in_nation',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(p_size AS BIGINT) AS v
                     FROM part WHERE p_size IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS v
                          FROM nation WHERE n_nationkey IS NOT NULL) p ON c.v = p.v),
        p8 AS (SELECT '8_nation.nkey_in_supplier',
                      COUNT(*), CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               FROM (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS v
                     FROM nation WHERE n_nationkey IS NOT NULL) c
               LEFT JOIN (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS v
                          FROM supplier WHERE s_suppkey IS NOT NULL) p ON c.v = p.v),
        u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
              UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
              UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6
              UNION ALL SELECT * FROM p7 UNION ALL SELECT * FROM p8)
        SELECT candidate, CAST(ndv_child AS BIGINT) AS ndv_child,
               n_contained,
               (n_contained * 1000000) // ndv_child AS containment_ppm,
               n_contained = ndv_child AS is_ind
        FROM u
        ORDER BY candidate""")),

    // Functional-dependency discovery (TANE/Metanome-style, the column-
    // DETERMINATION half of profiling; q285's inclusion dependencies are
    // the column-CONTAINMENT half): for each candidate lhs→rhs the g3
    // error — the minimum fraction of rows to delete for the FD to hold
    // exactly, n − Σ_lhs max_rhs cnt(lhs,rhs) — plus the verdict. The
    // candidate list mixes key FDs (nation key→name), FDs the schema
    // doesn't declare (the entity NAME embeds its key — name→key and
    // name→nation hold exactly, what FD mining is for: surfacing
    // redundant/derivable columns), and graded violations (date→status
    // ~47% g3, nation→segment, customer→priority, order→returnflag,
    // brand→type). Scale per candidate: one (lhs,rhs) partial count, one
    // lhs-keyed rollup, one scalar agg — the same map-combine shape at
    // any corpus size; the eight candidates union into an 8-row report.
    QueryDef(
      "q350_fd_discovery",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        def fd(label: String, df: DataFrame, l: org.apache.spark.sql.Column,
            r: org.apache.spark.sql.Column): DataFrame = {
          val g = df.select(l.cast("string").as("l"), r.cast("string").as("r"))
            .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
          g.groupBy(col("l")).agg(sum(col("c")).as("nl"), max(col("c")).as("mx"))
            .agg(sum(col("nl")).as("n_rows"), count(lit(1)).as("n_lhs"),
              sum(col("nl") - col("mx")).as("n_violations"))
            .select(lit(label).as("candidate"), col("n_rows"), col("n_lhs"),
              col("n_violations"),
              expr("(n_violations * 1000000) div n_rows").as("g3_ppm"),
              (col("n_violations") === 0L).as("holds"))
        }
        val na = Tables.nation(s, dir); val pt = Tables.part(s, dir)
        val su = Tables.supplier(s, dir); val cu = Tables.customer(s, dir)
        val o = Tables.orders(s, dir); val li = Tables.lineitem(s, dir)
        Seq(
          fd("1_nation_key_name", na, col("n_nationkey"), col("n_name")),
          fd("2_cust_nameid_key", cu, substring(col("c_name"), 10, 9),
            col("c_custkey")),
          fd("3_supp_name_nation", su, col("s_name"), col("s_nationkey")),
          fd("4_orders_date_status", o, col("o_orderdate"),
            col("o_orderstatus")),
          fd("5_cust_nation_segment", cu, col("c_nationkey"),
            col("c_mktsegment")),
          fd("6_orders_cust_priority", o, col("o_custkey"),
            col("o_orderpriority")),
          fd("7_line_order_retflag", li, col("l_orderkey"),
            col("l_returnflag")),
          fd("8_part_brand_type", pt, col("p_brand"), col("p_type")))
          .reduce(_ unionAll _).orderBy(col("candidate"))
      },
      Some {
        def fdSql(label: String, table: String, l: String, r: String) =
          s"""SELECT '$label' AS candidate,
                 CAST(SUM(nl) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_lhs,
                 CAST(SUM(nl - mx) AS BIGINT) AS n_violations,
                 (CAST(SUM(nl - mx) AS BIGINT) * 1000000)
                   // CAST(SUM(nl) AS BIGINT) AS g3_ppm,
                 CAST(SUM(nl - mx) AS BIGINT) = 0 AS holds
          FROM (SELECT l, SUM(c) AS nl, MAX(c) AS mx
                FROM (SELECT CAST($l AS VARCHAR) AS l,
                             CAST($r AS VARCHAR) AS r, COUNT(*) AS c
                      FROM $table GROUP BY 1, 2)
                GROUP BY 1)"""
        Seq(
          fdSql("1_nation_key_name", "nation", "n_nationkey", "n_name"),
          fdSql("2_cust_nameid_key", "customer", "substring(c_name, 10, 9)",
            "c_custkey"),
          fdSql("3_supp_name_nation", "supplier", "s_name", "s_nationkey"),
          fdSql("4_orders_date_status", "orders", "o_orderdate",
            "o_orderstatus"),
          fdSql("5_cust_nation_segment", "customer", "c_nationkey",
            "c_mktsegment"),
          fdSql("6_orders_cust_priority", "orders", "o_custkey",
            "o_orderpriority"),
          fdSql("7_line_order_retflag", "lineitem", "l_orderkey",
            "l_returnflag"),
          fdSql("8_part_brand_type", "part", "p_brand", "p_type"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
      }),

    // German-tank / maximum-spacing population estimate — infer a
    // table's key-space extent from a SAMPLE of its keys (the serial-
    // number estimator): N̂ = m + m div k − 1 from the sample maximum m
    // and sample size k, the MVUE for a dense key space. The profiling
    // use: a scan-free cardinality estimate of a partner's table (or a
    // partition you only sampled) from nothing but sampled ids — the
    // estimator a stats-collection pass can run on the 1% sample it
    // already drew. Deterministic md5 10% sample; the gate audits the
    // estimate against the TRUE max key and row count (ratio within
    // ±1% — measured 999332/1000200/1000026 ppm across the shipped sf)
    // and emits the k-driven expected relative error 10⁶ div k for
    // calibration. Scale: one sampled aggregate + one exact aggregate,
    // both map-side partials; nothing else.
    QueryDef(
      "q379_german_tank",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
        val samp = o.where(md5BitsModK(md5Bits(concat(lit("gt:"), col("k"))),
            10L) === 0L)
          .agg(max(col("k")).as("m"), count(lit(1)).as("kk"))
        val tr = o.agg(max(col("k")).as("true_max"),
          count(lit(1)).as("n_rows"))
        samp.crossJoin(broadcast(tr))
          .withColumn("nhat", expr("m + m div kk - 1"))
          .withColumn("ratio_ppm", expr("(nhat * 1000000) div true_max"))
          .select(col("m").as("sample_max"), col("kk").as("sample_n"),
            col("true_max"), col("n_rows"), col("nhat"), col("ratio_ppm"),
            col("ratio_ppm").between(990000L, 1010000L).as("within_1pct"),
            expr("1000000 div kk").as("expected_rel_err_ppm"))
      },
      Some("""
        WITH s AS (
          SELECT o_orderkey AS k FROM orders
          WHERE CAST(md5_number_lower('gt:' || o_orderkey) % 10 AS BIGINT)
                = 0),
        ag AS (SELECT CAST(MAX(k) AS BIGINT) AS m,
                      CAST(COUNT(*) AS BIGINT) AS kk FROM s),
        tr AS (SELECT CAST(MAX(o_orderkey) AS BIGINT) AS true_max,
                      CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
        SELECT ag.m AS sample_max, ag.kk AS sample_n, tr.true_max,
               tr.n_rows, ag.m + ag.m // ag.kk - 1 AS nhat,
               ((ag.m + ag.m // ag.kk - 1) * 1000000) // tr.true_max
                 AS ratio_ppm,
               ((ag.m + ag.m // ag.kk - 1) * 1000000) // tr.true_max
                 BETWEEN 990000 AND 1010000 AS within_1pct,
               1000000 // ag.kk AS expected_rel_err_ppm
        FROM ag CROSS JOIN tr"""))
  )
}

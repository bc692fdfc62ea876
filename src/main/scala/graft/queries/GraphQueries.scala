package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.plans.CheckpointPolicy.DataFrameCutOps

/** Round-4 batch 8 — graph + sequence analytics:
  *
  *  - q108: PageRank over the supplier↔part co-occurrence graph in EXACT
  *    integer arithmetic (micro-unit ranks, floor division), so a fixed
  *    iteration count is bit-reproducible on any engine — the same
  *    determinism stance as the connected-components family (q48/q93).
  *  - q111: first-order Markov transition matrix over per-user event
  *    sequences (the "what happens after a click" behavioral primitive).
  */
object GraphQueries {

  /** One integer-PageRank round: rank/outdeg contributions (floor div)
    * summed over in-edges, damped 0.85 in integer arithmetic:
    * r' = 150000 + (85·Σcontrib) div 100, with ranks in micro-units
    * (1.0 ≡ 1,000,000). Edges/deg shuffle once on the node key; each
    * round is one join + one partial agg — the Pregel superstep shape. */
  private def prRound(ranks: DataFrame, edges: DataFrame, deg: DataFrame): DataFrame =
    ranks.join(deg, "node")
      .selectExpr("node", "r div d AS contrib") // integer div — `/` on longs is double division
      .join(edges, col("node") === col("src"))
      .groupBy(col("dst").as("node2"))
      .agg(sum(col("contrib")).as("csum"))
      .selectExpr("node2 AS node", "CAST(150000 + (85 * csum) div 100 AS BIGINT) AS r")

  val defs: Seq[QueryDef] = Seq(

    // PageRank, 3 fixed rounds, over the bipartite supplier↔part graph
    // (distinct lineitem pairs, symmetrized). Every value stays a BIGINT:
    // floor division for the out-contribution and the damping product, so
    // Spark and DuckDB agree exactly (doubles would drift in summation
    // order). Part nodes are offset by 10^7 to keep the id spaces
    // disjoint at any scale factor. 100 TB story: each round is a
    // co-partitioned join on the node key + one partial agg — the
    // standard Pregel superstep; round count is fixed, plan growth
    // linear, no driver-side state.
    QueryDef(
      "q108_pagerank",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
        // edges feeds every superstep and deg every contribution — without
        // materialization the distinct-pair scan re-executes once per
        // reference (~7× through the 3-round lineage). localCheckpoint is
        // the pin-neutral form (q48/q167 precedent).
        val edges = pairs.select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"), col("sk").as("dst")))
          .cutLineage()
        val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
          .cutLineage()
        val r0 = deg.select(col("node"), lit(1000000L).as("r"))
        val r3 = (1 to 3).foldLeft(r0)((r, _) => prRound(r, edges, deg))
        r3.select(
            when(col("node") < 10000000L, "supplier").otherwise("part").as("node_type"),
            when(col("node") < 10000000L, col("node"))
              .otherwise(col("node") - 10000000L).as("entity_id"),
            col("r").as("rank_micros"))
          .orderBy(col("rank_micros").desc, col("node_type"), col("entity_id"))
          .limit(20)
      },
      Some("""
        WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        e AS (
          SELECT sk AS src, 10000000 + pk AS dst FROM pairs
          UNION ALL
          SELECT 10000000 + pk AS src, sk AS dst FROM pairs),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
        c1 AS (SELECT node, r // d AS contrib FROM r0 JOIN deg USING (node)),
        r1 AS (SELECT e.dst AS node,
                      CAST(150000 + (85 * CAST(SUM(c.contrib) AS BIGINT)) // 100 AS BIGINT) AS r
               FROM e JOIN c1 c ON e.src = c.node GROUP BY 1),
        c2 AS (SELECT node, r // d AS contrib FROM r1 JOIN deg USING (node)),
        r2 AS (SELECT e.dst AS node,
                      CAST(150000 + (85 * CAST(SUM(c.contrib) AS BIGINT)) // 100 AS BIGINT) AS r
               FROM e JOIN c2 c ON e.src = c.node GROUP BY 1),
        c3 AS (SELECT node, r // d AS contrib FROM r2 JOIN deg USING (node)),
        r3 AS (SELECT e.dst AS node,
                      CAST(150000 + (85 * CAST(SUM(c.contrib) AS BIGINT)) // 100 AS BIGINT) AS r
               FROM e JOIN c3 c ON e.src = c.node GROUP BY 1)
        SELECT CASE WHEN node < 10000000 THEN 'supplier' ELSE 'part' END AS node_type,
               CASE WHEN node < 10000000 THEN node ELSE node - 10000000 END AS entity_id,
               r AS rank_micros
        FROM r3
        ORDER BY rank_micros DESC, node_type, entity_id
        LIMIT 20""")),

    // First-order Markov transition matrix: per-user event sequences
    // (ordered by ts with event_id tiebreak — the corpus has no
    // guaranteed unique timestamps), lead() to the next event, count
    // every (from → to) cell plus per-from totals. One exchange on
    // user_id (window), then a tiny 25-cell rollup. Sequence-end rows
    // (lead = null) are dropped — they have no transition.
    QueryDef(
      "q111_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val nxt = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .where(col("next_type").isNotNull)
        nxt.groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n_transitions"))
          .withColumn("from_total",
            sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
          FROM events),
        cells AS (
          SELECT event_type AS from_type, next_type AS to_type,
                 COUNT(*) AS n_transitions
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY 1, 2)
        SELECT from_type, to_type, n_transitions,
               CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS from_total
        FROM cells
        ORDER BY from_type, to_type""")),

    // Exact triangle counting with DEGREE-ORDERED orientation — the
    // trick that makes distributed triangle enumeration tractable: each
    // undirected edge is directed from its lower-(degree, id) endpoint,
    // so every wedge is generated at its lowest-degree corner and the
    // wedge count is O(E^1.5) instead of Sum(deg^2) on hot nodes (hub
    // vertices RECEIVE edges, never fan out). Graph = co-occurrence of
    // a deterministic 1-in-10 part sample inside orders (pair fan-out
    // bounded by order width like q102). Two equi-joins: wedge build,
    // closure probe. Gate pins edge/wedge/triangle counts and a corner
    // checksum.
    QueryDef(
      "q162_triangle_count",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .where(col("l_partkey") % 10 === 0)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
          .distinct()
        val e = li.select(col("k"), col("p").as("a"))
          .join(li.select(col("k"), col("p").as("b")), Seq("k"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b")).distinct()
        val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
        val dir2 = e
          .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
          .select(
            when(col("da") < col("db") ||
                 (col("da") === col("db") && col("a") < col("b")),
              struct(col("a").as("u"), col("b").as("v")))
              .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("uv"))
          .select(col("uv.u").as("u"), col("uv.v").as("v"))
        val wedges = dir2.select(col("u"), col("v").as("w1"))
          .join(dir2.select(col("u"), col("v").as("w2")), Seq("u"))
          .where(col("w1") < col("w2"))
        val tris = wedges.join(
          e.select(col("a").as("w1"), col("b").as("w2")), Seq("w1", "w2"))
        val nE = e.count()
        val nW = wedges.count()
        tris.agg(count(lit(1)).as("n_triangles"),
            sum(col("u") + col("w1") + col("w2")).as("corner_checksum"))
          .select(lit(nE).as("n_edges"), lit(nW).as("n_wedges"),
            col("n_triangles"),
            coalesce(col("corner_checksum"), lit(0L)).as("corner_checksum"))
          .orderBy(col("n_edges"))
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l_orderkey AS k, l_partkey AS p
          FROM lineitem WHERE l_partkey % 10 = 0),
        e AS (
          SELECT DISTINCT x.p AS a, y.p AS b
          FROM li x JOIN li y ON x.k = y.k AND x.p < y.p),
        deg AS (
          SELECT n, COUNT(*) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
          GROUP BY 1),
        dir2 AS (
          SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.a ELSE e.b END AS u,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.b ELSE e.a END AS v
          FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        wedges AS (
          SELECT x.u, x.v AS w1, y.v AS w2
          FROM dir2 x JOIN dir2 y ON x.u = y.u AND x.v < y.v),
        tris AS (
          SELECT w.u, w.w1, w.w2
          FROM wedges w JOIN e ON e.a = w.w1 AND e.b = w.w2)
        SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
               CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
               CAST(COUNT(*) AS BIGINT) AS n_triangles,
               CAST(COALESCE(SUM(u + w1 + w2), 0) AS BIGINT) AS corner_checksum
        FROM tris
        ORDER BY n_edges""")),

    // k-core decomposition (k=30) of the supplier↔part co-occurrence
    // graph — the dense-subgraph extraction behind community mining and
    // spam/anomaly heuristics, and the iterative-peeling pattern CC
    // (q48) and PageRank (q108) don't cover: the fixpoint is reached by
    // REMOVING nodes, so each round's induced-degree recount must see
    // the shrunken set. Graphs.kCore runs the peeling loop with
    // constant-size localCheckpointed plans (the CC loop discipline);
    // the oracle unrolls the peel to its sf0.01 fixpoint (full-degree
    // filter + two induced rounds — hash equality IS the convergence
    // proof: one round short and the node sets differ). All counts stay
    // integers; scale is rounds × (two semi-joins + one partial agg) on
    // the edge key.
    QueryDef(
      "q213_kcore",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
        val edges = pairs.select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"), col("sk").as("dst")))
        graft.operators.Graphs.kCore(edges, 30)
          .select(col("node"), col("deg"))
          .orderBy(col("node"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        d0 AS (
          SELECT src AS node FROM edges
          GROUP BY 1 HAVING COUNT(*) >= 30),
        r1 AS (
          SELECT e.src AS node FROM edges e
          JOIN d0 a ON a.node = e.src
          JOIN d0 b ON b.node = e.dst
          GROUP BY 1 HAVING COUNT(*) >= 30),
        r2 AS (
          SELECT e.src AS node, COUNT(*) AS deg FROM edges e
          JOIN r1 a ON a.node = e.src
          JOIN r1 b ON b.node = e.dst
          GROUP BY 1 HAVING COUNT(*) >= 30)
        SELECT node, CAST(deg AS BIGINT) AS deg
        FROM r2
        ORDER BY node""")),

    // Multi-source BFS hop histogram on the supplier↔part co-occurrence
    // graph from suppliers 1-3 — unweighted shortest-path labeling, the
    // reachability primitive CC (q48) and PageRank (q108) both assume
    // but neither exposes. Graphs.bfsHops expands a frontier with an
    // anti-join against the visited set (each node labeled at its
    // MINIMAL hop, never re-expanded — O(E) total across rounds);
    // the oracle unrolls 3 frontier expansions, which the dense
    // bipartite graph saturates (hash equality proves the fixpoint:
    // one round short and the hop histogram differs). Output is the
    // hop-distance histogram with an id checksum per hop.
    QueryDef(
      "q222_bfs_hops",
      (s, dir) => {
        val s_ = s
        val pairs = Tables.lineitem(s_, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
        val edges = pairs.select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"), col("sk").as("dst")))
        val sources = pairs.select(col("sk").as("node")).where(col("node") <= 3)
        graft.operators.Graphs.bfsHops(edges, sources, 3)
          .groupBy(col("hop"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_checksum"))
          .orderBy(col("hop"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        d0 AS (
          SELECT DISTINCT sk AS node FROM pairs WHERE sk <= 3),
        f1 AS (
          SELECT DISTINCT e.dst AS node FROM edges e
          JOIN d0 ON d0.node = e.src
          WHERE e.dst NOT IN (SELECT node FROM d0)),
        f2 AS (
          SELECT DISTINCT e.dst AS node FROM edges e
          JOIN f1 ON f1.node = e.src
          WHERE e.dst NOT IN (SELECT node FROM d0)
            AND e.dst NOT IN (SELECT node FROM f1)),
        f3 AS (
          SELECT DISTINCT e.dst AS node FROM edges e
          JOIN f2 ON f2.node = e.src
          WHERE e.dst NOT IN (SELECT node FROM d0)
            AND e.dst NOT IN (SELECT node FROM f1)
            AND e.dst NOT IN (SELECT node FROM f2)),
        labeled AS (
          SELECT node, 0 AS hop FROM d0
          UNION ALL SELECT node, 1 FROM f1
          UNION ALL SELECT node, 2 FROM f2
          UNION ALL SELECT node, 3 FROM f3)
        SELECT CAST(hop AS BIGINT) AS hop,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(node) AS BIGINT) AS node_checksum
        FROM labeled
        GROUP BY 1
        ORDER BY hop""")),

    // Label-propagation communities (3 synchronous rounds) on the
    // supplier↔part graph — the community-DETECTION member of the graph
    // family (CC q48 finds connectivity, k-core q213 density, LPA finds
    // modular clusters without a modularity objective). Determinism:
    // most-frequent-neighbor-label with min-label ties, synchronized
    // rounds — the oracle unrolls the identical three supersteps, so
    // the gate pins round count AND tie policy (one wrong argmax and
    // the cluster checksums diverge). Output is the community size
    // distribution with per-community checksums.
    QueryDef(
      "q233_label_propagation",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
        val edges = pairs.select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"), col("sk").as("dst")))
        graft.operators.Graphs.labelPropagation(edges, 3)
          .groupBy(col("lbl"))
          .agg(count(lit(1)).as("cluster_size"), min(col("node")).as("min_node"),
            sum(col("node")).as("node_checksum"))
          .orderBy(col("lbl"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        c1 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        l1 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c1) WHERE rn = 1),
        c2 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        l2 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c2) WHERE rn = 1),
        c3 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        l3 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c3) WHERE rn = 1)
        SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(MIN(node) AS BIGINT) AS min_node,
               CAST(SUM(node) AS BIGINT) AS node_checksum
        FROM l3
        GROUP BY 1
        ORDER BY lbl""")),

    // HITS hubs-and-authorities over the bipartite customer→part purchase
    // graph — the OTHER eigenvector centrality next to q108's PageRank
    // (PageRank ranks within one node set; HITS co-ranks two roles:
    // customers as hubs, parts as authorities). Two unrolled synchronized
    // rounds in EXACT integer arithmetic: hub⁰ = 10⁶ per customer,
    // auth = Σ hub over in-edges, hub = Σ auth, each normalized to a
    // 10¹²-scaled share by a positive integral divide (floor == trunc) —
    // a fixed round count is bit-reproducible on any engine, the
    // q108/q48/q93 determinism stance. Scale: the edge list is touched
    // once per half-round through partial-aggregable sums; score frames
    // are |parts| and |customers| (1-2 orders below the fact), joined
    // back to edges — auto-broadcast at test scale, co-partitioned
    // shuffle joins at 100 TB. The edge frame is localCheckpoint'd once
    // (consumed 3×; pin-neutral). Top-15 authorities ride the
    // (score desc, key) total order.
    QueryDef(
      "q237_hits",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
        val l = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"))
        val edges = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
          .cutLineage()
        val auth1 = edges.groupBy(col("p"))
          .agg((count(lit(1)) * 1000000L).as("a1"))
        val s1 = auth1.groupBy().agg(sum(col("a1")).as("sa1"))
        val authn1 = auth1.crossJoin(broadcast(s1))
          .select(col("p"),
            expr("CAST((CAST(a1 AS DECIMAL(38,0)) * 1000000000000) div sa1 AS BIGINT)")
              .as("an1"))
        val hub1 = edges.join(authn1, "p")
          .groupBy(col("c")).agg(sum(col("an1")).as("h1"))
        val s2 = hub1.groupBy().agg(sum(col("h1")).as("sh1"))
        val hubn1 = hub1.crossJoin(broadcast(s2))
          .select(col("c"),
            expr("CAST((CAST(h1 AS DECIMAL(38,0)) * 1000000000000) div sh1 AS BIGINT)")
              .as("hn1"))
        val auth2 = edges.join(hubn1, "c")
          .groupBy(col("p")).agg(sum(col("hn1")).as("a2"))
        val s3 = auth2.groupBy().agg(sum(col("a2")).as("sa2"))
        val authn2 = auth2.crossJoin(broadcast(s3))
          .select(col("p"),
            expr("CAST((CAST(a2 AS DECIMAL(38,0)) * 1000000000000) div sa2 AS BIGINT)")
              .as("auth_score"))
        authn2.orderBy(col("auth_score").desc, col("p")).limit(15)
          .select(col("p").as("part_key"), col("auth_score"))
          .orderBy(col("auth_score").desc, col("part_key"))
      },
      Some("""
        WITH edges AS (
          SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        a1 AS (
          SELECT p, CAST(COUNT(*) AS BIGINT) * 1000000 AS a1
          FROM edges GROUP BY p),
        s1 AS (SELECT CAST(SUM(a1) AS HUGEINT) AS sa1 FROM a1),
        an1 AS (
          SELECT p, CAST((CAST(a1 AS HUGEINT) * 1000000000000) // sa1 AS BIGINT) AS an1
          FROM a1, s1),
        h1 AS (
          SELECT e.c, CAST(SUM(an1) AS BIGINT) AS h1
          FROM edges e JOIN an1 USING (p) GROUP BY e.c),
        s2 AS (SELECT CAST(SUM(h1) AS HUGEINT) AS sh1 FROM h1),
        hn1 AS (
          SELECT c, CAST((CAST(h1 AS HUGEINT) * 1000000000000) // sh1 AS BIGINT) AS hn1
          FROM h1, s2),
        a2 AS (
          SELECT e.p, CAST(SUM(hn1) AS BIGINT) AS a2
          FROM edges e JOIN hn1 USING (c) GROUP BY e.p),
        s3 AS (SELECT CAST(SUM(a2) AS HUGEINT) AS sa2 FROM a2),
        an2 AS (
          SELECT p, CAST((CAST(a2 AS HUGEINT) * 1000000000000) // sa2 AS BIGINT) AS auth_score
          FROM a2, s3)
        SELECT p AS part_key, auth_score
        FROM an2
        ORDER BY auth_score DESC, part_key
        LIMIT 15""")),

    // Common-neighbor link prediction — recommend part pairs that SHARE
    // customers but have never appeared together in one order (the
    // complement of q102's co-purchase support: q102 ranks existing
    // links, this ranks ABSENT ones — the bipartite-projection
    // recommender primitive). Candidates are BLOCKED within brand (the
    // standard recommender constraint — and the wedge-cost governor:
    // unblocked, Σ(deg over all parts)² measured 142M pair rows and a
    // GC storm at sf1; within-brand wedges are Σ over (customer, brand)
    // of deg², ~25× smaller, and stay proportional as brands scale with
    // the catalog). Scored by distinct common customers; the
    // already-linked set is removed with one LEFT ANTI join against the
    // order-level pair set. Top-20 on the (score desc, pair) total
    // order. Scale: both pair sets partial-aggregate; the anti-join is
    // equi-hash on the pair key. The (c, brand, p) frame is deliberately
    // NOT lineage-cut before its self-join: the two sides canonicalize
    // identically, so exchange/stage reuse computes the distinct once,
    // while an eager checkpoint here executed the subtree at
    // plan-construction time on every invocation and measured ~25%
    // slower warm (3-rep single-query medians 3.5 s vs 2.7 s at sf0.1).
    QueryDef(
      "q254_link_prediction",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
        val l = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"))
        val brand = Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand").as("brand"))
        val cp = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
          .select(col("o_custkey").as("c"), col("brand"),
            col("l_partkey").as("p"))
          .distinct()
        val custPairs = cp.select(col("c"), col("brand"), col("p").as("pa"))
          .join(cp.select(col("c"), col("brand"), col("p").as("pb")),
            Seq("c", "brand"))
          .where(col("pa") < col("pb"))
          .groupBy(col("pa"), col("pb"))
          .agg(count(lit(1)).as("common_customers"))
        // linked pairs need only the same-brand subset: cross-brand order
        // pairs can never match a (within-brand) candidate, so blocking
        // here too is value-neutral and cuts the distinct ~10×
        val op = l.join(broadcast(brand), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("brand"), col("l_partkey"))
          .distinct()
        val linked = op.select(col("ok"), col("brand"), col("l_partkey").as("pa"))
          .join(op.select(col("ok"), col("brand"), col("l_partkey").as("pb")),
            Seq("ok", "brand"))
          .where(col("pa") < col("pb"))
          .select(col("pa"), col("pb")).distinct()
        custPairs.join(linked, Seq("pa", "pb"), "left_anti")
          .orderBy(col("common_customers").desc, col("pa"), col("pb"))
          .limit(20)
          .select(col("pa").as("part_a"), col("pb").as("part_b"),
            col("common_customers"))
          .orderBy(col("common_customers").desc, col("part_a"), col("part_b"))
      },
      Some("""
        WITH cp AS (
          SELECT DISTINCT o.o_custkey AS c, p.p_brand AS brand,
                 l.l_partkey AS p
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN part p ON l.l_partkey = p.p_partkey),
        cust_pairs AS (
          SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS common_customers
          FROM cp a JOIN cp b
            ON a.c = b.c AND a.brand = b.brand AND a.p < b.p
          GROUP BY 1, 2),
        op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        linked AS (
          SELECT DISTINCT a.p AS pa, b.p AS pb
          FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p)
        SELECT cp2.pa AS part_a, cp2.pb AS part_b, cp2.common_customers
        FROM cust_pairs cp2
        WHERE NOT EXISTS (
          SELECT 1 FROM linked lk
          WHERE lk.pa = cp2.pa AND lk.pb = cp2.pb)
        ORDER BY cp2.common_customers DESC, part_a, part_b
        LIMIT 20""")),

    // Subtree rollup over the q155 org hierarchy (parent = key div 10)
    // WITHOUT recursion: in a decimal prefix tree, x's depth-k
    // descendants are exactly the keys with y div 10^k = x, so
    // subtree_sum(x) = Σ_k S_k(x) where each S_k is one partial-
    // aggregable groupBy on a projected key — eight map-side combinable
    // aggregates replace the per-node tree walk (which is O(n·depth)
    // joins in the recursive form and needs no such closed form on a
    // general tree; the closed form IS the point: hierarchy rollups
    // over materialized path/prefix encodings beat recursion at scale).
    // Levels run to 10^7, covering custkeys < 10^8 (sf ≲ 600) — BOTH
    // sides share the depth, so the gate stays exact; deeper corpora
    // extend the range the same way on both sides. Balances ride exact
    // cents. Emitted for the management layers (nodes < 100, depth ≤ 1)
    // with self+descendant counts.
    QueryDef(
      "q255_subtree_rollup",
      (s, dir) => {
        val c = Tables.customer(s, dir).select(col("c_custkey").as("k"),
          (col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * 100).cast("long").as("cents"))
        val levels = (0 to 7).map { kk =>
          val p = math.pow(10, kk).toLong
          c.select(expr(s"k div $p").as("node"),
            col("cents"), lit(1L).as("cnt"))
        }.reduce(_ unionByName _)
        levels.groupBy(col("node"))
          .agg(sum(col("cnt")).as("n_subtree"), sum(col("cents")).as("subtree_cents"))
          .join(c.select(col("k").as("node")), Seq("node"), "left_semi")
          .where(col("node") < 100)
          .orderBy(col("node"))
      },
      Some("""
        WITH c AS (
          SELECT c_custkey AS k,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT) AS cents
          FROM customer),
        levels AS (
          SELECT k // 1 AS node, cents FROM c
          UNION ALL SELECT k // 10, cents FROM c
          UNION ALL SELECT k // 100, cents FROM c
          UNION ALL SELECT k // 1000, cents FROM c
          UNION ALL SELECT k // 10000, cents FROM c
          UNION ALL SELECT k // 100000, cents FROM c
          UNION ALL SELECT k // 1000000, cents FROM c
          UNION ALL SELECT k // 10000000, cents FROM c),
        agg AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS n_subtree,
                 CAST(SUM(cents) AS BIGINT) AS subtree_cents
          FROM levels GROUP BY node)
        SELECT a.node, a.n_subtree, a.subtree_cents
        FROM agg a
        WHERE a.node < 100
          AND EXISTS (SELECT 1 FROM c WHERE c.k = a.node)
        ORDER BY a.node""")),

    // Local clustering coefficient per node — the per-node companion of
    // q162's global triangle count (same degree-ordered wedge
    // enumeration, same co-purchase projection): cc(v) = 2·tri(v) /
    // (deg(v)·(deg(v)−1)) as an exact ppm integral divide. Triangles
    // attribute to all three corners by unioning the corner columns —
    // one extra partial agg over the q162 triangle frame; zero new
    // exchanges beyond it. Nodes of degree < 2 emit 0.
    QueryDef(
      "q256_clustering_coefficient",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .where(col("l_partkey") % 10 === 0)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
          .distinct()
        val e = li.select(col("k"), col("p").as("a"))
          .join(li.select(col("k"), col("p").as("b")), Seq("k"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b")).distinct()
          .cutLineage()
        val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
        val dir2 = e
          .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
          .select(
            when(col("da") < col("db") ||
                 (col("da") === col("db") && col("a") < col("b")),
              struct(col("a").as("u"), col("b").as("v")))
              .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("uv"))
          .select(col("uv.u").as("u"), col("uv.v").as("v"))
        val wedges = dir2.select(col("u"), col("v").as("w1"))
          .join(dir2.select(col("u"), col("v").as("w2")), Seq("u"))
          .where(col("w1") < col("w2"))
        val tris = wedges.join(
          e.select(col("a").as("w1"), col("b").as("w2")), Seq("w1", "w2"))
        val triPerNode = tris.select(col("u").as("n"))
          .unionAll(tris.select(col("w1").as("n")))
          .unionAll(tris.select(col("w2").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("tri"))
        deg.join(triPerNode, Seq("n"), "left")
          .select(col("n").as("node"), col("d").as("degree"),
            coalesce(col("tri"), lit(0L)).as("n_triangles"),
            when(col("d") >= 2,
              expr("(1000000 * 2 * coalesce(tri, 0)) div (d * (d - 1))"))
              .otherwise(0L).as("cc_ppm"))
          .orderBy(col("node"))
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l_orderkey AS k, l_partkey AS p
          FROM lineitem WHERE l_partkey % 10 = 0),
        e AS (
          SELECT DISTINCT a.p AS a, b.p AS b
          FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
        deg AS (
          SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b FROM e)
          GROUP BY n),
        dir2 AS (
          SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.a ELSE e.b END AS u,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.b ELSE e.a END AS v
          FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        wedges AS (
          SELECT x.u, x.v AS w1, y.v AS w2
          FROM dir2 x JOIN dir2 y ON x.u = y.u AND x.v < y.v),
        tris AS (
          SELECT w.u, w.w1, w.w2
          FROM wedges w JOIN e ON e.a = w.w1 AND e.b = w.w2),
        tpn AS (
          SELECT n, CAST(COUNT(*) AS BIGINT) AS tri FROM (
            SELECT u AS n FROM tris
            UNION ALL SELECT w1 FROM tris
            UNION ALL SELECT w2 FROM tris)
          GROUP BY n)
        SELECT d.n AS node, d.d AS degree,
               CAST(COALESCE(t.tri, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.d >= 2
                    THEN (1000000 * 2 * COALESCE(t.tri, 0)) // (d.d * (d.d - 1))
                    ELSE 0 END AS cc_ppm
        FROM deg d LEFT JOIN tpn t ON t.n = d.n
        ORDER BY node""")),

    // Bounded-hop weighted shortest path (distributed Bellman-Ford, 6
    // synchronized relax rounds) — the weighted companion to q222's BFS
    // hops. Graph: a lattice over the customer key space (k → k+1 and
    // k → k+10 with deterministic integer weights), so every node has
    // many alternative paths and the relaxation actually has to choose.
    // The trick that keeps BOTH engines to one self-join per round:
    // 0-weight SELF-LOOPS on every node make "carry the old distance"
    // and "relax an edge" the same join (a recursive CTE may reference
    // its working table once — the self-loop folds the union away; the
    // Spark loop uses the identical edge set, q108's fixed-round
    // integer stance). Output: per key-century bucket, reached count /
    // min / max / checksum of 6-hop-bounded distances from node 1.
    // Multi-source (seeds = keys ≡ 1 mod 1000) makes it the
    // nearest-hub distance every facility-location analysis starts
    // from. Scale: rounds are equi-joins on src; the frontier is the
    // dist map (|nodes|); weights and distances are exact integers.
    QueryDef(
      "q286_bounded_sssp",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        val keys = Tables.customer(s, dir).select(col("c_custkey").as("k"))
        val nodes = keys.select(col("k").as("node")).cutLineage()
        val dstSet = nodes.select(col("node").as("dst"))
        def edge(off: Long, a: Long, m: Long): DataFrame =
          nodes.select(col("node").as("src"), (col("node") + off).as("dst"),
              ((col("node") * a) % m + 1L).as("w"))
            .join(dstSet, Seq("dst"), "left_semi")
        val edges = edge(1L, 7L, 13L)
          .unionByName(edge(10L, 11L, 17L))
          .unionByName(nodes.select(col("node").as("src"),
            col("node").as("dst"), lit(0L).as("w")))
          .cutLineage()
        var dist = nodes.where(col("node") % 1000 === 1)
          .select(col("node"), lit(0L).as("d"))
        (1 to 6).foreach { _ =>
          dist = dist.join(edges, col("node") === col("src"))
            .groupBy(col("dst"))
            .agg(min(col("d") + col("w")).as("d"))
            .select(col("dst").as("node"), col("d"))
        }
        dist.groupBy(expr("node div 100").as("bucket"))
          .agg(count(lit(1)).as("n_reached"), min(col("d")).as("min_d"),
            max(col("d")).as("max_d"), sum(col("d")).as("d_checksum"))
          .orderBy(col("bucket"))
      },
      Some("""
        WITH RECURSIVE nodes AS (SELECT c_custkey AS node FROM customer),
        edges AS (
          SELECT n.node AS src, n.node + 1 AS dst, (n.node * 7) % 13 + 1 AS w
          FROM nodes n WHERE EXISTS (
            SELECT 1 FROM nodes m WHERE m.node = n.node + 1)
          UNION ALL
          SELECT n.node, n.node + 10, (n.node * 11) % 17 + 1
          FROM nodes n WHERE EXISTS (
            SELECT 1 FROM nodes m WHERE m.node = n.node + 10)
          UNION ALL
          SELECT node, node, 0 FROM nodes),
        walk(it, node, d) AS (
          SELECT 0, CAST(node AS BIGINT), CAST(0 AS BIGINT)
          FROM nodes WHERE node % 1000 = 1
          UNION ALL
          SELECT w.it + 1, e.dst, CAST(MIN(w.d + e.w) AS BIGINT)
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.it < 6
          GROUP BY 1, 2)
        SELECT node // 100 AS bucket,
               COUNT(*) AS n_reached,
               CAST(MIN(d) AS BIGINT) AS min_d,
               CAST(MAX(d) AS BIGINT) AS max_d,
               CAST(SUM(d) AS BIGINT) AS d_checksum
        FROM walk WHERE it = 6
        GROUP BY 1
        ORDER BY bucket""")),

    // Newman modularity of the label-propagation communities — the
    // QUALITY metric that closes the community loop (q233 finds the
    // partition; this scores it): Q = Σ_c [e_c/2m − (d_c/2m)²] over the
    // same supplier↔part bipartite graph and the same 3-round LPA
    // labels q233 gates (cluster checksums there prove the partitions
    // match engine-for-engine). On the directed edge list (both
    // directions present) 2m = |E⃗|, e_c counts intra-community directed
    // edges, d_c sums member degrees — so Q is the exact ppm lattice
    // Σ_c [(e_c·10⁶) div 2m − (d_c²·10⁶) div (2m)²], every division on
    // positive operands, products riding DECIMAL(38,0), NO floats. The
    // per-community term is signed only through its final subtraction.
    // Scale: LPA is the q233 iterative machinery (partial-aggregable
    // argmax rounds); scoring adds two label joins + one aggregate over
    // communities — all shuffles on node/label keys.
    QueryDef(
      "q309_modularity",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
        val edges = pairs
          .select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"),
            col("sk").as("dst")))
        // labels feed BOTH endpoint joins — branching consumption, so
        // the sanctioned lineage cut runs the LPA rounds once.
        val lab = graft.operators.Graphs.labelPropagation(edges, 3)
          .cutLineage()
        // Score on the UNDIRECTED pair frame (half the rows of the
        // directed list the LPA consumes): each pair contributes 1 to
        // the degree of both endpoint communities and 2 directed intra
        // edges when the labels agree — identical exact integers to the
        // directed formulation, at half the join mass.
        val p2 = pairs.withColumn("pkx", col("pk") + 10000000L)
          .join(lab.select(col("node").as("sk"), col("lbl").as("lu")),
            Seq("sk"))
          .join(lab.select(col("node").as("pkx"), col("lbl").as("lv")),
            Seq("pkx"))
          .select(col("lu"), col("lv"))
        // ONE pass: each pair explodes into its two endpoint-community
        // contributions (degree on both sides, intra tallied on the lu
        // side only, then doubled) — no second consumption of the
        // joined frame, no union of its subtree.
        val comm = p2
          .select(explode(array(
            struct(col("lu").as("c"),
              when(col("lu") === col("lv"), 1L).otherwise(0L).as("ip")),
            struct(col("lv").as("c"), lit(0L).as("ip")))).as("e"))
          .select(col("e.c").as("c"), col("e.ip").as("ip"))
          .groupBy(col("c"))
          .agg(count(lit(1)).as("deg"), sum(col("ip")).as("ip1"))
          .select(col("c"), col("deg"), (col("ip1") * 2).as("intra"))
        // 2m = Σ_c d_c, so the edge total comes from the tiny community
        // frame — the big pair×label join is consumed exactly ONCE.
        val m2f = comm.agg(sum(col("deg")).as("m2"))
        comm.crossJoin(broadcast(m2f))
          .select(col("intra"), col("m2"),
            (expr("(cast(intra as decimal(38,0)) * 1000000) div m2")
              - expr("""(cast(deg as decimal(38,0)) * deg * 1000000)
                        div (cast(m2 as decimal(38,0)) * m2)"""))
              .as("term"))
          .agg(count(lit(1)).as("n_communities"),
            max(col("m2")).as("m2_directed"),
            sum(col("intra")).as("intra_directed"),
            sum(col("term")).as("q_ppm"))
          .orderBy(col("n_communities"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        c1 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        l1 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c1) WHERE rn = 1),
        c2 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        l2 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c2) WHERE rn = 1),
        c3 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        l3 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c3) WHERE rn = 1),
        e2 AS (
          SELECT ls.lbl AS sl, ld.lbl AS dl
          FROM edges e
          JOIN l3 ls ON ls.node = e.src
          JOIN l3 ld ON ld.node = e.dst),
        comm AS (
          SELECT sl, CAST(COUNT(*) AS BIGINT) AS deg,
                 CAST(SUM(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT)
                   AS intra
          FROM e2 GROUP BY 1),
        m2 AS (SELECT CAST(SUM(deg) AS HUGEINT) AS m2 FROM comm),
        terms AS (
          SELECT c.intra, m.m2,
                 (CAST(c.intra AS HUGEINT) * 1000000) // m.m2
                 - (CAST(c.deg AS HUGEINT) * c.deg * 1000000)
                   // (m.m2 * m.m2) AS term
          FROM comm c CROSS JOIN m2 m)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               CAST(MAX(m2) AS BIGINT) AS m2_directed,
               CAST(SUM(intra) AS BIGINT) AS intra_directed,
               CAST(SUM(term) AS BIGINT) AS q_ppm
        FROM terms
        ORDER BY n_communities""")),

    // Louvain-style refinement — the community loop's IMPROVE step
    // (q233 proposes a partition, q309 scores it, this one refines it):
    // one synchronous local-move sweep where every node joins the
    // neighbor community with the best strictly-positive modularity
    // gain (Graphs.louvainRefineRound — exact ×2m² integer gains in
    // DECIMAL(38,0), ties to the smaller label), then the refined
    // partition is re-scored with the same exact ppm modularity lattice
    // q309 gates. Emits the sweep's telemetry: nodes, moves taken,
    // resulting community count, and Q after. Scale: the sweep is two
    // edge-key joins + community-keyed partial aggregates on top of the
    // q233 LPA machinery; labels and the refined partition feed
    // multiple consumers, so both ride the sanctioned lineage cut.
    QueryDef(
      "q319_louvain_refine",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
          .cutLineage()
        val edges = pairs
          .select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"),
            col("sk").as("dst")))
        val lab = graft.operators.Graphs.labelPropagation(edges, 3)
          .cutLineage()
        val l4 = graft.operators.Graphs.louvainRefineRound(edges, lab)
          .cutLineage()
        val mv = l4.agg(count(lit(1)).as("n_nodes"),
          sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"))
        val p2 = pairs.withColumn("pkx", col("pk") + 10000000L)
          .join(l4.select(col("node").as("sk"), col("lbl").as("lu")),
            Seq("sk"))
          .join(l4.select(col("node").as("pkx"), col("lbl").as("lv")),
            Seq("pkx"))
          .select(col("lu"), col("lv"))
        val comm = p2
          .select(explode(array(
            struct(col("lu").as("c"),
              when(col("lu") === col("lv"), 1L).otherwise(0L).as("ip")),
            struct(col("lv").as("c"), lit(0L).as("ip")))).as("e"))
          .select(col("e.c").as("c"), col("e.ip").as("ip"))
          .groupBy(col("c"))
          .agg(count(lit(1)).as("deg"), sum(col("ip")).as("ip1"))
          .select(col("c"), col("deg"), (col("ip1") * 2).as("intra"))
        val m2f = comm.agg(sum(col("deg")).as("m2"))
        comm.crossJoin(broadcast(m2f))
          .select(
            (expr("(cast(intra as decimal(38,0)) * 1000000) div m2")
              - expr("""(cast(deg as decimal(38,0)) * deg * 1000000)
                        div (cast(m2 as decimal(38,0)) * m2)"""))
              .as("term"))
          .agg(count(lit(1)).as("n_communities"),
            sum(col("term")).as("q_after_ppm"))
          .crossJoin(broadcast(mv))
          .select(col("n_nodes"), col("n_moved"), col("n_communities"),
            col("q_after_ppm"))
          .orderBy(col("n_nodes"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        c1 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        l1 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c1) WHERE rn = 1),
        c2 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        l2 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c2) WHERE rn = 1),
        c3 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
               FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        l3 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
                 FROM c3) WHERE rn = 1),
        degv AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM edges GROUP BY 1),
        m2e AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM edges),
        cd AS (SELECT l.lbl, CAST(SUM(d.deg) AS BIGINT) AS cdeg
               FROM l3 l JOIN degv d ON d.node = l.node GROUP BY 1),
        kvc AS (SELECT e.src AS node, l.lbl AS cand,
                       CAST(COUNT(*) AS BIGINT) AS k
                FROM edges e JOIN l3 l ON l.node = e.dst GROUP BY 1, 2),
        cur AS (
          SELECT l.node, l.lbl, d.deg, c.cdeg AS deg_a,
                 COALESCE(ka.k, 0) AS k_a
          FROM l3 l
          JOIN degv d ON d.node = l.node
          JOIN cd c ON c.lbl = l.lbl
          LEFT JOIN kvc ka ON ka.node = l.node AND ka.cand = l.lbl),
        gains AS (
          SELECT cu.node, kv.cand,
                 m.m2 * (kv.k - cu.k_a)
                 - CAST(cu.deg AS HUGEINT)
                   * (cb.cdeg - cu.deg_a + cu.deg) AS gain
          FROM cur cu
          JOIN kvc kv ON kv.node = cu.node AND kv.cand <> cu.lbl
          JOIN cd cb ON cb.lbl = kv.cand
          CROSS JOIN m2e m),
        best AS (
          SELECT node, cand AS new_lbl FROM (
            SELECT node, cand, row_number() OVER (
              PARTITION BY node ORDER BY gain DESC, cand) AS rn
            FROM gains WHERE gain > 0) WHERE rn = 1),
        l4 AS (
          SELECT l.node, COALESCE(b.new_lbl, l.lbl) AS lbl,
                 b.new_lbl IS NOT NULL AS moved
          FROM l3 l LEFT JOIN best b ON b.node = l.node),
        mv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                      CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_moved
               FROM l4),
        e2 AS (
          SELECT ls.lbl AS sl, ld.lbl AS dl
          FROM edges e
          JOIN l4 ls ON ls.node = e.src
          JOIN l4 ld ON ld.node = e.dst),
        comm AS (
          SELECT sl, CAST(COUNT(*) AS BIGINT) AS deg,
                 CAST(SUM(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT)
                   AS intra
          FROM e2 GROUP BY 1),
        mm AS (SELECT CAST(SUM(deg) AS HUGEINT) AS m2 FROM comm),
        terms AS (
          SELECT (CAST(c.intra AS HUGEINT) * 1000000) // m.m2
                 - (CAST(c.deg AS HUGEINT) * c.deg * 1000000)
                   // (m.m2 * m.m2) AS term
          FROM comm c CROSS JOIN mm m),
        aft AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                       CAST(SUM(term) AS BIGINT) AS q_after_ppm
                FROM terms)
        SELECT mv.n_nodes, mv.n_moved, a.n_communities, a.q_after_ppm
        FROM aft a CROSS JOIN mv
        ORDER BY mv.n_nodes""")),

    // Degree assortativity (Newman's r) — does the graph wire
    // high-degree to high-degree? The one-number mixing diagnostic the
    // structure suite lacked (q256 clusters locally, q309 scores a
    // partition; assortativity characterizes the WHOLE wiring). Over
    // the directed edge list with endpoint degrees (j, k), r is the
    // Pearson correlation of j and k across edges: all five moments
    // (m, Σj, Σk, Σjk, Σj², Σk²) are exact integers; the three
    // cross-multiplied central terms are then SHIFTED (div 2¹⁰ each —
    // the round-8 shift-before-divide lane) so their doubles are exact
    // ≤2⁵³, and ONE final IEEE closed form num/√(da·db) lands the
    // coefficient (÷ and √ are correctly rounded, so bit-identical
    // cross-engine). The shifted integers ride along as the exact
    // hash-gated part. Scale: degree frame joined twice on the edge
    // keys, then one partial-aggregated moment pass — no window, no
    // all-pairs.
    QueryDef(
      "q327_degree_assortativity",
      (s, dir) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
        val edges = pairs
          .select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"),
            col("sk").as("dst")))
          .cutLineage()
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val jk = edges
          .join(deg.select(col("node").as("src"), col("deg").as("j")),
            Seq("src"))
          .join(deg.select(col("node").as("dst"), col("deg").as("k")),
            Seq("dst"))
        val mom = jk.agg(count(lit(1)).as("m"),
          sum(col("j").cast(D)).as("sj"), sum(col("k").cast(D)).as("sk_"),
          sum(expr("cast(j as decimal(38,0)) * k")).as("sjk"),
          sum(expr("cast(j as decimal(38,0)) * j")).as("sjj"),
          sum(expr("cast(k as decimal(38,0)) * k")).as("skk"),
          max(col("j")).as("max_deg"))
        mom.select(col("m").as("n_edges"), col("max_deg"),
            // num is NEGATIVE on disassortative graphs (this bipartite
            // one is) — |·|-split the shift so Spark's truncating div
            // and DuckDB's flooring // agree.
            expr("""cast(case when cast(m as decimal(38,0)) * sjk - sj * sk_
                    < 0 then -((-(cast(m as decimal(38,0)) * sjk - sj * sk_))
                    div 1024) else (cast(m as decimal(38,0)) * sjk
                    - sj * sk_) div 1024 end as long)""").as("num_s"),
            expr("cast((cast(m as decimal(38,0)) * sjj - sj * sj) div 1024"
              + " as long)").as("den_a_s"),
            expr("cast((cast(m as decimal(38,0)) * skk - sk_ * sk_)"
              + " div 1024 as long)").as("den_b_s"))
          .select(col("n_edges"), col("max_deg"), col("num_s"),
            col("den_a_s"), col("den_b_s"),
            (col("num_s").cast("double")
              / sqrt(col("den_a_s").cast("double")
                * col("den_b_s").cast("double"))).as("r"))
          .orderBy(col("n_edges"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1),
        jk AS (
          SELECT dj.deg AS j, dk.deg AS k
          FROM edges e
          JOIN deg dj ON dj.node = e.src
          JOIN deg dk ON dk.node = e.dst),
        mom AS (
          SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                 CAST(SUM(j) AS HUGEINT) AS sj,
                 CAST(SUM(k) AS HUGEINT) AS sk,
                 SUM(CAST(j AS HUGEINT) * k) AS sjk,
                 SUM(CAST(j AS HUGEINT) * j) AS sjj,
                 SUM(CAST(k AS HUGEINT) * k) AS skk,
                 CAST(MAX(j) AS BIGINT) AS max_deg
          FROM jk),
        sh AS (
          SELECT CAST(m AS BIGINT) AS n_edges, max_deg,
                 CAST(CASE WHEN m * sjk - sj * sk < 0
                      THEN -((-(m * sjk - sj * sk)) // 1024)
                      ELSE (m * sjk - sj * sk) // 1024 END AS BIGINT)
                   AS num_s,
                 CAST((m * sjj - sj * sj) // 1024 AS BIGINT) AS den_a_s,
                 CAST((m * skk - sk * sk) // 1024 AS BIGINT) AS den_b_s
          FROM mom)
        SELECT n_edges, max_deg, num_s, den_a_s, den_b_s,
               CAST(num_s AS DOUBLE)
                 / sqrt(CAST(den_a_s AS DOUBLE) * CAST(den_b_s AS DOUBLE))
                 AS r
        FROM sh ORDER BY n_edges""")),

    // Approximate neighborhood function (HyperBall/ANF-lite) — "how
    // many nodes are within t hops of each node", THE diameter/
    // centrality primitive for graphs too big for per-node BFS
    // (Palmer et al. ANF; Boldi & Vigna HyperBall). Each node carries a
    // Flajolet-Martin bit sketch (bit = trailing-zero count of the
    // node's 62-bit hash — ntz via the branch-free
    // bit_count((h & -h) − 1) identity); one synchronous round ORs
    // every node's sketch into its neighbors' (edge join + bit_or
    // partial aggregate — the Pregel superstep again), and the
    // first-zero position R (isolated via (~m) & (m+1)) estimates
    // |ball(v,t)| ≈ 2^R/0.77351 on the exact integer lattice. Single
    // 62-bit sketch (not 64 registers) — the PLUMBING is the operator
    // under test; a production deployment swaps in the q100 HLL
    // registers per node. Gated as the R-histogram after rounds 1 and
    // 2. Scale: state is 8 bytes/node, rounds are edge-key shuffles;
    // nothing data-proportional on any single partition.
    QueryDef(
      "q328_neighborhood_function",
      (s, dir) => {
        import graft.functions.Kernels.md5Lower64
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
        val edges = pairs
          .select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"),
            col("sk").as("dst")))
          .cutLineage()
        val m0 = edges.select(col("src").as("node")).distinct()
          .withColumn("h",
            pmod(md5Lower64(concat(lit("anf:"), col("node"))),
              lit(4611686018427387904L)).cast("long"))
          .withColumn("ntz",
            least(bit_count(col("h").bitwiseAND(-col("h")) - 1), lit(61))
              .cast("int"))
          .select(col("node"), expr("shiftleft(1L, ntz)").as("mask"))
          .cutLineage()
        def round(m: org.apache.spark.sql.DataFrame) =
          m.select(col("node"), col("mask"))
            .unionByName(edges
              .join(m.withColumnRenamed("node", "src"), Seq("src"))
              .select(col("dst").as("node"), col("mask")))
            .groupBy(col("node"))
            .agg(expr("bit_or(mask)").as("mask"))
        val m1 = round(m0).cutLineage()
        val m2 = round(m1)
        def hist(m: org.apache.spark.sql.DataFrame, t: Int) =
          m.withColumn("r",
            bit_count((expr("~mask").bitwiseAND(col("mask") + 1)) - 1)
              .cast("long"))
            .groupBy(col("r"))
            .agg(count(lit(1)).as("n_nodes"))
            .select(lit(t.toLong).as("round"), col("r"), col("n_nodes"),
              expr("(shiftleft(1L, cast(r as int)) * 100000) div 77351")
                .as("est_x1000"))
        hist(m1, 1).unionByName(hist(m2, 2))
          .orderBy(col("round"), col("r"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        m0 AS (
          SELECT node,
                 1::BIGINT << LEAST(CAST(bit_count((h & -h) - 1) AS INT), 61)
                   AS mask
          FROM (
            SELECT DISTINCT src AS node,
                   CAST(md5_number_lower('anf:' || CAST(src AS VARCHAR))
                        % 4611686018427387904 AS BIGINT) AS h
            FROM edges)),
        m1 AS (
          SELECT node, bit_or(mask) AS mask FROM (
            SELECT node, mask FROM m0
            UNION ALL
            SELECT e.dst AS node, m.mask
            FROM edges e JOIN m0 m ON m.node = e.src)
          GROUP BY 1),
        m2 AS (
          SELECT node, bit_or(mask) AS mask FROM (
            SELECT node, mask FROM m1
            UNION ALL
            SELECT e.dst AS node, m.mask
            FROM edges e JOIN m1 m ON m.node = e.src)
          GROUP BY 1),
        h1 AS (
          SELECT 1::BIGINT AS round,
                 CAST(bit_count(((~mask) & (mask + 1)) - 1) AS BIGINT) AS r,
                 CAST(COUNT(*) AS BIGINT) AS n_nodes
          FROM m1 GROUP BY 2),
        h2 AS (
          SELECT 2::BIGINT AS round,
                 CAST(bit_count(((~mask) & (mask + 1)) - 1) AS BIGINT) AS r,
                 CAST(COUNT(*) AS BIGINT) AS n_nodes
          FROM m2 GROUP BY 2),
        hh AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
        SELECT round, r, n_nodes,
               ((1::BIGINT << CAST(r AS INT)) * 100000) // 77351
                 AS est_x1000
        FROM hh
        ORDER BY round, r""")),

    // Personalized PageRank (random-walk-with-restart) — the SEEDED
    // variant of q108: teleport mass returns to a seed cohort instead
    // of spreading uniformly, turning rank into a PROXIMITY score to
    // the seeds — the "similar items" / related-entity primitive
    // (the Pixie/SALSA recommender shape). Graph = q108's symmetrized
    // supplier↔part projection; seeds = the suppkey % 5 == 0 supplier
    // cohort (a value-domain rule: never empty at any sf, no dim join).
    // Exact integer lattice: per-seed teleport boost = (150000·N) div S
    // and init r0 = (1000000·N) div S, so total walk mass matches
    // q108's N·10⁶ and ranks are cross-query comparable. Each round is
    // contributions + boost rows UNIONed into one partial aggregate —
    // the Pregel superstep with the teleport folded into the same
    // shuffle (no full-outer join against the seed frame). Nodes the
    // walk hasn't reached carry implicit rank 0 and only enter the
    // frame when mass arrives: early-round frames are
    // seed-neighborhood-sized, not graph-sized — the sparsity PPR
    // exploits at 100 TB. 3 fixed rounds; top-20 on the total order.
    QueryDef(
      "q332_personalized_pagerank",
      (s, dir) => {
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
        val edges = pairs
          .select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"),
            col("sk").as("dst")))
        val seeds = pairs.select(col("sk").as("node")).distinct()
          .where(col("node") % 5 === 0)
        val r3 = graft.operators.Graphs.personalizedPageRank(
          edges, seeds, rounds = 3)
        r3.select(
            when(col("node") < 10000000L, "supplier").otherwise("part")
              .as("node_type"),
            when(col("node") < 10000000L, col("node"))
              .otherwise(col("node") - 10000000L).as("entity_id"),
            col("r").as("rank_micros"))
          .orderBy(col("rank_micros").desc, col("node_type"), col("entity_id"))
          .limit(20)
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        e AS (
          SELECT sk AS src, 10000000 + pk AS dst FROM pairs
          UNION ALL
          SELECT 10000000 + pk AS src, sk AS dst FROM pairs),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
                FROM e GROUP BY 1),
        consts AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                 CAST(SUM(CASE WHEN node < 10000000 AND node % 5 = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS ns
          FROM deg),
        seeds AS (
          SELECT node, (150000 * nn) // ns AS boost,
                 (1000000 * nn) // ns AS r0
          FROM deg, consts WHERE node < 10000000 AND node % 5 = 0),
        r0 AS (SELECT node, r0 AS r FROM seeds),
        c1 AS (SELECT r.node, r.r // d.d AS contrib
               FROM r0 r JOIN deg d USING (node)),
        a1 AS (SELECT e.dst AS node,
                      (85 * CAST(SUM(c.contrib) AS BIGINT)) // 100 AS r
               FROM e JOIN c1 c ON e.src = c.node GROUP BY 1),
        r1 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM
               (SELECT node, r FROM a1
                UNION ALL SELECT node, boost FROM seeds) GROUP BY 1),
        c2 AS (SELECT r.node, r.r // d.d AS contrib
               FROM r1 r JOIN deg d USING (node)),
        a2 AS (SELECT e.dst AS node,
                      (85 * CAST(SUM(c.contrib) AS BIGINT)) // 100 AS r
               FROM e JOIN c2 c ON e.src = c.node GROUP BY 1),
        r2 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM
               (SELECT node, r FROM a2
                UNION ALL SELECT node, boost FROM seeds) GROUP BY 1),
        c3 AS (SELECT r.node, r.r // d.d AS contrib
               FROM r2 r JOIN deg d USING (node)),
        a3 AS (SELECT e.dst AS node,
                      (85 * CAST(SUM(c.contrib) AS BIGINT)) // 100 AS r
               FROM e JOIN c3 c ON e.src = c.node GROUP BY 1),
        r3 AS (SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM
               (SELECT node, r FROM a3
                UNION ALL SELECT node, boost FROM seeds) GROUP BY 1)
        SELECT CASE WHEN node < 10000000 THEN 'supplier' ELSE 'part' END
                 AS node_type,
               CASE WHEN node < 10000000 THEN node ELSE node - 10000000 END
                 AS entity_id,
               r AS rank_micros
        FROM r3
        ORDER BY rank_micros DESC, node_type, entity_id
        LIMIT 20""")),

    // k-truss peeling (k=4, two audited rounds) — the EDGE-grained
    // dense-subgraph primitive: an edge survives only while it closes
    // ≥ k−2 triangles in the CURRENT subgraph, so peeling strips the
    // tree-like fringe that node-grained k-core (q213) keeps (a hub
    // with many degree-1 spokes survives k-core but no truss).
    // Per-edge support is counted the q162 way — degree-ordered
    // orientation so every triangle is enumerated once at its
    // lowest-(degree, id) corner (wedge cost O(E^1.5), hubs RECEIVE
    // edges), then each triangle credits its three canonical edges via
    // one explode + partial count. Two synchronous peel rounds with
    // the support recomputed on the shrunken edge set — the bounded-
    // sweep stance of q319/q331 (a production fixpoint loops the same
    // round under CheckpointPolicy). Gate: the support histogram of
    // the surviving subgraph plus the edge-count trajectory. Scale:
    // each round is two equi-joins + one exploded partial count on
    // pair keys; nothing data-proportional in one task.
    QueryDef(
      "q341_ktruss",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .where(col("l_partkey") % 10 === 0)
          .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
          .distinct()
        val e0 = li.select(col("k"), col("p").as("a"))
          .join(li.select(col("k"), col("p").as("b")), Seq("k"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b")).distinct()
          .cutLineage()
        def support(e: org.apache.spark.sql.DataFrame) = {
          val deg = e.select(col("a").as("n"))
            .unionAll(e.select(col("b").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("d"))
          val dir2 = e
            .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
            .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
            .select(
              when(col("da") < col("db") ||
                   (col("da") === col("db") && col("a") < col("b")),
                struct(col("a").as("u"), col("b").as("v")))
                .otherwise(struct(col("b").as("u"), col("a").as("v")))
                .as("uv"))
            .select(col("uv.u").as("u"), col("uv.v").as("v"))
          val wedges = dir2.select(col("u"), col("v").as("w1"))
            .join(dir2.select(col("u"), col("v").as("w2")), Seq("u"))
            .where(col("w1") < col("w2"))
          val tris = wedges.join(
            e.select(col("a").as("w1"), col("b").as("w2")), Seq("w1", "w2"))
          tris.select(explode(array(
              struct(least(col("u"), col("w1")).as("a"),
                greatest(col("u"), col("w1")).as("b")),
              struct(least(col("u"), col("w2")).as("a"),
                greatest(col("u"), col("w2")).as("b")),
              struct(col("w1").as("a"), col("w2").as("b")))).as("ed"))
            .select(col("ed.a").as("a"), col("ed.b").as("b"))
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("supp"))
        }
        def keep(e: org.apache.spark.sql.DataFrame,
            s2: org.apache.spark.sql.DataFrame) =
          e.join(s2, Seq("a", "b")).where(col("supp") >= 2)
            .select(col("a"), col("b")).cutLineage()
        val e1 = keep(e0, support(e0))
        val e2 = keep(e1, support(e1))
        val counts = e0.agg(count(lit(1)).as("n_edges_0"))
          .crossJoin(e1.agg(count(lit(1)).as("n_edges_1")))
          .crossJoin(e2.agg(count(lit(1)).as("n_edges_2")))
        e2.join(support(e2), Seq("a", "b"), "left")
          .select(coalesce(col("supp"), lit(0L)).as("support"))
          .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(counts))
          .orderBy(col("support"))
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l_orderkey AS k, l_partkey AS p
          FROM lineitem WHERE l_partkey % 10 = 0),
        e0 AS MATERIALIZED (
          SELECT DISTINCT x.p AS a, y.p AS b
          FROM li x JOIN li y ON x.k = y.k AND x.p < y.p),
        deg0 AS MATERIALIZED (
          SELECT n, COUNT(*) AS d FROM (
            SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0)
          GROUP BY 1),
        dir0 AS MATERIALIZED (
          SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.a ELSE e.b END AS u,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.b ELSE e.a END AS v
          FROM e0 e JOIN deg0 da ON da.n = e.a JOIN deg0 db ON db.n = e.b),
        t0 AS MATERIALIZED (
          SELECT w.u, w.w1, w.w2 FROM (
            SELECT x.u, x.v AS w1, y.v AS w2
            FROM dir0 x JOIN dir0 y ON x.u = y.u AND x.v < y.v) w
          JOIN e0 ON e0.a = w.w1 AND e0.b = w.w2),
        s0 AS MATERIALIZED (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS supp FROM (
            SELECT LEAST(u, w1) AS a, GREATEST(u, w1) AS b FROM t0
            UNION ALL SELECT LEAST(u, w2), GREATEST(u, w2) FROM t0
            UNION ALL SELECT w1, w2 FROM t0) GROUP BY 1, 2),
        e1 AS MATERIALIZED (
          SELECT e.a, e.b FROM e0 e
          JOIN s0 ON s0.a = e.a AND s0.b = e.b WHERE s0.supp >= 2),
        deg1 AS MATERIALIZED (
          SELECT n, COUNT(*) AS d FROM (
            SELECT a AS n FROM e1 UNION ALL SELECT b AS n FROM e1)
          GROUP BY 1),
        dir1 AS MATERIALIZED (
          SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.a ELSE e.b END AS u,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.b ELSE e.a END AS v
          FROM e1 e JOIN deg1 da ON da.n = e.a JOIN deg1 db ON db.n = e.b),
        t1 AS MATERIALIZED (
          SELECT w.u, w.w1, w.w2 FROM (
            SELECT x.u, x.v AS w1, y.v AS w2
            FROM dir1 x JOIN dir1 y ON x.u = y.u AND x.v < y.v) w
          JOIN e1 ON e1.a = w.w1 AND e1.b = w.w2),
        s1 AS MATERIALIZED (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS supp FROM (
            SELECT LEAST(u, w1) AS a, GREATEST(u, w1) AS b FROM t1
            UNION ALL SELECT LEAST(u, w2), GREATEST(u, w2) FROM t1
            UNION ALL SELECT w1, w2 FROM t1) GROUP BY 1, 2),
        e2 AS MATERIALIZED (
          SELECT e.a, e.b FROM e1 e
          JOIN s1 ON s1.a = e.a AND s1.b = e.b WHERE s1.supp >= 2),
        deg2 AS MATERIALIZED (
          SELECT n, COUNT(*) AS d FROM (
            SELECT a AS n FROM e2 UNION ALL SELECT b AS n FROM e2)
          GROUP BY 1),
        dir2 AS MATERIALIZED (
          SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.a ELSE e.b END AS u,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.b ELSE e.a END AS v
          FROM e2 e JOIN deg2 da ON da.n = e.a JOIN deg2 db ON db.n = e.b),
        t2 AS MATERIALIZED (
          SELECT w.u, w.w1, w.w2 FROM (
            SELECT x.u, x.v AS w1, y.v AS w2
            FROM dir2 x JOIN dir2 y ON x.u = y.u AND x.v < y.v) w
          JOIN e2 ON e2.a = w.w1 AND e2.b = w.w2),
        s2 AS MATERIALIZED (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS supp FROM (
            SELECT LEAST(u, w1) AS a, GREATEST(u, w1) AS b FROM t2
            UNION ALL SELECT LEAST(u, w2), GREATEST(u, w2) FROM t2
            UNION ALL SELECT w1, w2 FROM t2) GROUP BY 1, 2),
        hist AS MATERIALIZED (
          SELECT COALESCE(s2.supp, 0) AS support,
                 CAST(COUNT(*) AS BIGINT) AS n_edges
          FROM e2 LEFT JOIN s2 ON s2.a = e2.a AND s2.b = e2.b
          GROUP BY 1),
        cnt AS MATERIALIZED (
          SELECT CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges_0,
                 CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS n_edges_1,
                 CAST((SELECT COUNT(*) FROM e2) AS BIGINT) AS n_edges_2)
        SELECT h.support, h.n_edges, c.n_edges_0, c.n_edges_1, c.n_edges_2
        FROM hist h CROSS JOIN cnt c
        ORDER BY h.support""")),

    // Harmonic centrality (HyperBall estimate, radius-2 truncation) —
    // the per-node CENTRALITY readout of q328's neighborhood sketches
    // (Boldi-Vigna: HyperBall's headline application is exactly
    // harmonic centrality at web scale, where per-node BFS is
    // impossible). C_H(v) = Σ_{u≠v} 1/d(u,v) truncated at radius 2:
    // (|B(v,1)|−1) + (|B(v,2)|−|B(v,1)|)/2, with ball sizes from the
    // same Flajolet-Martin first-zero estimator as q328 — |B| ≈
    // 2^R/0.77351 in x1000 integer units ((2^R·10⁸) div 77351, R capped
    // at 40: past 10¹² nodes a production deployment is on per-node HLL
    // registers anyway, and the cap keeps the lattice in int64).
    // Monotone by construction (mask₂ ⊇ mask₁ ⇒ R₂ ≥ R₁), so the
    // 2-hop shell term is never negative. Gate: top-20 nodes by
    // estimated harmonic centrality (total tiebreak on node id).
    // Scale: two bit_or Pregel supersteps (8 bytes state per node) +
    // one TakeOrdered(20) — no per-node BFS, nothing data-proportional
    // in a single task.
    QueryDef(
      "q358_harmonic_centrality",
      (s, dir) => {
        import graft.functions.Kernels.md5Lower64
        val pairs = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
        val edges = pairs
          .select(col("sk").as("src"), (col("pk") + 10000000L).as("dst"))
          .unionByName(pairs.select((col("pk") + 10000000L).as("src"),
            col("sk").as("dst")))
          .cutLineage()
        val m0 = edges.select(col("src").as("node")).distinct()
          .withColumn("h",
            pmod(md5Lower64(concat(lit("anf:"), col("node"))),
              lit(4611686018427387904L)).cast("long"))
          .withColumn("ntz",
            least(bit_count(col("h").bitwiseAND(-col("h")) - 1), lit(61))
              .cast("int"))
          .select(col("node"), expr("shiftleft(1L, ntz)").as("mask"))
          .cutLineage()
        def round(m: org.apache.spark.sql.DataFrame) =
          m.select(col("node"), col("mask"))
            .unionByName(edges
              .join(m.withColumnRenamed("node", "src"), Seq("src"))
              .select(col("dst").as("node"), col("mask")))
            .groupBy(col("node"))
            .agg(expr("bit_or(mask)").as("mask"))
        val m1 = round(m0).cutLineage()
        val m2 = round(m1)
        def rOf(m: org.apache.spark.sql.DataFrame, name: String) =
          m.select(col("node"),
            least(bit_count((expr("~mask").bitwiseAND(col("mask") + 1)) - 1),
              lit(40)).cast("long").as(name))
        rOf(m1, "r1").join(rOf(m2, "r2"), Seq("node"))
          .withColumn("est1_x1000", expr(
            "(shiftleft(1L, cast(r1 as int)) * 100000000) div 77351"))
          .withColumn("est2_x1000", expr(
            "(shiftleft(1L, cast(r2 as int)) * 100000000) div 77351"))
          .withColumn("harm_x1000", expr(
            "(est1_x1000 - 1000) + (est2_x1000 - est1_x1000) div 2"))
          .select(col("node"), col("r1"), col("r2"), col("est1_x1000"),
            col("est2_x1000"), col("harm_x1000"))
          .orderBy(col("harm_x1000").desc, col("node"))
          .limit(20)
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        edges AS (
          SELECT sk AS src, pk + 10000000 AS dst FROM pairs
          UNION ALL
          SELECT pk + 10000000 AS src, sk AS dst FROM pairs),
        m0 AS (
          SELECT node,
                 1::BIGINT << LEAST(CAST(bit_count((h & -h) - 1) AS INT), 61)
                   AS mask
          FROM (
            SELECT DISTINCT src AS node,
                   CAST(md5_number_lower('anf:' || CAST(src AS VARCHAR))
                        % 4611686018427387904 AS BIGINT) AS h
            FROM edges)),
        m1 AS MATERIALIZED (
          SELECT node, bit_or(mask) AS mask FROM (
            SELECT node, mask FROM m0
            UNION ALL
            SELECT e.dst AS node, m.mask
            FROM edges e JOIN m0 m ON m.node = e.src)
          GROUP BY 1),
        m2 AS (
          SELECT node, bit_or(mask) AS mask FROM (
            SELECT node, mask FROM m1
            UNION ALL
            SELECT e.dst AS node, m.mask
            FROM edges e JOIN m1 m ON m.node = e.src)
          GROUP BY 1),
        rr AS (
          SELECT a.node,
                 CAST(LEAST(bit_count(((~a.mask) & (a.mask + 1)) - 1), 40)
                      AS BIGINT) AS r1,
                 CAST(LEAST(bit_count(((~b.mask) & (b.mask + 1)) - 1), 40)
                      AS BIGINT) AS r2
          FROM m1 a JOIN m2 b ON b.node = a.node),
        est AS (
          SELECT node, r1, r2,
                 ((1::BIGINT << CAST(r1 AS INT)) * 100000000) // 77351
                   AS est1_x1000,
                 ((1::BIGINT << CAST(r2 AS INT)) * 100000000) // 77351
                   AS est2_x1000
          FROM rr)
        SELECT node, r1, r2, est1_x1000, est2_x1000,
               (est1_x1000 - 1000) + (est2_x1000 - est1_x1000) // 2
                 AS harm_x1000
        FROM est
        ORDER BY harm_x1000 DESC, node
        LIMIT 20""")),

    // Strongly connected components of the international supply graph —
    // the DIRECTED-graph primitive the symmetric CC family (q48/q93)
    // cannot express: nation A → nation B when A's customers buy from
    // B's suppliers ABOVE the mean edge weight (the relative threshold
    // keeps the graph sf-invariant in shape, never complete). SCC by
    // transitive-closure SQUARING on the nation-domain edge frame:
    // closure_{k+1} = closure_k ∪ (closure_k ∘ closure_k) doubles the
    // covered path length per round, so 5 rounds reach length 32 > any
    // diameter on a ≤25-node domain — and a 6th compose is gated to add
    // NOTHING (converged=true, the audit that the fixed round count
    // suffices). scc(v) = min(v, min{u : v→u ∧ u→v}). Scale: the 100 TB
    // work is ONE partial-aggregable rollup to the nation-pair grain
    // (≤625 rows); every squaring joins value-domain-bounded frames —
    // the membership matrix never touches data volume. A >10⁵-node
    // deployment switches to the FW-BW/coloring decomposition under
    // CheckpointPolicy; the threshold rollup stays identical.
    QueryDef(
      "q359_scc_trade_graph",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").cast("long").as("cn"))
        val supp = Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey").cast("long").as("sn"))
        val w = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .where(col("cn") =!= col("sn"))
          .groupBy(col("cn").as("src"), col("sn").as("dst"))
          .agg(count(lit(1)).as("w"))
          .cutLineage()
        val tot = w.agg(sum(col("w")).as("tw"), count(lit(1)).as("ne"))
        val e = w.crossJoin(broadcast(tot))
          .where(col("w") * col("ne") >= col("tw"))
          .select(col("src"), col("dst"))
          .cutLineage()
        def sq(c: org.apache.spark.sql.DataFrame) =
          c.unionByName(
            c.select(col("src"), col("dst").as("m"))
              .join(c.select(col("src").as("m"), col("dst").as("d2")), Seq("m"))
              .select(col("src"), col("d2").as("dst")))
            .distinct().cutLineage()
        val c5 = Iterator.iterate(e)(sq).drop(5).next()
        val c6 = sq(c5)
        val conv = c5.agg(count(lit(1)).as("n5"))
          .crossJoin(c6.agg(count(lit(1)).as("n6")))
          .select((col("n5") === col("n6")).as("converged"))
        val nodes = e.select(col("src").as("node"))
          .unionByName(e.select(col("dst").as("node"))).distinct()
        val mutual = c5.as("f")
          .join(c5.as("b"),
            col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
          .select(col("f.src").as("node"), col("f.dst").as("u"))
        val scc = nodes.join(mutual, Seq("node"), "left")
          .groupBy(col("node"))
          .agg(least(col("node"), coalesce(min(col("u")), col("node")))
            .as("scc_id"))
        val nk = e.agg(count(lit(1)).as("n_edges_kept"))
        scc.groupBy(col("scc_id"))
          .agg(count(lit(1)).as("n_members"),
            array_join(expr("transform(array_sort(collect_list(node)), " +
              "x -> cast(x as string))"), ",").as("members"))
          .crossJoin(broadcast(nk))
          .crossJoin(broadcast(conv))
          .select(col("scc_id"), col("n_members"), col("members"),
            col("n_edges_kept"), col("converged"))
          .orderBy(col("scc_id"))
      },
      Some("""
        WITH w AS MATERIALIZED (
          SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          WHERE c.c_nationkey <> s.s_nationkey
          GROUP BY 1, 2),
        tot AS (SELECT SUM(w) AS tw, COUNT(*) AS ne FROM w),
        e AS MATERIALIZED (
          SELECT src, dst FROM w CROSS JOIN tot
          WHERE w * ne >= tw),
        c1 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM e
            UNION ALL
            SELECT x.src, y.dst FROM e x JOIN e y ON x.dst = y.src)),
        c2 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM c1
            UNION ALL
            SELECT x.src, y.dst FROM c1 x JOIN c1 y ON x.dst = y.src)),
        c3 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM c2
            UNION ALL
            SELECT x.src, y.dst FROM c2 x JOIN c2 y ON x.dst = y.src)),
        c4 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM c3
            UNION ALL
            SELECT x.src, y.dst FROM c3 x JOIN c3 y ON x.dst = y.src)),
        c5 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM c4
            UNION ALL
            SELECT x.src, y.dst FROM c4 x JOIN c4 y ON x.dst = y.src)),
        c6 AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM c5
            UNION ALL
            SELECT x.src, y.dst FROM c5 x JOIN c5 y ON x.dst = y.src)),
        conv AS (
          SELECT (SELECT COUNT(*) FROM c5) = (SELECT COUNT(*) FROM c6)
            AS converged),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
        mutual AS (
          SELECT f.src AS node, f.dst AS u
          FROM c5 f JOIN c5 b ON f.src = b.dst AND f.dst = b.src),
        scc AS (
          SELECT n.node,
                 LEAST(n.node, COALESCE(MIN(m.u), n.node)) AS scc_id
          FROM nodes n LEFT JOIN mutual m ON m.node = n.node
          GROUP BY n.node),
        nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_kept FROM e)
        SELECT s.scc_id, CAST(COUNT(*) AS BIGINT) AS n_members,
               string_agg(CAST(s.node AS VARCHAR), ',' ORDER BY s.node)
                 AS members,
               nk.n_edges_kept, conv.converged
        FROM scc s CROSS JOIN nk CROSS JOIN conv
        GROUP BY s.scc_id, nk.n_edges_kept, conv.converged
        ORDER BY s.scc_id"""))
  )
}

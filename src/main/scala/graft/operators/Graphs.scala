package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.CheckpointPolicy.DataFrameCutOps

/** Iterative graph operators beyond the connected-components family
  * (TextDedup.connectedComponents): k-core decomposition by parallel
  * peeling. Same loop discipline as CC — an eager `cutLineage()`
  * ([[graft.plans.CheckpointPolicy]]: localCheckpoint by default, a
  * reliable checkpoint when the SparkContext has a checkpoint dir, as on
  * clusters) per round keeps the plan
  * constant-size and the loop pin-neutral (no cacheManager entries), and
  * the convergence probe reads materialized blocks, not lineage.
  */
object Graphs {

  /** k-core: the maximal induced subgraph where every node has degree
    * ≥ k. Parallel peeling — drop all nodes below k, recompute induced
    * degrees, repeat to fixpoint. Survivor sets shrink monotonically, so
    * an unchanged node COUNT is an unchanged node SET, which makes the
    * count probe a sound fixpoint test. Each round is two co-partitioned
    * semi-joins on the edge key + one partial-agg — the Pregel superstep
    * shape; round count is bounded by the peeling depth (degeneracy
    * ordering length), not node count.
    *
    * `edges` must be symmetric (both directions present) with no
    * self-loops, columns `src`/`dst`. Returns (nodes with their induced
    * core degree, rounds executed).
    */
  def kCoreWithRounds(edges: DataFrame, k: Int,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val e = edges.select(col("src"), col("dst")).cutLineage()
    var deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k)
      .cutLineage()
    var cnt = deg.count()
    var rounds = 0
    var converged = cnt == 0L
    while (!converged && rounds < maxRounds) {
      val nxt = e
        .join(deg.select(col("node").as("src")), Seq("src"))
        .join(deg.select(col("node").as("dst")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .cutLineage()
      val n = nxt.count()
      converged = n == cnt
      deg = nxt
      cnt = n
      rounds += 1
    }
    (deg, rounds)
  }

  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame =
    kCoreWithRounds(edges, k, maxRounds)._1

  /** Multi-source BFS hop distance (unweighted single-source shortest
    * paths, generalized to a source SET): frontier expansion with an
    * anti-join against the visited set, so each node is labeled with its
    * FIRST (minimal) hop and never re-expanded — per-round work is
    * O(edges touching the frontier), total O(E) across all rounds, the
    * textbook Pregel BFS. Rounds are bounded by min(graph diameter,
    * maxHops); each is one hash join on src + distinct + anti-join, all
    * clustered on the node key. `edges` symmetric, columns src/dst;
    * `sources` column `node`. Returns (node, hop). */
  def bfsHops(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).cutLineage()
    var known = sources.select(col("node")).distinct()
      .withColumn("hop", lit(0L)).cutLineage()
    var frontier = known
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      val nxt = e.join(frontier.select(col("node").as("src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(known.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .cutLineage()
      if (nxt.isEmpty) done = true
      else {
        known = known.unionByName(nxt).cutLineage()
        frontier = nxt
      }
      h += 1
    }
    known
  }

  /** Synchronous label propagation (LPA community detection), a FIXED
    * number of rounds: every node starts as its own label and each round
    * adopts the most frequent label among its neighbors (ties broken on
    * the smaller label — the determinism rule that makes synchronous LPA
    * reproducible at any parallelism; free-running async LPA is not).
    * Each round is one join on the edge key + a (node, label) partial
    * count + an argmax clustered on the node — the Pregel superstep
    * rhythm. Unlike the CC/k-core loops, labels is consumed exactly ONCE
    * per round, so the lineage grows LINEARLY (no branching blowup) and
    * a per-round cut is pure overhead at small fixed budgets (measured
    * +20% on q233's 3 rounds); a deep-round deployment (rounds ≳ 20)
    * should cut every few rounds via `cutLineage()` to bound analysis
    * depth. Fixed rounds (not convergence-probed) because synchronous
    * LPA can 2-cycle on bipartite structure; callers pick the budget. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).cutLineage()
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    (1 to rounds).foreach { _ =>
      // ONE pinned hash(dst) exchange per round serves BOTH aggregates
      // below (HashPartitioning(dst) satisfies the (dst,lbl) clustering —
      // subset rule — and the (node) argmax reuses it), where the
      // un-pinned form planned two exchanges that AQE's byte-based
      // coalescing then packed onto ~3 tasks (the per-row struct/argmax
      // work is CPU-dense, not byte-dense). Exchange count per round:
      // 2 → 1, at full width (Skew.fanOutByKey).
      val counts = Skew.fanOutByKey(
          e.join(labels.withColumnRenamed("node", "src"), Seq("src")),
          col("dst"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, lbl asc) as a partial-aggregable max of
      // struct(cnt, -lbl): no per-round window sort, no exchange beyond
      // the (node) agg — the rank form cost one extra sort per round.
      labels = counts
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m").getField("nl")).as("lbl"))
    }
    labels
  }

  /** ONE synchronous Louvain-style local-move sweep over an existing
    * partition: every node evaluates moving to each NEIGHBOR community
    * and takes the best strictly-positive modularity gain (ties → the
    * smaller label; no candidate → stay). The gain is Blondel et al.'s
    * ΔQ for a move A→B, cross-multiplied to the exact integer lattice
    * (×2m²): gain = 2m·(k_vB − k_vA) − deg_v·(deg_B − deg_A + deg_v),
    * carried in DECIMAL(38,0) so |E|·deg products cannot wrap at scale.
    * SYNCHRONOUS: all gains are evaluated against the input partition,
    * then applied at once — deterministic and partial-aggregable (the
    * sequential-scan async sweep of the original paper is not
    * data-parallel). A synchronous sweep can oscillate on adversarial
    * symmetric structure, so callers treat it as one refinement step
    * and re-score (q319 gates Q after the sweep), not as a fixpoint.
    *
    * `edges`: directed list with both directions present, no
    * self-loops, columns src/dst. `labels`: (node, lbl). Returns
    * (node, lbl, moved). Scale: two joins on the edge key + two
    * community-keyed partial aggregates — every shuffle is on node or
    * community keys, nothing is data-proportional on the driver.
    */
  def louvainRefineRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val degV = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val commDeg = labels.join(degV, Seq("node"))
      .groupBy(col("lbl")).agg(sum(col("deg")).as("cdeg"))
    val m2 = e.agg(count(lit(1)).as("m2"))
    // k_{v,C}: edges of v into each neighbor community C. Same pinned-
    // width stance as labelPropagation's round aggregate: hash(src) at
    // full width serves the (src, cand) clustering (subset rule) and
    // keeps the CPU-dense count off AQE's byte-coalesced ~3 tasks.
    val kvc = Skew.fanOutByKey(e
        .join(labels.select(col("node").as("dst"), col("lbl").as("cand")),
          Seq("dst")),
        col("src"))
      .groupBy(col("src").as("node"), col("cand"))
      .agg(count(lit(1)).as("k"))
    // The community frame is |distinct labels|-sized. On a CONVERGED
    // partition that's orders smaller than the node frame and the
    // lookups broadcast — but on a barely-converged input (LPA after a
    // few rounds on a bipartite graph keeps ~node-proportional label
    // counts) a FORCED broadcast ships a data-proportional frame
    // through the driver. No hint, deliberately: AQE sees the real
    // post-shuffle size and picks broadcast exactly when the frame is
    // small — the adaptive behavior a 100 TB run needs (measured at the
    // sf3.3 twin: the forced hint was the q319 alpha-1.3 driver).
    val cur = labels.join(degV, Seq("node"))
      .join(commDeg.select(col("lbl"), col("cdeg").as("deg_a")),
        Seq("lbl"))
      .join(kvc.select(col("node"), col("cand").as("lbl"),
        col("k").as("k_a")), Seq("node", "lbl"), "left")
      .select(col("node"), col("lbl"), col("deg"), col("deg_a"),
        coalesce(col("k_a"), lit(0L)).as("k_a"))
    val gains = cur.join(kvc, Seq("node"))
      .where(col("cand") =!= col("lbl"))
      .join(commDeg.select(col("lbl").as("cand"),
        col("cdeg").as("deg_b")), Seq("cand"))
      .crossJoin(broadcast(m2))
      .select(col("node"), col("cand"),
        expr("""cast(m2 as decimal(38,0)) * (k - k_a)
                - cast(deg as decimal(38,0)) * (deg_b - deg_a + deg)""")
          .as("gain"))
    val best = gains.where(col("gain") > 0)
      .groupBy(col("node"))
      .agg(max(struct(col("gain"), (-col("cand")).as("nc"))).as("m"))
      .select(col("node"), (-col("m").getField("nc")).as("new_lbl"))
    labels.join(best, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("new_lbl"), col("lbl")).as("lbl"),
        col("new_lbl").isNotNull.as("moved"))
  }

  /** Personalized PageRank (random-walk-with-restart) on the exact
    * integer micro-rank lattice: teleport mass returns to `seeds`
    * instead of spreading uniformly, so rank measures PROXIMITY to the
    * seed cohort — the related-entity / "similar items" primitive.
    * Per-seed teleport boost = (150000·N) div S and init
    * r0 = (1000000·N) div S (N = nodes, S = seeds present in the
    * graph), keeping total walk mass comparable to uniform PageRank's
    * N·10⁶. Each round UNIONs the damped in-edge contributions with
    * the boost rows into ONE partial aggregate — the Pregel superstep
    * with the teleport folded into the same shuffle, no full-outer
    * join. Nodes the walk hasn't reached carry implicit rank 0 and
    * enter the frame only when mass arrives: early-round frames are
    * seed-neighborhood-sized, not graph-sized. Floor division
    * everywhere (all operands positive), so a fixed round budget is
    * bit-reproducible on any engine and any parallelism.
    *
    * `edges`: (src, dst) with both directions present — this contract
    * is LOAD-BEARING, not stylistic: `ranks.join(deg, "node")` is an
    * inner join, so a node with rank mass but NO out-edges silently
    * drops its entire mass that round (no redistribution, no error),
    * and `nn` counts only nodes with out-degree ≥ 1. Under the
    * symmetric contract neither case exists (every reached node has an
    * out-edge back). A caller passing a DIRECTED edge list gets
    * deflated, non-mass-conserving ranks with no warning — symmetrize
    * first (`edges.unionByName(edges.selectExpr("dst AS src",
    * "src AS dst"))`) if the input is directed. `seeds`: a (node)
    * frame (rows absent from the graph are ignored). Returns (node, r)
    * micro-ranks after `rounds` supersteps; unreached nodes have no
    * row (implicit 0). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).cutLineage()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .cutLineage()
    val sd = deg.join(seeds.select(col("node")), Seq("node"))
      .select(col("node"))
    val consts = deg.agg(count(lit(1)).as("nn"))
      .crossJoin(sd.agg(count(lit(1)).as("ns")))
    // boost/init feed r0 + every round — sanctioned branch cut
    val seeded = sd.crossJoin(broadcast(consts))
      .select(col("node"),
        expr("(150000 * nn) div ns").as("boost"),
        expr("(1000000 * nn) div ns").as("r0"))
      .cutLineage()
    def round(ranks: DataFrame): DataFrame =
      ranks.join(deg, "node")
        .selectExpr("node", "r div d AS contrib")
        .join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(expr("(85 * sum(contrib)) div 100").as("r"))
        .unionByName(seeded.select(col("node"), col("boost").as("r")))
        .groupBy(col("node")).agg(sum(col("r")).as("r"))
    (1 to rounds).foldLeft(seeded.select(col("node"), col("r0").as("r")))(
      (r, _) => round(r))
  }
}

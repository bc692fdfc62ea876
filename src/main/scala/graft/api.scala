package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Public library facade — the stable entry point for using graft's
  * operators outside the gated query suite.
  *
  * Everything here is a re-export of (or a thin composition over) the
  * production operators under [[graft.operators]]; the gated queries in
  * [[graft.SparkEntry]] exercise the same code paths, so each handle
  * below is oracle-verified at every round. Import and go:
  *
  * {{{
  * import graft.api._
  *
  * // keep the newest row per key
  * val clean = dedup.keepLatest(df, Seq($"k"), $"updated_at", $"id")
  *
  * // MinHash/LSH near-dup clusters over a text corpus, end to end
  * val clusters = nearDupClusters(docs, "doc_id", "text")
  *
  * // as-of join: each order gets the address in force at order time
  * val placed = asOf.bestAtTime(orders, addrs, $"o_custkey" === $"a_custkey",
  *   $"o_ts", $"a_ts", orders.columns.map(col), Seq($"a_city"))
  * }}}
  *
  * Cluster deployments should also set two engine-wide Spark settings:
  *   - `spark.checkpoint.dir` (a replicated HDFS/object-store path) so
  *     iterative operators' lineage cuts become reliable checkpoints
  *     that survive executor loss — see [[graft.plans.CheckpointPolicy]];
  *   - AQE on (default) — the skew helpers in [[skew]] document when
  *     manual salting still beats AQE's runtime splitting.
  */
object api {

  // ── Row-level hygiene ─────────────────────────────────────────────
  /** Exact dedup: keepFirst / keepLatest (recency + tiebreak, nulls
    * last), duplicateKeys audit. One hash shuffle on the key. */
  val dedup: operators.Dedup.type = operators.Dedup
  /** dbt-style data-quality checks: notNull / unique / uniqueCombination /
    * expressionIsTrue / acceptedValues / relationships, plus
    * severity-faithful `summarize` and `runVerdict`. */
  val checks: operators.Checks.type = operators.Checks
  /** One-pass column profiling (nulls, NDV, min/max) → long format. */
  val profile: operators.Profile.type = operators.Profile

  // ── Temporal joins & slowly changing state ────────────────────────
  /** As-of joins: latest-at-or-before (with optional tolerance) and
    * nearest-in-time, no-candidate rows kept. */
  val asOf: operators.AsOfJoin.type = operators.AsOfJoin
  /** Upsert merges: latest-wins `merge`, CDC apply, 7-day-lookback
    * incremental merge, partition-pruned partitioned-target merge. */
  val incremental: operators.IncrementalMerge.type = operators.IncrementalMerge
  /** SCD Type-2 history: interval close/open merge and the
    * month-partitioned snapshot variant. */
  val scd2: operators.Scd2.type = operators.Scd2

  // ── Scale primitives ──────────────────────────────────────────────
  /** Exact global rank/ntile without a single-partition sort (two-level
    * bucketed rank — the data-proportional-window killer). */
  val globalRank: operators.GlobalRank.type = operators.GlobalRank
  /** Skew weapons: salted aggregate, salted broadcast join, bucketed
    * range join. */
  val skew: operators.Skew.type = operators.Skew
  /** Lineage cut for iterative loops (reliable when a checkpoint dir is set):
    * `df.cutLineage()` via `import graft.plans.CheckpointPolicy._`. */
  val checkpointPolicy: plans.CheckpointPolicy.type = plans.CheckpointPolicy
  /** Secondary-sort streaming folds for non-prefix-expressible per-key
    * recurrences (clamped balances, EWMA/Holt levels, SPRT stopping):
    * `foldGroups` (one output row per key) / `scanGroups` (one output
    * per input row, state reseeded at key changes) — O(1) memory, a hot
    * key streams and never buffers. */
  val sortedFold: operators.SortedFold.type = operators.SortedFold

  // ── Corpus dedup / text ───────────────────────────────────────────
  /** Sketch toolbox: shingles, MinHash signatures, banded LSH pairs,
    * SimHash, winnowing fingerprints, 13-gram Horner hashes (exact
    * and center-skip fuzzy), and large-star/small-star connected
    * components. */
  val textDedup: operators.TextDedup.type = operators.TextDedup
  /** Single-source rational-BM25 scoring (termScores / pivotedScore). */
  val bm25: operators.Bm25.type = operators.Bm25
  /** HTML text extraction — the crawl front door: script/style/comment
    * strip, entity decode, link-density boilerplate cut (map-only). */
  val html: operators.Html.type = operators.Html
  /** PII scan + redaction: regex classes in the Java-regex ∩ RE2
    * dialect, per-doc counts, placeholder rewrites (map-only scrub);
    * checksum-validated classes (Luhn cards, mod-97 IBANs). */
  val pii: operators.Pii.type = operators.Pii
  /** URL canonicalization (scheme/www/query/fragment/default-port/
    * trailing-slash normalization) + md5-rank per-host caps +
    * longest-suffix host blocklist (broadcast rule table). */
  val urls: operators.Urls.type = operators.Urls
  /** Hashing-trick linear text scorer — classifier-based filtering as
    * a broadcast (bucket, weight) table join; no UDF — plus in-engine
    * NB log-odds training (exact integer micro-log2 ladder). */
  val scoring: operators.Scoring.type = operators.Scoring

  // ── Vectors / multimodal ──────────────────────────────────────────
  /** Embedding search: codegen'd dot/cosine, brute-force exact top-k,
    * SRP-LSH and IVF bucketed top-k, embedding near-dup pairs. */
  val similarity: operators.Similarity.type = operators.Similarity
  /** Materialized ANN index — the build-once / probe-many seam:
    * `buildSrp`/`buildIvf` write the index as bucket/cell-PARTITIONED
    * parquet (the directory layout IS the index), `probeSrp`/`probeIvf`
    * answer top-k with the index scan dynamic-partition-pruned to the
    * probed buckets, `ensureBuilt` shares one build across many probes.
    * Full lifecycle (round 11): `buildIvfTrained` (fixed-point k-means
    * quantizer), `appendSrp`/`appendIvf` (O(touched-buckets) growth),
    * `deleteIds` (update = delete + append), `probeSrpAt` (knobs read
    * from the stamped index manifest), `buildSrpBucketed`/
    * `probeSrpBucketed` (bucket-pruned CLUSTERED BY layout for >4k
    * coarse keys), multi-probe/nprobe recall knobs with measured
    * recall-vs-cost curves (q386/q387/q393). */
  val annIndex: operators.AnnIndex.type = operators.AnnIndex
  /** Opaque-binary media columns: PPM decode, dHash near-dup, PCM
    * energy windows, resize, concatenated-PPM video frame-sampling +
    * per-frame hashing — mapPartitions one-codec-per-partition. */
  val multimodal: operators.Multimodal.type = operators.Multimodal

  // ── Graphs ────────────────────────────────────────────────────────
  /** Iterative graph ops: k-core peeling, multi-source BFS hops,
    * synchronous label propagation, Louvain-style local-move
    * refinement (exact integer modularity gains). */
  val graphs: operators.Graphs.type = operators.Graphs

  // ── Composed pipelines ────────────────────────────────────────────

  /** Near-duplicate CLUSTERS over a text corpus, end to end: k-token
    * shingles → `numHashes`-permutation MinHash → banded LSH candidate
    * pairs → Jaccard-estimate threshold → connected components. Returns
    * (idCol, cluster_id = min doc id in component). Every stage is the
    * bucketed/blocked form — cost is O(docs × bands + Σ bucket²), never
    * O(docs²); rounds are O(log component diameter).
    *
    * `threshold` is on the ESTIMATED Jaccard (matching-minhash fraction);
    * with the default 128/32/4 geometry the LSH candidate-recall knee
    * sits near J ≈ 0.5, so thresholds in [0.5, 0.9] behave as expected.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val toks = docs.select(col(idCol),
      graft.functions.TextKernels.tokens(col(textCol)).as("_ws"))
    val sh = operators.TextDedup.shingleRows(toks, idCol, "_ws", shingleK)
    val sigs = operators.TextDedup.minhashSignatures(sh, idCol, "_sh", numHashes)
    val pairs = operators.TextDedup.lshCandidatePairs(
      sigs, idCol, "sig", bands, numHashes / bands)
      .where(col("est_jaccard") >= threshold)
    operators.TextDedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", idCol)
  }

  /** Exact per-document duplication statistics against the whole corpus:
    * for each doc, how many of its k-gram window types appear in any
    * OTHER document (the GPT-3-style decontamination / overlap measure).
    * Returns (idCol, n_windows, n_shared_windows). String-free: windows
    * ride 62-bit Horner hashes, so the shuffle carries 8 bytes per
    * window, not the k-token text. */
  def crossDocOverlap(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 13): DataFrame = {
    val toks = docs.select(col(idCol),
      graft.functions.TextKernels.tokens(col(textCol)).as("_ws"))
    val grams = operators.TextDedup.ngramHash62(toks, idCol, "_ws", k)
      .select(col(idCol), col("h62")).distinct()
    val docFreq = grams.groupBy(col("h62"))
      .agg(count(lit(1)).as("_df"))
    grams.join(docFreq, "h62")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_df") > 1, 1L).otherwise(0L)).as("n_shared_windows"))
  }

  /** Top-k cosine neighbors for every query vector. `exact = true` is
    * the brute-force audit path (queries broadcast against every
    * candidate); the default is SRP-LSH bucketed search — probe cost ≈
    * corpus/2^planes per query, with `planes` auto-sized from the
    * candidate count (one count() action) unless given. `dim` is the
    * embedding width. Returns (q_id, n_id, cos, rnk ≤ k). */
  def topKNeighbors(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      exact: Boolean = false, planes: Int = 0): DataFrame =
    if (exact)
      operators.Similarity.bruteForceTopK(queries, candidates, idCol, vecCol, k)
    else {
      val p = if (planes > 0) planes
        else operators.Similarity.autoPlanes(candidates.count())
      operators.Similarity.lshTopK(queries, candidates, idCol, vecCol, k, p, dim)
    }

  /** BM25 document ranking for a fixed term list: top-`k` docs with the
    * per-term scores summed in a deterministic order. `docs` carries
    * (idCol, textCol: whitespace-tokenizable text). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    val f = operators.Bm25.termScores(docs, idCol, textCol, terms)
    operators.Bm25.pivotedScore(f.scores, Seq(idCol, "dl"), terms, "score")
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Cosine helper on array columns (codegen'd native dot product). */
  def cosine(a: Column, b: Column): Column = operators.Similarity.cosine(a, b)

  /** Personalized PageRank: (node, r) micro-ranks measuring proximity
    * to `seeds` after `rounds` exact-integer damped supersteps.
    * `edges` must carry both directions of every undirected edge. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 3): DataFrame =
    operators.Graphs.personalizedPageRank(edges, seeds, rounds)
}

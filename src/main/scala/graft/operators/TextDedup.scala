package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.plans.CheckpointPolicy.DataFrameCutOps

/** Near-duplicate detection for document corpora — MinHash+banded-LSH and
  * SimHash, the two standard sketches for web-scale training-data dedup.
  *
  * Scale design (the whole point):
  *  - Sketch building is explode → flat codegen'd projection → partial
  *    min/sum aggregation. Deliberately NOT higher-order-function lambdas:
  *    `transform`/`aggregate` are CodegenFallback in Spark (interpreted
  *    per element, no common-subexpression elimination — measured 100×
  *    slower here), while an exploded projection is whole-stage codegen'd
  *    with CSE, and the min/sum agg is map-side partial, so the shuffle
  *    carries one sketch row per (doc, partition), not the token stream.
  *  - Candidate generation is a BUCKET join — docs explode to
  *    (band, bucketKey) and self-join on the key, so cost is
  *    O(docs × bands + Σ bucket²), never O(docs²). AQE splits hot buckets.
  *
  * Hash parity: all sketch hashes are DuckDB-`md5_number_lower`-compatible
  * u64s (Kernels.md5Lower64), so every stage is oracle-checkable.
  */
object TextDedup {

  /** Universal-hash MinHash parameters: base = md5 u64 mod p (p = 2³¹−1
    * prime), perm_i(h) = (aᵢ·h + bᵢ) mod p. aᵢ·h ≤ ~2⁵⁵ so the arithmetic
    * is exact in int64 on both engines; the mod WRAPS (unlike a too-small
    * multiplier, which would make every perm order-preserving and collapse
    * the signature to a function of one shingle). */
  val MinhashP = 2147483647L
  def permA(i: Int): Long = 999983L * i + 1000003L
  def permB(i: Int): Long = 998244353L * i

  /** Flat (doc, shingle) rows from (doc, token-array) rows via posexplode +
    * window leads. Duplicates are kept — min/agg consumers don't care, and
    * Jaccard consumers collect_set afterwards.
    *
    * Why not build the shingle array per row with `transform(sequence…)`?
    * Higher-order functions are CodegenFallback (interpreted per element) —
    * measured ~8× slower than this exploded form at sf0.1. The cost here is
    * one hash shuffle of the token stream on idCol; every downstream
    * groupBy(idCol) then reuses that partitioning, so the sketch pipeline
    * stays at exactly one exchange end-to-end. */
  def shingleRows(docs: DataFrame, idCol: String, tokCol: String, k: Int): DataFrame = {
    val t = docs.select(col(idCol), posexplode(col(tokCol)).as(Seq("_pos", "_w")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val parts = (1 until k).map(o => lead(col("_w"), o).over(w))
    keyFanOut(t, idCol).select(col(idCol),
        concat_ws(" ", col("_w") +: parts: _*).as("_sh"),
        parts.last.isNotNull.as("_full"))
      .where(col("_full"))
      .select(col(idCol), col("_sh"))
  }

  /** Pin the per-doc window exchange at the session's full parallelism.
    *
    * The token stream is small in BYTES but every downstream row pays a
    * digest (native md5) plus permutation arithmetic, so AQE's byte-based
    * coalescing (parallelism-first floor = minPartitionSize, 1 MB) packs
    * the whole sketch pipeline onto ~3 tasks at local[32] — measured 2 s
    * of single-digit-parallel CPU per consumer query. An explicit
    * repartition(n, key) is exempt from AQE coalescing; n =
    * max(defaultParallelism, spark.sql.shuffle.partitions) keeps the
    * exchange count identical (the window and every groupBy(idCol)
    * downstream reuse this hash partitioning) and is scale-adaptive: a
    * cluster's configured shuffle width wins when it is higher than the
    * core count, so a 100 TB token stream still spreads over the full
    * configured width, never fewer. */
  private def keyFanOut(df: DataFrame, idCol: String): DataFrame =
    Skew.fanOutByKey(df, col(idCol))

  /** Per-position k-gram hashes WITHOUT materializing k-gram strings —
    * the scale path for large k (decontamination runs k=13): each token
    * is digested ONCE (native codegen'd md5, 8-byte output), reduced
    * mod p = 2³¹−1, and the k-token window combines via two independent
    * Horner folds (bases 131/137, exact in int64: acc < 2³¹ so
    * acc·b + x < 2³⁹) packed into one 62-bit key H = H₁·2³¹ + H₂.
    * Versus shingleRows + md5(shingle): the window shuffle carries one
    * 8-byte long per token instead of a ~7k-byte concat string, and
    * digest work drops k-fold (per token, not per token×k). Collision
    * odds for two 31-bit folds are ~n²/2⁶² — negligible below ~10⁹
    * distinct grams per join domain, and IDENTICAL on both engines
    * (the oracle computes the same folds), so the gate stays exact.
    * Output: (idCol, h62) — one row per full k-window. */
  def ngramHash62(docs: DataFrame, idCol: String, tokCol: String, k: Int): DataFrame =
    ngramHash62Pos(docs, idCol, tokCol, k).select(col(idCol), col("h62"))

  /** ngramHash62 retaining the 0-based start position of each window
    * (`pos`) — needed by span-level audits (q269) that reconstruct runs
    * of consecutive duplicated windows. Output: (idCol, pos, h62). */
  def ngramHash62Pos(docs: DataFrame, idCol: String, tokCol: String,
      k: Int): DataFrame = {
    // repartition BEFORE the per-token digest so it runs at full width
    // (same keyFanOut rationale as shingleRows; the window reuses the
    // hash(idCol) partitioning, so the exchange count is unchanged)
    val t = keyFanOut(
        docs.select(col(idCol), posexplode(col(tokCol)).as(Seq("_pos", "_w"))),
        idCol)
      .select(col(idCol), col("_pos"),
        Kernels.md5BitsMod31(Kernels.md5Bits(col("_w"))).as("_h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val leads = (1 until k).map(o => lead(col("_h"), o).over(w))
    val all = col("_h") +: leads
    def horner(b: Long): Column =
      all.reduce((acc, x) => (acc * lit(b) + x) % lit(MinhashP))
    t.select(col(idCol), col("_pos").cast("long").as("pos"),
        (horner(131) * lit(2147483648L) + horner(137)).as("h62"),
        leads.last.isNotNull.as("_full"))
      .where(col("_full"))
      .select(col(idCol), col("pos"), col("h62"))
  }

  /** ngramHash62 with the CENTER token of each (odd) k-window excluded
    * from the fold — the cheap FUZZY decontamination key: a window
    * whose center token was substituted still hashes identically, and
    * because windows slide, any single substituted token in an overlap
    * region of length ≥ k (at distance ≥ k/2 from its edges) is the
    * center of SOME window, so isolated one-token edits cannot hide a
    * contaminated passage from the join. Same cost shape as
    * [[ngramHash62]] (one digest per token; the window fold just skips
    * one term), unlike the k× blowup of hashing every single-position
    * wildcard variant. Output: (idCol, h62). */
  def ngramHash62SkipCenter(docs: DataFrame, idCol: String, tokCol: String,
      k: Int): DataFrame = {
    require(k >= 3 && k % 2 == 1, s"skip-center needs odd k >= 3, got $k")
    val t = keyFanOut(
        docs.select(col(idCol), posexplode(col(tokCol)).as(Seq("_pos", "_w"))),
        idCol)
      .select(col(idCol), col("_pos"),
        Kernels.md5BitsMod31(Kernels.md5Bits(col("_w"))).as("_h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val leads = (1 until k).map(o => lead(col("_h"), o).over(w))
    val all = col("_h") +: leads
    val kept = all.zipWithIndex.collect {
      case (c, i) if i != k / 2 => c
    }
    def horner(b: Long): Column =
      kept.reduce((acc, x) => (acc * lit(b) + x) % lit(MinhashP))
    t.select(col(idCol),
        (horner(131) * lit(2147483648L) + horner(137)).as("h62"),
        leads.last.isNotNull.as("_full"))
      .where(col("_full"))
      .select(col(idCol), col("h62"))
  }

  /** Per-doc MinHash signature from flat (idCol, shCol) shingle rows: ONE
    * codegen'd digest per shingle (native Md5Lower64Bits expression), then
    * `numHashes` affine permutations and a map-side partial min
    * aggregation. Output (idCol, sig: array<long>). */
  def minhashSignatures(shingles: DataFrame, idCol: String, shCol: String,
      numHashes: Int): DataFrame = {
    val based = shingles.select(col(idCol),
      Kernels.md5BitsMod31(Kernels.md5Bits(col(shCol))).as("_h"))
    val perms = based.select(
      col(idCol) +: (0 until numHashes).map(i =>
        ((lit(permA(i)) * col("_h") + lit(permB(i))) % MinhashP).as(s"_p$i")): _*)
    val mins = perms.groupBy(col(idCol))
      .agg(min(col("_p0")).as("_m0"),
        (1 until numHashes).map(i => min(col(s"_p$i")).as(s"_m$i")): _*)
    mins.select(col(idCol),
      array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** Banded LSH keys: split the signature into bands of `rowsPerBand` and
    * md5 each band's joined values. Two docs share a band key iff that
    * whole band of minhashes agrees → P(candidate) = 1-(1-J^r)^b. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1).cast("string")): _*))
    }: _*)

  /** Candidate near-dup pairs from banded LSH, with the estimated Jaccard
    * (matching-minhash fraction). `docs` must carry (idCol, sigCol: array).
    * Output: id_a < id_b, est_jaccard. The two join inputs share the same
    * aggregate subplan, so ReuseExchange computes the signatures once. */
  def lshCandidatePairs(
      docs: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0, "bands and rowsPerBand must be positive")
    val withBands = docs.select(
      col(idCol), col(sigCol),
      posexplode(bandKeys(col(sigCol), bands, rowsPerBand)).as(Seq("band", "bkey")))
    val a = withBands.select(col("band"), col("bkey"),
      col(idCol).as("id_a"), col(sigCol).as("sig_a"))
    val b = withBands.select(col("band"), col("bkey"),
      col(idCol).as("id_b"), col(sigCol).as("sig_b"))
    // Shuffle join on (band,bkey): each bucket is tiny (docs agreeing on a
    // whole band), so the join output ≈ true near-dup pairs, not O(n²).
    // denominator from the signature itself, not bands*rowsPerBand: a
    // caller whose numHashes exceeds the banded prefix would otherwise get
    // a silently-deflated estimate
    a.join(b, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / size(col("sig_a"))).as("est_jaccard"))
      .distinct()
  }

  /** Per-doc 64-bit SimHash over the token multiset, as (hi32, lo32) longs.
    * Bit b of the sketch is set iff Σ_tokens (±1 by token-hash bit b) > 0.
    * Input carries (idCol, tokCol: array of tokens); docs with zero tokens
    * drop out (inner explode). 2 md5s per token; the 64 per-bit vote sums
    * partial-aggregate map-side, so the shuffle is 64 longs per doc. */
  def simhashes(docs: DataFrame, idCol: String, tokCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(col(tokCol)).as("_t"))
    val bitted = toks.select(col(idCol), Kernels.md5Bits(col("_t")).as("_b"))
    val hashed = bitted.select(col(idCol),
      Kernels.md5BitsHi32(col("_b")).as("_hi"),
      Kernels.md5BitsLo32(col("_b")).as("_lo"))
    def vote(c: Column, b: Int): Column =
      sum(shiftright(c, b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
    val votes = hashed.groupBy(col(idCol)).agg(
      vote(col("_hi"), 0).as("_vh0"),
      ((1 until 32).map(b => vote(col("_hi"), b).as(s"_vh$b")) ++
        (0 until 32).map(b => vote(col("_lo"), b).as(s"_vl$b"))): _*)
    def half(prefix: String): Column =
      (0 until 32).map(b =>
        when(col(s"_$prefix$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col(idCol), half("vh").as("simhash_hi"), half("vl").as("simhash_lo"))
  }

  /** Per-doc winnowing-style fingerprint from flat shingle rows: min u64
    * shingle hash (robust to local edits — the MOSS/winnowing min-sampling
    * trick). Same staged-hash/agg shape as the other sketches. */
  def minShingleFingerprints(shingles: DataFrame, idCol: String, shCol: String): DataFrame =
    shingles
      // sign-flip makes signed min == unsigned u64 min, so the aggregate
      // runs on raw longs and the decimal conversion happens once per DOC
      .select(col(idCol),
        Kernels.md5BitsOrderable(Kernels.md5Bits(col(shCol))).as("_r"))
      .groupBy(col(idCol))
      .agg(min(col("_r")).as("_rm"))
      .select(col(idCol),
        Kernels.md5BitsU64(Kernels.md5BitsOrderable(col("_rm")))
          .cast("string").as("winnow_fp"))

  /** Exact n-gram Jaccard for (already-blocked) candidate pairs. */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB))

  /** Connected components over an undirected dup-pair list → (node,
    * cluster_id = min node in component). Alternating LARGE-STAR /
    * SMALL-STAR (the MapReduce-CC algorithm of Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond"): each round every
    * neighborhood hangs its larger members (large-star) and then its
    * smaller members (small-star) off the neighborhood minimum, so the
    * distance from any node to its component minimum roughly HALVES per
    * round — O(log diameter) rounds, vs diameter-many for plain min-label
    * propagation. On a 100 TB corpus with chained near-dups (doc A ~ B ~ C
    * ~ …) that is the difference between 8 rounds and hundreds.
    *
    * Pin-neutral by contract: every materialization in the loop (and the
    * returned frame) goes through [[graft.plans.CheckpointPolicy]]
    * (`cutLineage()`) — lineage truncated, NO cacheManager registration —
    * so callers and harnesses need no cache hygiene, and a suite running
    * many queries accumulates zero pins from this loop. Locally that is
    * `localCheckpoint`; a cluster sets `spark.checkpoint.dir`, which makes
    * every cut a reliable checkpoint, so an executor loss mid-iteration
    * recomputes nothing and loses nothing — local checkpoint blocks are
    * executor-resident and non-replicated, which at 1000 executors makes a
    * loss per run a near-certainty.
    *
    * Each phase is one hash shuffle (groupBy the star center) + one
    * co-partitioned join; the convergence probe compares two PERSISTED
    * edge sets (count, then a one-direction except on equal counts —
    * |A|=|B| ∧ A∖B=∅ ⟹ A=B), never the full lineage. At `maxRounds`
    * (far above log₂ of any real component diameter) the loop exits with
    * the best edges so far — the oracle gate hash-fails rather than
    * silently accepting an unconverged clustering. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 32): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxRounds)._1

  /** As [[connectedComponents]], also returning the number of star rounds
    * executed (exposed so tests can pin the O(log diameter) bound). */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 32): (DataFrame, Int) = {
    // Degenerate self-pairs (a,a) carry no connectivity but must still
    // label their node; route them around the loop.
    val selfNodes = pairs.where(col(aCol) === col(bCol))
      .select(col(aCol).as("node")).distinct()
    // Canonical child→parent edges (u > v), deduplicated. Each round
    // references the edge frame several times (bidir union, star joins),
    // so WITHOUT lineage truncation the logical plan multiplies ~8× per
    // round — exponential analysis blowup. cutLineage() (eager, policy-
    // selected: localCheckpoint locally, reliable checkpoint on cluster) both
    // materializes (the convergence probe reads blocks, not lineage) and
    // truncates the plan to the checkpointed RDD, keeping per-round plan
    // size constant; unlike persist it registers nothing in cacheManager,
    // so the loop is pin-neutral by construction.
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .cutLineage()
    var cnt = edges.count()
    var rounds = 0
    var converged = cnt == 0L
    while (!converged && rounds < maxRounds) {
      // Large-star: for every node's neighborhood (both directions), hang
      // each STRICTLY LARGER neighbor off m = min(neighborhood ∪ self).
      // Each undirected edge is emitted exactly once — from its smaller
      // endpoint's group — so the output stays O(m).
      val bidir = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = bidir.groupBy(col("u")).agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      val ls = bidir.join(lsMin, Seq("u")).where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // Small-star: edges now point child→parent (u > v); rewire every
      // parent (and the child itself) to the child's minimum parent.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, Seq("u"))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .cutLineage()
      val nextCnt = ss.count()
      converged = nextCnt == cnt && ss.exceptAll(edges).limit(1).isEmpty
      edges = ss
      cnt = nextCnt
      rounds += 1
    }
    // Fixpoint = disjoint stars: every non-root points at its component
    // min; roots (and self-pair singletons) label themselves.
    val labels = edges.select(col("u").as("node"), col("v").as("label"))
      .unionByName(edges.select(col("v").as("node"), col("v").as("label")))
      .unionByName(selfNodes.select(col("node"), col("node").as("label")))
      .groupBy(col("node")).agg(min(col("label")).as("cluster_id"))
    (labels.cutLineage(), rounds)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialized ANN index — the BUILD-ONCE / PROBE-MANY seam
  * (round-9 verdict item 3).
  *
  * q31/q45 demonstrate SRP-LSH and IVF semantics, but they rebuild the
  * bucket/cell structure inline inside one query. A production corpus
  * pipeline builds the index ONCE (a heavy full-corpus pass) and probes
  * it MANY times (cheap per-query work against the materialized
  * layout). This object is that seam:
  *
  *   - `buildSrp` / `buildIvf` write the index as parquet PARTITIONED
  *     BY the coarse key (SRP bucket / IVF cell). The directory layout
  *     is the index: a probe joins on the partition column with a
  *     broadcast query side, so Spark's dynamic partition pruning reads
  *     ONLY the probed buckets/cells — at 100 TB the probe touches
  *     corpus/2^planes (resp. corpus/cells) bytes, not the corpus.
  *   - `probeSrp` / `probeIvf` read the materialized index and answer
  *     top-k; the corpus-side SRP signatures / cell assignments are
  *     NOT recomputed — that work was paid once at build time.
  *   - `ensureBuilt` makes a gate/caller build-if-missing exactly once
  *     per JVM (concurrent callers block on the same key), so several
  *     probe queries share one build — the probe-many contract.
  *
  * Partition-count note: `partitionBy` is the right layout while the
  * coarse key stays in the thousands (SRP planes ≤ ~12, IVF cells ≤
  * ~4096 — each partition dir must hold many row groups to be worth
  * pruning). Past that, switch to `Materialize.bucketedTable` on the
  * coarse key: same co-location, constant directory count, exchange-
  * free probe joins (BucketingSpec pins that plan shape).
  *
  * Determinism matches q31/q45 exactly — SRP planes from
  * [[Similarity.planeComponent]], IVF centroids = first `numCells`
  * vectors (a trained k-means would slot in identically), cosines via
  * the codegen'd sequential-fold [[Similarity.dot]] — so the DuckDB
  * oracles recompute the identical structure inline.
  */
object AnnIndex {

  // ── build-once / probe-many registry ──────────────────────────────
  // computeIfAbsent blocks concurrent callers on the same path, so the
  // first caller builds while the rest wait, then everyone probes one
  // materialized index. Keyed by path — callers embed the corpus
  // discriminator (e.g. the sf dir) in the path.
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Run `build` exactly once per JVM for `path`; later callers no-op
    * (or block until the in-flight build finishes). */
  def ensureBuilt(path: String)(build: => Unit): Unit =
    built.computeIfAbsent(path, _ => { build; java.lang.Boolean.TRUE })

  /** Test hook: forget a path so the next ensureBuilt rebuilds. */
  def invalidate(path: String): Unit = built.remove(path)

  // ── index manifest ─────────────────────────────────────────────────
  // The build parameters ARE part of the index: probing an SRP layout
  // with the wrong `planes`/`dim` computes signatures in a different
  // space and silently returns near-empty junk. Builds therefore stamp
  // a tiny manifest file into the index dir; knob-taking maintenance
  // (appendSrp) validates against it, and the path-based probe overloads
  // read their knobs FROM it so the mismatch class cannot exist.

  private val ManifestFile = "_graft_index_manifest"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeManifest(spark: SparkSession, path: String,
      kv: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, ManifestFile)
    val out = fs(spark, path).create(p, true)
    try out.write(kv.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Read an index's build manifest (empty for pre-manifest indexes). */
  def readManifest(spark: SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, ManifestFile)
    val f = fs(spark, path)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8").linesIterator
        .map(_.trim).filter(_.nonEmpty)
        .map { l =>
          // explicit validation, not a pattern-bind: a truncated write or
          // manual edit must fail with the path and offending line, not an
          // opaque MatchError
          val i = l.indexOf('=')
          if (i <= 0) throw new IllegalStateException(
            s"malformed index manifest line '$l' in $p — every line must " +
              "be key=value; the manifest was truncated or hand-edited")
          (l.substring(0, i), l.substring(i + 1))
        }.toMap
      finally in.close()
    }
  }

  private def requireManifest(spark: SparkSession, path: String,
      expect: Map[String, String]): Unit = {
    val m = readManifest(spark, path)
    if (m.nonEmpty) expect.foreach { case (k, v) =>
      val got = m.getOrElse(k, "<absent>")
      if (got != v) throw new IllegalStateException(
        s"index at $path was built with $k=$got but caller passed $k=$v — " +
          "probing/appending with mismatched build parameters returns " +
          "silently wrong results; use the manifest (readManifest) or the " +
          "path-based probe overloads, which take knobs from the index")
    }
  }

  // ── SRP-LSH index ──────────────────────────────────────────────────

  /** The SRP index frame: (id, vec, bucket). */
  def srpIndexFrame(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int): DataFrame =
    vecs.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.srpBucket(col(vecCol), planes, dim).as("bucket"))

  /** Build-once: materialize the SRP index partitioned by bucket, with
    * the build knobs stamped into the manifest. */
  def buildSrp(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int, path: String): Unit = {
    // fanOutRead: the planes×dim dot products are per-row CPU; an
    // under-split corpus scan serialized the whole build on one task
    // (measured 4.2 s single-task at local[32]). The hash(bucket)
    // repartition then lands each bucket in exactly one write task —
    // same one-file-per-bucket layout as the single-task write, computed
    // at full width.
    // pinned-width repartition (fanOutByKey): a bare repartition(col) is
    // AQE-coalescible, and a small index frame coalesced to ONE task made
    // that task open/write every bucket directory serially (measured ~3 s
    // single-task at sf0.1 for a 222-dir sweep layout). Hash(bucket) at
    // explicit width keeps one file per bucket, written in parallel.
    Skew.fanOutByKey(
        srpIndexFrame(Skew.fanOutRead(vecs), idCol, vecCol, planes, dim),
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    writeManifest(vecs.sparkSession, path, Map(
      "kind" -> "srp", "planes" -> planes.toString, "dim" -> dim.toString))
  }

  /** Path-based probe: knobs come FROM the index manifest, so a caller
    * cannot probe with mismatched planes/dim. `multiProbe` selects the
    * Hamming-1 recall knob. */
  def probeSrpAt(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      multiProbe: Boolean = false): DataFrame = {
    val m = readManifest(spark, path)
    require(m.get("kind").contains("srp"),
      s"$path is not an SRP index (manifest kind=${m.getOrElse("kind", "<absent>")})")
    val planes = m("planes").toInt; val dim = m("dim").toInt
    val index = readIndex(spark, path)
    if (multiProbe) probeSrpMultiProbe(index, queries, idCol, vecCol, k, planes, dim)
    else probeSrp(index, queries, idCol, vecCol, k, planes, dim)
  }

  /** Read a materialized index back. Partition-column values come back
    * via directory-name inference (int by default) — re-pin to long so
    * probe output schemas don't depend on the writer. */
  def readIndex(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val part = df.columns.intersect(Seq("bucket", "cell")).headOption
    part.fold(df)(c => df.withColumn(c, col(c).cast("long")))
  }

  /** Query-side probe targets: one (q_id, q_vec, bucket) row per probed
    * bucket. `hamming1 = true` additionally probes the `planes` buckets
    * at Hamming distance 1 (flip each sign bit) — the sign-LSH recall
    * knob. The frame is tiny (|queries| or (planes+1)·|queries| rows)
    * and is what gets BROADCAST against the index; it is also the unit
    * the recall-curve gates count probe cost over. */
  def srpProbeTargets(queries: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int, hamming1: Boolean): DataFrame = {
    // bit-flip masks are built as 1L << j; an INT literal would wrap past
    // j=31 (recommended planes tops out ~12, but the guard costs nothing)
    require(planes >= 1 && planes <= 62,
      s"srpProbeTargets: planes must be in [1, 62], got $planes")
    val q0 = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      Similarity.srpBucket(col(vecCol), planes, dim).as("b0"))
    if (!hamming1)
      q0.select(col("q_id"), col("q_vec"), col("b0").as("bucket"))
    else q0
      .withColumn("__j", explode(expr(s"sequence(-1, ${planes - 1})")))
      .withColumn("bucket", when(col("__j") < 0, col("b0"))
        .otherwise(expr("b0 ^ shiftleft(cast(1 as bigint), __j)")))
      .select(col("q_id"), col("q_vec"), col("bucket"))
  }

  /** Scored candidate pairs for a probe-target frame: the equi-join on
    * the PARTITION column `bucket` with the broadcast target side
    * dynamic-partition-prunes the index scan to the probed buckets;
    * self-pairs excluded. Buckets partition the corpus, so multi-probe
    * target sets yield disjoint candidates — no dedup stage. */
  def srpCandidates(index: DataFrame, targets: DataFrame): DataFrame =
    index.join(broadcast(targets), Seq("bucket"))
      .where(col("q_id") =!= col("id"))
      .select(col("q_id"), col("bucket"), col("id").as("n_id"),
        Similarity.cosine(col("q_vec"), col("vec")).as("cos"))

  /** Rank scored candidates to top-k per query (ties break on n_id). */
  private def rankTopK(scored: DataFrame, coarseCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.select(col("q_id"), col(coarseCol), col("n_id"), col("cos"),
        row_number().over(w).as("rnk"))
      .where(col("rnk") <= k)
  }

  /** Probe-many: top-k per query against a materialized SRP index.
    * Query signatures are computed on the (tiny, broadcast) query side
    * only; the index scan is DPP-pruned to the probed buckets. */
  def probeSrp(index: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int, dim: Int): DataFrame =
    rankTopK(srpCandidates(index,
      srpProbeTargets(queries, idCol, vecCol, planes, dim, hamming1 = false)),
      "bucket", k)

  /** Multi-probe SRP: probe the query's own bucket PLUS the `planes`
    * buckets at Hamming distance 1 — the standard recall knob for
    * sign-LSH (a near neighbor that lands across one hyperplane is
    * recovered at (planes+1)× probe cost instead of needing more
    * tables). The index scan is still DPP-pruned: (planes+1)·|queries|
    * bucket values reach the pruning subquery instead of |queries|. */
  def probeSrpMultiProbe(index: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int,
      dim: Int): DataFrame =
    rankTopK(srpCandidates(index,
      srpProbeTargets(queries, idCol, vecCol, planes, dim, hamming1 = true)),
      "bucket", k)

  // ── bucketed-table SRP layout (the >4k-coarse-keys path) ──────────

  /** The scaladoc's "past ~4k partition dirs, switch to a bucketed
    * table" path, made concrete: the same (id, vec, bucket) frame saved
    * as a parquet table CLUSTERED BY bucket — constant file count
    * (numBuckets), same co-location, no per-key directories. Use when
    * `planes` is large enough that 2^planes directories would drown the
    * filesystem metadata. */
  def buildSrpBucketed(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, dim: Int, path: String, tableName: String,
      numBuckets: Int): Unit = {
    graft.sources.Materialize.bucketedTable(
      srpIndexFrame(vecs, idCol, vecCol, planes, dim),
      path, tableName, "bucket", numBuckets)
    // same manifest contract as the partitioned layout: the build knobs
    // are part of the index, so a probe with foreign planes/dim fails
    // loudly instead of returning near-empty junk
    writeManifest(vecs.sparkSession, path, Map(
      "kind" -> "srp_bucketed", "planes" -> planes.toString,
      "dim" -> dim.toString, "numBuckets" -> numBuckets.toString))
  }

  /** Probe cap: probed coarse-key values are collected to a literal IN
    * filter (that is what Spark's bucket pruning prunes on), so the
    * probe batch must stay driver-sized — the same loud-failure contract
    * as the partitioned merge. */
  val MaxProbedBuckets: Int = 100000

  /** Probe the bucketed layout: the probed bucket VALUES become a
    * literal IN filter, which Spark's bucket pruning turns into
    * "SelectedBucketsCount: k out of numBuckets" on the scan — the
    * bucketed twin of the partitioned layout's DPP. Results are
    * identical to probeSrp/probeSrpMultiProbe over the same corpus
    * (pinned in AnnIndexSpec). */
  def probeSrpBucketed(spark: SparkSession, tableName: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      planes: Int, dim: Int, multiProbe: Boolean = false): DataFrame = {
    // validate the caller's knobs against the manifest stamped at the
    // table's storage location (lenient for pre-manifest tables)
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)).location
    requireManifest(spark, loc.toString, Map("kind" -> "srp_bucketed",
      "planes" -> planes.toString, "dim" -> dim.toString))
    val targets = srpProbeTargets(queries, idCol, vecCol, planes, dim,
      hamming1 = multiProbe)
    val probed = targets.select(col("bucket")).distinct()
      .limit(MaxProbedBuckets + 1).collect().map(_.getLong(0))
    if (probed.length > MaxProbedBuckets)
      throw new IllegalStateException(
        s"probeSrpBucketed: > $MaxProbedBuckets probed buckets — batch the " +
          "query set or use the partitioned layout's DPP join")
    val idx = spark.table(tableName).where(col("bucket").isin(probed: _*))
    rankTopK(srpCandidates(idx, targets), "bucket", k)
  }

  // ── IVF index ──────────────────────────────────────────────────────

  /** Vector width probed from one row (bounded: limit(1)) — stamped into
    * IVF manifests so maintenance can validate batch geometry. */
  private def vecDim(df: DataFrame, vecCol: String): Int = {
    val r = df.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(r.nonEmpty, "cannot build an ANN index over an empty corpus")
    r(0).getInt(0)
  }

  /** Max-dot cell assignment against a (broadcast) centroid table with
    * columns (cid, cvec). */
  private def assign(df: DataFrame, cent: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // fanOutRead: numCells dot products per row against the broadcast
    // centroids — same under-split-scan serialization as buildSrp
    val scored = Skew.fanOutRead(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .crossJoin(broadcast(cent))
      .select(col("id"), col("v"), col("cid"),
        Similarity.dot(col("v"), col("cvec")).as("d"))
    val w = Window.partitionBy(col("id")).orderBy(col("d").desc, col("cid"))
    scored.select(col("id"), col("v"), col("cid"),
        row_number().over(w).as("__rn"))
      .where(col("__rn") === 1)
      .select(col("id"), col("v"), col("cid").as("cell"))
  }

  /** Build-once: centroid table + the corpus assigned to cells,
    * partitioned by cell. Centroids = the `numCells` vectors with the
    * SMALLEST ids — a rank, not the literal `id < numCells` predicate,
    * so a corpus whose id space is not 0-based dense (ids starting at
    * 1000, say) still seeds exactly `numCells` centroids instead of
    * silently writing a degenerate index. (On a dense 0-based corpus the
    * two are identical, which is what the inline oracles recompute.) */
  def buildIvf(candidates: DataFrame, idCol: String, vecCol: String,
      numCells: Int, path: String): Unit = {
    val dim = vecDim(candidates, vecCol)
    val cent = candidates
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .orderBy(col("cid")).limit(numCells)
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    val centBack = candidates.sparkSession.read.parquet(s"$path/centroids")
    // pinned width for the same serial-write reason as buildSrp
    Skew.fanOutByKey(assign(candidates, centBack, idCol, vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    writeManifest(candidates.sparkSession, path, Map(
      "kind" -> "ivf", "cells" -> numCells.toString,
      "dim" -> dim.toString, "centroids" -> "firstN"))
  }

  /** Query-side probe targets for IVF: each query's `nprobe` nearest
    * cells via the materialized centroids — (q_id, q_vec, cell), one
    * row per probed cell. `nprobe = 1` is classic IVF; raising it is
    * THE IVF recall knob (probe cost grows as nprobe·corpus/cells). */
  def ivfProbeTargets(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    val qs = queries.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cent))
      .select(col("id"), col("v"), col("cid"),
        Similarity.dot(col("v"), col("cvec")).as("d"))
    val wq = Window.partitionBy(col("id")).orderBy(col("d").desc, col("cid"))
    qs.select(col("id"), col("v"), col("cid"),
        row_number().over(wq).as("__rn"))
      .where(col("__rn") <= nprobe)
      .select(col("id").as("q_id"), col("v").as("q_vec"),
        col("cid").as("cell"))
  }

  /** Scored candidate pairs across the probed cells — the cells scan is
    * DPP-pruned to the probed cells by the broadcast equi-join. */
  def ivfCandidates(cells: DataFrame, targets: DataFrame): DataFrame =
    cells.join(broadcast(targets), Seq("cell"))
      .where(col("q_id") =!= col("id"))
      .select(col("q_id"), col("cell"), col("id").as("n_id"),
        Similarity.cosine(col("q_vec"), col("v")).as("cos"))

  /** Probe-many: assign each query to its `nprobe` nearest cells via
    * the materialized centroids, then top-k across the probed cells. */
  def probeIvf(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 1): DataFrame =
    rankTopK(ivfCandidates(readIndex(spark, s"$path/cells"),
      ivfProbeTargets(spark, path, queries, idCol, vecCol, nprobe)),
      "cell", k)

  // ── trained centroids ──────────────────────────────────────────────

  /** Deterministic fixed-point Lloyd k-means over the corpus (q114's
    * arithmetic, factored here so `buildIvfTrained` can slot trained
    * centroids into the index layout): coordinates quantize ONCE to
    * BIGINT micro-units (floor(x·10⁶) — the only float touch), distances
    * and argmin are integer (ties break on cid), centroid means are an
    * IEEE-exact <2⁵³ double floor-div. A fixed `rounds` count is
    * therefore bit-reproducible at any parallelism, and a SQL oracle
    * can recompute the identical centroids. Seeds = the first `k` ids
    * (the deterministic-init contract). Returns (cid, cvec
    * array<double>) with cvec = quantized mean / 10⁶ — each element an
    * exact double both engines reproduce. Per round: broadcast the k×dim
    * centroid table, partial-agg distance sums on the vector key,
    * window-argmin, one partial agg for new centroids — two exchanges
    * per round, both on the vector key. Cells that capture no vectors
    * disappear (classic Lloyd); downstream layouts simply have fewer
    * cells. */
  def trainCentroidsKMeans(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"trainCentroidsKMeans: rounds must be >= 1, got $rounds")
    val ex = vecs
      .select(col(idCol).as("vid"), posexplode(col(vecCol)).as(Seq("dim", "xf")))
      .select(col("vid"), col("dim").cast("long").as("dim"),
        floor(col("xf").cast("double") * lit(1000000.0d)).cast("long").as("xq"))
    // seeds = the k SMALLEST vids (a rank, not `vid < k`): an id space
    // that is not 0-based dense still yields exactly k seeds instead of
    // silently training fewer/zero centroids. Identical to `vid < k` on
    // a dense 0-based corpus (what the inline oracles recompute).
    val seeds = vecs.select(col(idCol).cast("long").as("vid")).distinct()
      .orderBy(col("vid")).limit(k)
    var cent = ex.join(broadcast(seeds), Seq("vid"))
      .select(col("vid").as("cid"), col("dim"), col("xq").as("cq"))
    for (_ <- 1 to rounds) {
      val d2 = ex.join(broadcast(cent), Seq("dim"))
        .groupBy(col("vid"), col("cid"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val w = Window.partitionBy(col("vid")).orderBy(col("d2"), col("cid"))
      val asg = d2.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("vid"), col("cid"))
      cent = ex.join(asg, Seq("vid"))
        .groupBy(col("cid"), col("dim"))
        .agg(floor(sum(col("xq")).cast("double") / count(lit(1)))
          .cast("long").as("cq"))
    }
    cent.groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cq")))).as("pairs"))
      .select(col("cid"),
        expr("transform(pairs, p -> CAST(p.cq AS DOUBLE) / 1000000.0D)")
          .as("cvec"))
  }

  /** Build-once with TRAINED centroids: same layout as [[buildIvf]] but
    * the coarse quantizer is the fixed-point k-means above instead of
    * the first-N fallback, so cell occupancy is geometry-balanced
    * rather than data-order-dependent. Cell assignment stays max-dot
    * against the (now trained) centroid table — the same rule
    * [[probeIvf]] applies at probe time, which is the only consistency
    * the layout needs. */
  def buildIvfTrained(candidates: DataFrame, idCol: String, vecCol: String,
      numCells: Int, rounds: Int, path: String): Unit = {
    val dim = vecDim(candidates, vecCol)
    trainCentroidsKMeans(candidates, idCol, vecCol, numCells, rounds)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val centBack = candidates.sparkSession.read.parquet(s"$path/centroids")
    // pinned width for the same serial-write reason as buildSrp
    Skew.fanOutByKey(assign(candidates, centBack, idCol, vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    writeManifest(candidates.sparkSession, path, Map(
      "kind" -> "ivf", "cells" -> numCells.toString,
      "dim" -> dim.toString, "centroids" -> s"kmeans_r$rounds"))
  }

  // ── incremental maintenance ────────────────────────────────────────

  /** Append a new corpus batch into a materialized SRP index WITHOUT a
    * full rebuild: the batch is signed with the same (data-independent)
    * hyperplanes and merged into the bucket-partitioned layout via
    * [[IncrementalMerge.mergeIntoPartitionedTarget]] with the bucket as
    * the partition key — only the buckets the batch lands in are read
    * and rewritten (≤ 2^planes partitions, bounded by construction), so
    * at 100 TB an append costs O(batch + touched buckets), not
    * O(corpus).
    *
    * Update contract (inherited from the partitioned merge): the bucket
    * is a pure function of the vector, so a re-appearing id with an
    * UNCHANGED vector lands in its old bucket and upserts cleanly
    * (keep-new, no duplicate). An id re-appearing with a CHANGED vector
    * is a partition-moving update — its stale row survives in the old,
    * untouched bucket, exactly the case the merge scaladoc excludes.
    * Vector mutations therefore require a delete-first pass or a full
    * rebuild; this path is for corpus GROWTH, the overwhelmingly common
    * maintenance event. */
  def appendSrp(spark: SparkSession, path: String, newVecs: DataFrame,
      idCol: String, vecCol: String, planes: Int, dim: Int,
      stagePath: String): Unit = {
    // an append signed with the wrong planes/dim would scatter the batch
    // into a foreign bucket space — fail loudly against the manifest
    requireManifest(spark, path, Map(
      "kind" -> "srp", "planes" -> planes.toString, "dim" -> dim.toString))
    IncrementalMerge.mergeIntoPartitionedTarget(spark, path,
      srpIndexFrame(newVecs, idCol, vecCol, planes, dim),
      keys = Seq("id"), partitionCol = "bucket", stagePath = stagePath)
  }

  /** Delete ids from a materialized index (SRP root or IVF `cells`
    * dir): locate the victims' partitions with a column-pruned scan of
    * (id, coarse key) — the coarse key is the PARTITION column, so the
    * locate pass reads one slim column, not vectors — then rewrite ONLY
    * the touched partitions without the victims (dynamic partition
    * overwrite, staged like the merge). Deletes are small batches by
    * contract (`ids` is broadcast); cost is O(touched partitions).
    *
    * This is the missing half of the mutation story: a CHANGED vector is
    * `deleteIds(old id)` + `append*(new row)` — the delete clears the
    * stale row from its OLD bucket that a bare append would strand. */
  def deleteIds(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, stagePath: String): Unit = {
    val victims = ids.select(col(idCol).cast("long").as("__del_id"))
    val idx = readIndex(spark, path)
    val part = idx.columns.intersect(Seq("bucket", "cell")).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"$path is not a graft ANN index (no bucket/cell partition column)"))
    // bounded like the partitioned merge: the locate fetch itself is
    // capped, and blowing the cap fails loudly instead of hauling an
    // unbounded partition list through the driver
    val cap = IncrementalMerge.MaxTouchedPartitions
    val touched = idx.join(broadcast(victims), col("id") === col("__del_id"))
      .select(col(part)).distinct()
      .limit(cap + 1).collect().map(_.getLong(0))
    if (touched.length > cap)
      throw new IllegalStateException(
        s"deleteIds: delete touches > $cap distinct '$part' partitions — " +
          "that is a full-index rewrite wearing delete clothes; rebuild " +
          "instead")
    if (touched.nonEmpty) {
      val survivors = idx.where(col(part).isin(touched: _*))
        .join(broadcast(victims), col("id") === col("__del_id"), "left_anti")
      survivors.write.mode("overwrite").parquet(stagePath)
      val staged = spark.read.parquet(stagePath)
      // dynamic overwrite only replaces partitions PRESENT in the staged
      // data — a partition emptied by the delete would keep its old
      // files. Remove fully-emptied partition dirs explicitly.
      val stillThere = staged.select(col(part)).distinct()
        .collect().map(_.getLong(0)).toSet
      touched.filterNot(stillThere).foreach { v =>
        fs(spark, path).delete(
          new org.apache.hadoop.fs.Path(path, s"$part=$v"), true)
      }
      if (stillThere.nonEmpty)
        staged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(part)
          .parquet(path)
      fs(spark, stagePath).delete(
        new org.apache.hadoop.fs.Path(stagePath), true)
      ()
    }
  }

  /** Append a new corpus batch into a materialized IVF index: the batch
    * is assigned via the MATERIALIZED centroid table (centroids are
    * frozen at build time — the standard IVF contract; retrain =
    * rebuild), then merged into the cell-partitioned layout touching
    * only the cells the batch lands in.
    *
    * Manifest parity with [[appendSrp]]: `dim` is the caller's claim of
    * the batch's vector width — a batch whose geometry differs from the
    * index's would max-dot against truncated/padded centroids and land
    * in silently-wrong cells, so it is validated against the stamped
    * manifest before any work happens. */
  def appendIvf(spark: SparkSession, path: String, newVecs: DataFrame,
      idCol: String, vecCol: String, dim: Int, stagePath: String): Unit = {
    requireManifest(spark, path, Map(
      "kind" -> "ivf", "dim" -> dim.toString))
    val cent = spark.read.parquet(s"$path/centroids")
    IncrementalMerge.mergeIntoPartitionedTarget(spark, s"$path/cells",
      assign(newVecs, cent, idCol, vecCol),
      keys = Seq("id"), partitionCol = "cell", stagePath = stagePath)
  }
}

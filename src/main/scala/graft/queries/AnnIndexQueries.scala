package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.AnnIndex
import graft.plans.CheckpointPolicy.DataFrameCutOps
import graft.sources.Tables

/** Materialized ANN index gates — the build-once / probe-many seam
  * (round-9 verdict item 3). q31/q45 prove the SRP/IVF math inline;
  * these four gates prove the PRODUCTION shape: the index is written
  * once as cell/bucket-partitioned parquet (the directory layout IS
  * the index), probes join on the partition column with a broadcast
  * query side so dynamic partition pruning reads only the probed
  * buckets, and `AnnIndex.ensureBuilt` lets the build and probe gates
  * share ONE materialized build per corpus per JVM. The DuckDB
  * oracles recompute the identical deterministic structure inline —
  * what's under test is that the materialize→read-back→probe path
  * returns byte-identical answers to the inline math.
  */
object AnnIndexQueries {

  // Sequential dot product CTE fragment (DuckDB) — identical op order
  // to Similarity.dot (float→double casts, left-to-right fold).
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1,65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x,y)->x+y)"

  // DuckDB SRP bucket CTE body for `planes` hyperplanes (q31's formula).
  private def srpSql(planes: Int): String =
    s"""CAST(list_sum(list_transform(range(0,$planes), j ->
          CASE WHEN list_reduce(list_transform(range(0,64), d ->
                 embedding[d+1]::DOUBLE * ((((j*97 + d*31) % 13) - 6)::DOUBLE / 6.0::DOUBLE)), (x,y)->x+y) > 0
               THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)"""

  /** Per-corpus scratch path: the sf dir is baked into the path so two
    * corpora never share (or overwrite) one index in the same JVM, and the
    * pid is baked in so two JVMs on the same host (sbt test alongside a
    * bench run) never race an overwrite-build against another process's
    * probe of the same directory — ensureBuilt's registry is per-JVM, so
    * the path must be too. */
  private def indexPath(kind: String, dir: String): String =
    java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_ann_${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"_p${ProcessHandle.current().pid()}").toString

  private val SrpPlanes = 6
  private val IvfCells = 12
  private val KmRounds = 2

  private def ensureSrp(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("srp", dir)
    AnnIndex.ensureBuilt(path) {
      AnnIndex.buildSrp(Tables.embeddings(s, dir), "vec_id", "embedding",
        planes = SrpPlanes, dim = 64, path = path)
    }
    path
  }

  /** Planes-sweep twin indexes (q399): one materialized index per
    * planes setting, kind-keyed so they never collide with the q380
    * index or each other. */
  private def ensureSrpPlanes(s: org.apache.spark.sql.SparkSession,
      dir: String, planes: Int): String = {
    val path = indexPath(s"srp$planes", dir)
    AnnIndex.ensureBuilt(path) {
      AnnIndex.buildSrp(Tables.embeddings(s, dir), "vec_id", "embedding",
        planes = planes, dim = 64, path = path)
    }
    path
  }

  private def ensureIvf(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("ivf", dir)
    AnnIndex.ensureBuilt(path) {
      AnnIndex.buildIvf(Tables.embeddings(s, dir), "vec_id", "embedding",
        numCells = IvfCells, path = path)
    }
    path
  }

  private def ensureIvfTrained(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("ivftr", dir)
    AnnIndex.ensureBuilt(path) {
      AnnIndex.buildIvfTrained(Tables.embeddings(s, dir), "vec_id",
        "embedding", numCells = IvfCells, rounds = KmRounds, path = path)
    }
    path
  }

  /** Incremental-maintenance twin of ensureSrp: the index is built from
    * 80% of the corpus (vec_id % 10 < 8), then the remaining batch is
    * APPENDED via the partitioned-merge path — the layout must end up
    * byte-equivalent to a full-corpus build. */
  private def ensureSrpInc(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("srpinc", dir)
    AnnIndex.ensureBuilt(path) {
      val emb = Tables.embeddings(s, dir)
      AnnIndex.buildSrp(emb.where(pmod(col("vec_id"), lit(10)) < 8),
        "vec_id", "embedding", planes = SrpPlanes, dim = 64, path = path)
      AnnIndex.appendSrp(s, path,
        emb.where(pmod(col("vec_id"), lit(10)) >= 8),
        "vec_id", "embedding", planes = SrpPlanes, dim = 64,
        stagePath = path + "_stage")
    }
    path
  }

  /** Incremental-maintenance twin of ensureIvf. The base split keeps
    * every centroid seed (vec_id < IvfCells) so the base build freezes
    * the SAME centroid table a full-corpus build would — the append
    * assigns the batch against those frozen centroids (the standard IVF
    * contract; retrain = rebuild). */
  private def ensureIvfInc(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("ivfinc", dir)
    AnnIndex.ensureBuilt(path) {
      val emb = Tables.embeddings(s, dir)
      val inBase = col("vec_id") < IvfCells ||
        pmod(col("vec_id"), lit(10)) < 8
      AnnIndex.buildIvf(emb.where(inBase),
        "vec_id", "embedding", numCells = IvfCells, path = path)
      AnnIndex.appendIvf(s, path, emb.where(!inBase),
        "vec_id", "embedding", dim = 64, stagePath = path + "_stage")
    }
    path
  }

  /** Delete twin: full build, then delete vec_id % 17 == 3 via the
    * touched-partitions-only delete path. */
  private def ensureSrpDel(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("srpdel", dir)
    AnnIndex.ensureBuilt(path) {
      val emb = Tables.embeddings(s, dir)
      AnnIndex.buildSrp(emb, "vec_id", "embedding",
        planes = SrpPlanes, dim = 64, path = path)
      AnnIndex.deleteIds(s, path,
        emb.where(pmod(col("vec_id"), lit(17)) === 3).select(col("vec_id")),
        "vec_id", stagePath = path + "_delstage")
    }
    path
  }

  /** Update twin: the changed-vector flow appendSrp alone excludes —
    * delete the victims from their OLD buckets, then append them with
    * the NEW (here: reversed) vectors into their new buckets. */
  private def ensureSrpUpd(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("srpupd", dir)
    AnnIndex.ensureBuilt(path) {
      val emb = Tables.embeddings(s, dir)
      AnnIndex.buildSrp(emb, "vec_id", "embedding",
        planes = SrpPlanes, dim = 64, path = path)
      val victims = emb.where(pmod(col("vec_id"), lit(29)) === 5)
      AnnIndex.deleteIds(s, path, victims.select(col("vec_id")),
        "vec_id", stagePath = path + "_delstage")
      AnnIndex.appendSrp(s, path,
        victims.select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", planes = SrpPlanes, dim = 64,
        stagePath = path + "_stage")
    }
    path
  }

  /** IVF delete twin (q394's flow on the CELL layout): full firstN
    * build, then delete vec_id % 17 == 3 from the cells dir via the
    * layout-generic touched-partitions-only delete. The centroid table
    * is FROZEN — victims that are also centroid seeds (vec_id 3 is)
    * stay in the quantizer, exactly the standard IVF contract. */
  private def ensureIvfDel(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("ivfdel", dir)
    AnnIndex.ensureBuilt(path) {
      val emb = Tables.embeddings(s, dir)
      AnnIndex.buildIvf(emb, "vec_id", "embedding",
        numCells = IvfCells, path = path)
      AnnIndex.deleteIds(s, s"$path/cells",
        emb.where(pmod(col("vec_id"), lit(17)) === 3).select(col("vec_id")),
        "vec_id", stagePath = path + "_delstage")
    }
    path
  }

  /** IVF update twin (q395's flow on the CELL layout): changed vectors
    * move CELLS, so the flow is delete-then-append; assignment of the
    * re-appended batch runs against the FROZEN original centroids
    * (vec_id 5 is both a victim and a centroid seed — its centroid
    * vector stays the ORIGINAL embedding; retrain = rebuild). */
  private def ensureIvfUpd(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("ivfupd", dir)
    AnnIndex.ensureBuilt(path) {
      val emb = Tables.embeddings(s, dir)
      AnnIndex.buildIvf(emb, "vec_id", "embedding",
        numCells = IvfCells, path = path)
      val victims = emb.where(pmod(col("vec_id"), lit(29)) === 5)
      AnnIndex.deleteIds(s, s"$path/cells", victims.select(col("vec_id")),
        "vec_id", stagePath = path + "_delstage")
      AnnIndex.appendIvf(s, path,
        victims.select(col("vec_id"), reverse(col("embedding")).as("embedding")),
        "vec_id", "embedding", dim = 64, stagePath = path + "_stage")
    }
    path
  }

  /** Bucketed-table twin (the >4k-coarse-keys layout): CLUSTERED BY
    * bucket instead of one directory per bucket. Registered under a
    * per-corpus/pid table name so concurrent JVMs never share catalog
    * entries or paths. */
  private def ensureSrpBucketed(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val path = indexPath("srpbkt", dir)
    val tbl = "graft_srp_bucketed_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") +
      s"_p${ProcessHandle.current().pid()}"
    AnnIndex.ensureBuilt(path) {
      AnnIndex.buildSrpBucketed(Tables.embeddings(s, dir), "vec_id",
        "embedding", planes = SrpPlanes, dim = 64, path = path,
        tableName = tbl, numBuckets = 8)
    }
    tbl
  }

  /** Per-partition layout checksum: row count + id checksum + integral
    * norm checksum over the ROUND-TRIPPED vectors (floor'd to
    * milli-units so the cross-row sum is order-free) — a vector
    * corrupted anywhere in the write path shifts the checksum. */
  private def layoutSummary(df: org.apache.spark.sql.DataFrame,
      part: String, vec: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(part))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("id")).as("id_checksum"),
        sum(floor(graft.operators.Similarity.dot(col(vec), col(vec))
          * 1000).cast("long")).as("sq_norm_milli_sum"))
      .orderBy(col(part))

  // DuckDB CTE block recomputing AnnIndex.trainCentroidsKMeans for
  // k=IvfCells, rounds=2 (q114's fixed-point arithmetic), ending in
  // `centv(cid, cvec)` (centroid vectors as exact doubles) and `tassign`
  // (max-dot cell assignment of the full corpus against them).
  private def kmeansCentroidsSql: String = s"""
        ex AS (
          SELECT vec_id, unnest(range(len(embedding))) AS dim,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                            * CAST(1000000 AS DOUBLE)) AS BIGINT) AS xq
          FROM embeddings),
        c0 AS (SELECT vec_id AS cid, dim, xq AS cq FROM ex WHERE vec_id < $IvfCells),
        d1 AS (SELECT e.vec_id, c.cid,
                      SUM((e.xq - c.cq) * (e.xq - c.cq)) AS d2
               FROM ex e JOIN c0 c USING (dim) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                 FROM d1) WHERE rn = 1),
        c1 AS (SELECT a.cid, e.dim,
                      CAST(floor(CAST(SUM(e.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
               FROM ex e JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        d2_ AS (SELECT e.vec_id, c.cid,
                       SUM((e.xq - c.cq) * (e.xq - c.cq)) AS d2
                FROM ex e JOIN c1 c USING (dim) GROUP BY 1, 2),
        a2 AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                 FROM d2_) WHERE rn = 1),
        c2 AS (SELECT a.cid, e.dim,
                      CAST(floor(CAST(SUM(e.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
               FROM ex e JOIN a2 a USING (vec_id) GROUP BY 1, 2),
        centv AS (SELECT cid, list(CAST(cq AS DOUBLE) / 1000000.0 ORDER BY dim) AS cvec
                  FROM c2 GROUP BY cid),
        tassign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, centv c) t WHERE rn = 1)"""

  val defs: Seq[QueryDef] = Seq(

    // SRP index BUILD gate: materialize the 6-plane bucket-partitioned
    // index, read it back, and summarize per bucket (count + id
    // checksum + integral norm checksum over the ROUND-TRIPPED vectors
    // (floor'd to milli-units so the cross-row sum is order-free) — a
    // vector corrupted by the parquet round-trip shifts the checksum).
    // The oracle recomputes the bucket assignment inline: the gate
    // passes iff the materialized directory layout holds exactly the
    // rows the SRP math says it must.
    QueryDef(
      "q380_srp_index_build",
      (s, dir) => {
        val path = ensureSrp(s, dir)
        layoutSummary(AnnIndex.readIndex(s, path), "bucket", "vec")
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket
          FROM embeddings)
        SELECT bucket, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM b GROUP BY bucket
        ORDER BY bucket""")),

    // SRP index PROBE gate: top-3 neighbours for 10 query vectors
    // against the MATERIALIZED index (signatures computed only on the
    // broadcast query side; the index scan is DPP-pruned to the probed
    // buckets). Shares the q380 build via ensureBuilt — in one session
    // the build runs once and both gates ride it.
    QueryDef(
      "q381_srp_index_probe",
      (s, dir) => {
        val path = ensureSrp(s, dir)
        val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        AnnIndex.probeSrp(AnnIndex.readIndex(s, path), q,
            "vec_id", "embedding", k = 3, planes = SrpPlanes, dim = 64)
          .select(col("q_id"), col("bucket"), col("n_id"), col("cos"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id q_id, embedding q_vec, bucket FROM b WHERE vec_id < 10),
        dots AS (
          SELECT q_id, q.bucket, c.vec_id n_id,
                 ${dotSql("q_vec", "c.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, bucket, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM dots)
        SELECT q_id, bucket, n_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk""")),

    // IVF index BUILD gate: materialize centroids (first 12 vectors)
    // plus the cell-partitioned assigned corpus, read back, summarize
    // per cell. Oracle recomputes the max-dot assignment inline.
    QueryDef(
      "q382_ivf_index_build",
      (s, dir) => {
        val path = ensureIvf(s, dir)
        layoutSummary(AnnIndex.readIndex(s, s"$path/cells"), "cell", "v")
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $IvfCells),
        assign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) t WHERE rn = 1)
        SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM assign GROUP BY cell
        ORDER BY cell""")),

    // IVF index PROBE gate: queries are assigned via the MATERIALIZED
    // centroid table, then probe only their own cell in the
    // cell-partitioned corpus (DPP prunes the rest). Shares the q382
    // build via ensureBuilt.
    QueryDef(
      "q383_ivf_index_probe",
      (s, dir) => {
        val path = ensureIvf(s, dir)
        val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        AnnIndex.probeIvf(s, path, q, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("cell"), col("n_id"), col("cos"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $IvfCells),
        assign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) t WHERE rn = 1),
        q AS (SELECT vec_id q_id, embedding q_vec, cell FROM assign WHERE vec_id < 10),
        dots AS (
          SELECT q_id, q.cell, a.vec_id n_id,
                 ${dotSql("q_vec", "a.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cos
          FROM assign a JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, cell, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM dots)
        SELECT q_id, CAST(cell AS BIGINT) AS cell, n_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk""")),

    // Multi-probe SRP: probe the query's own bucket plus all 6 buckets
    // at Hamming distance 1 (flip each sign bit) — the sign-LSH recall
    // knob. Buckets partition the corpus so probed candidate sets are
    // disjoint (no dedup stage); the index scan stays DPP-pruned, now
    // to (planes+1) buckets per query. Candidate pools strictly
    // contain q381's, so every q384 cosine at rank r is >= q381's at
    // rank r — the recall-vs-cost tradeoff made inspectable.
    QueryDef(
      "q384_srp_multiprobe",
      (s, dir) => {
        val path = ensureSrp(s, dir)
        val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        AnnIndex.probeSrpMultiProbe(AnnIndex.readIndex(s, path), q,
            "vec_id", "embedding", k = 3, planes = SrpPlanes, dim = 64)
          .select(col("q_id"), col("bucket"), col("n_id"), col("cos"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id q_id, embedding q_vec, bucket AS b0
              FROM b WHERE vec_id < 10),
        probes AS (
          SELECT q_id, q_vec,
                 CASE WHEN u.j < 0 THEN b0
                      ELSE xor(b0, (1::BIGINT << CAST(u.j AS INT))) END AS bucket
          FROM q, unnest(range(-1, $SrpPlanes)) AS u(j)),
        dots AS (
          SELECT p.q_id, p.bucket, c.vec_id n_id,
                 ${dotSql("p.q_vec", "c.embedding")}
                   / (sqrt(${dotSql("p.q_vec", "p.q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM b c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.q_id),
        ranked AS (
          SELECT q_id, bucket, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM dots)
        SELECT q_id, bucket, n_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk""")),

    // IVF nprobe=2: each query probes its TWO nearest cells instead of
    // one — the IVF recall knob (probe cost 2·corpus/cells). Shares the
    // q382 build; the cells scan is DPP-pruned to the probed cells.
    QueryDef(
      "q385_ivf_nprobe2",
      (s, dir) => {
        val path = ensureIvf(s, dir)
        val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        AnnIndex.probeIvf(s, path, q, "vec_id", "embedding", k = 3,
            nprobe = 2)
          .select(col("q_id"), col("cell"), col("n_id"), col("cos"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $IvfCells),
        assign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) t WHERE rn = 1),
        q AS (
          SELECT vec_id q_id, embedding q_vec, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c WHERE e.vec_id < 10) t WHERE rn <= 2),
        dots AS (
          SELECT q_id, q.cell, a.vec_id n_id,
                 ${dotSql("q_vec", "a.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cos
          FROM assign a JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, cell, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM dots)
        SELECT q_id, CAST(cell AS BIGINT) AS cell, n_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk""")),

    // SRP recall CURVE (round-10 verdict item 1): for 20 query vectors,
    // recall@10 of the materialized-index probe against the EXACT
    // cosine top-10 (q30's brute-force machinery), at both knob
    // settings — own-bucket only vs + all Hamming-1 buckets — alongside
    // the probe COST (scored candidate pairs). This is the table a user
    // reads to SET the knob: recall_ppm buys probe_cost_rows. All
    // integers (hits, costs, floor-ppm), so the curve is hash-stable;
    // the oracle recomputes exact top-10, both candidate pools, and
    // both recalls inline.
    QueryDef(
      "q386_srp_recall_curve",
      (s, dir) => {
        val path = ensureSrp(s, dir)
        val index = AnnIndex.readIndex(s, path)
        val emb = Tables.embeddings(s, dir)
        val q = emb.where(col("vec_id") < 20)
        val exact = graft.operators.Similarity
          .bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("n_id"))
        def leg(knob: String, hamming1: Boolean) = {
          val cand = AnnIndex.srpCandidates(index,
            AnnIndex.srpProbeTargets(q, "vec_id", "embedding",
              SrpPlanes, 64, hamming1))
          val probe =
            if (hamming1) AnnIndex.probeSrpMultiProbe(index, q,
              "vec_id", "embedding", k = 10, planes = SrpPlanes, dim = 64)
            else AnnIndex.probeSrp(index, q,
              "vec_id", "embedding", k = 10, planes = SrpPlanes, dim = 64)
          val cost = cand.agg(count(lit(1)).as("probe_cost_rows"))
          val hits = probe.select(col("q_id"), col("n_id"))
            .join(exact, Seq("q_id", "n_id"))
            .agg(count(lit(1)).as("hits"))
          cost.crossJoin(hits)
            .select(lit(knob).as("knob"), col("probe_cost_rows"), col("hits"))
        }
        leg("h0_single", hamming1 = false)
          .unionByName(leg("h1_multiprobe", hamming1 = true))
          .select(col("knob"), col("probe_cost_rows"), col("hits"),
            expr("hits * 1000000 div 200").as("recall_ppm"))
          .orderBy(col("knob"))
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id q_id, embedding q_vec, bucket AS b0
              FROM b WHERE vec_id < 20),
        exact_dots AS (
          SELECT q.q_id, c.vec_id n_id,
                 ${dotSql("q_vec", "c.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM embeddings c, q WHERE c.vec_id <> q.q_id),
        exact AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
            FROM exact_dots) WHERE rnk <= 10),
        probes AS (
          SELECT 'h0_single' AS knob, q_id, q_vec, b0 AS bucket FROM q
          UNION ALL
          SELECT 'h1_multiprobe' AS knob, q_id, q_vec,
                 CASE WHEN u.j < 0 THEN b0
                      ELSE xor(b0, (1::BIGINT << CAST(u.j AS INT))) END AS bucket
          FROM q, unnest(range(-1, $SrpPlanes)) AS u(j)),
        cand AS (
          SELECT p.knob, p.q_id, c.vec_id n_id,
                 ${dotSql("p.q_vec", "c.embedding")}
                   / (sqrt(${dotSql("p.q_vec", "p.q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM b c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.q_id),
        knobs AS (SELECT 'h0_single' AS knob UNION ALL SELECT 'h1_multiprobe' AS knob),
        cost AS (SELECT k.knob, COUNT(c.n_id) AS probe_cost_rows
                 FROM knobs k LEFT JOIN cand c USING (knob) GROUP BY k.knob),
        ann AS (SELECT knob, q_id, n_id FROM (
            SELECT knob, q_id, n_id,
                   row_number() OVER (PARTITION BY knob, q_id ORDER BY cos DESC, n_id) AS rnk
            FROM cand) WHERE rnk <= 10),
        hits AS (SELECT a.knob, COUNT(*) AS hits
                 FROM ann a JOIN exact e USING (q_id, n_id) GROUP BY a.knob)
        SELECT c.knob, CAST(c.probe_cost_rows AS BIGINT) AS probe_cost_rows,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               CAST(COALESCE(h.hits, 0) * 1000000 // 200 AS BIGINT) AS recall_ppm
        FROM cost c LEFT JOIN hits h USING (knob)
        ORDER BY knob""")),

    // IVF recall CURVE: recall@10 + probe cost at nprobe ∈ {1,2,3}
    // against the exact cosine top-10 — the companion table for the IVF
    // knob. Shares the q382 build via ensureBuilt.
    QueryDef(
      "q387_ivf_recall_curve",
      (s, dir) => {
        val path = ensureIvf(s, dir)
        val cells = AnnIndex.readIndex(s, s"$path/cells")
        val emb = Tables.embeddings(s, dir)
        val q = emb.where(col("vec_id") < 20)
        val exact = graft.operators.Similarity
          .bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("n_id"))
        def leg(np: Int) = {
          val cand = AnnIndex.ivfCandidates(cells,
            AnnIndex.ivfProbeTargets(s, path, q, "vec_id", "embedding", np))
          val probe = AnnIndex.probeIvf(s, path, q, "vec_id", "embedding",
            k = 10, nprobe = np)
          val cost = cand.agg(count(lit(1)).as("probe_cost_rows"))
          val hits = probe.select(col("q_id"), col("n_id"))
            .join(exact, Seq("q_id", "n_id"))
            .agg(count(lit(1)).as("hits"))
          cost.crossJoin(hits)
            .select(lit(np.toLong).as("knob"), col("probe_cost_rows"), col("hits"))
        }
        Seq(1, 2, 3).map(leg).reduce(_ unionByName _)
          .select(col("knob"), col("probe_cost_rows"), col("hits"),
            expr("hits * 1000000 div 200").as("recall_ppm"))
          .orderBy(col("knob"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $IvfCells),
        assign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) t WHERE rn = 1),
        q AS (SELECT vec_id q_id, embedding q_vec FROM embeddings WHERE vec_id < 20),
        exact_dots AS (
          SELECT q.q_id, c.vec_id n_id,
                 ${dotSql("q_vec", "c.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM embeddings c, q WHERE c.vec_id <> q.q_id),
        exact AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
            FROM exact_dots) WHERE rnk <= 10),
        qrank AS (
          SELECT q.q_id, q.q_vec, c.cid AS cell,
                 row_number() OVER (PARTITION BY q.q_id ORDER BY
                   ${dotSql("q_vec", "c.cvec")} DESC, c.cid) AS rn
          FROM q, cent c),
        knobs AS (SELECT unnest(range(1, 4)) AS knob),
        probes AS (SELECT k.knob, r.q_id, r.q_vec, r.cell
                   FROM knobs k JOIN qrank r ON r.rn <= k.knob),
        cand AS (
          SELECT p.knob, p.q_id, a.vec_id n_id,
                 ${dotSql("p.q_vec", "a.embedding")}
                   / (sqrt(${dotSql("p.q_vec", "p.q_vec")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cos
          FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id),
        cost AS (SELECT k.knob, COUNT(c.n_id) AS probe_cost_rows
                 FROM knobs k LEFT JOIN cand c USING (knob) GROUP BY k.knob),
        ann AS (SELECT knob, q_id, n_id FROM (
            SELECT knob, q_id, n_id,
                   row_number() OVER (PARTITION BY knob, q_id ORDER BY cos DESC, n_id) AS rnk
            FROM cand) WHERE rnk <= 10),
        hits AS (SELECT a.knob, COUNT(*) AS hits
                 FROM ann a JOIN exact e USING (q_id, n_id) GROUP BY a.knob)
        SELECT CAST(c.knob AS BIGINT) AS knob,
               CAST(c.probe_cost_rows AS BIGINT) AS probe_cost_rows,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               CAST(COALESCE(h.hits, 0) * 1000000 // 200 AS BIGINT) AS recall_ppm
        FROM cost c LEFT JOIN hits h USING (knob)
        ORDER BY knob""")),

    // TRAINED-centroid IVF build (round-10 verdict item 3): the coarse
    // quantizer is the deterministic fixed-point k-means (q114's
    // arithmetic, k=12, 2 Lloyd rounds) instead of the first-N
    // fallback, so cell occupancy is geometry-balanced rather than
    // data-order-dependent. The oracle recomputes the SAME training —
    // quantized integer distances, floor-div means — then the same
    // max-dot assignment, and the per-cell layout checksums must agree.
    QueryDef(
      "q388_ivf_trained_build",
      (s, dir) => {
        val path = ensureIvfTrained(s, dir)
        layoutSummary(AnnIndex.readIndex(s, s"$path/cells"), "cell", "v")
      },
      Some(s"""
        WITH $kmeansCentroidsSql
        SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM tassign GROUP BY cell
        ORDER BY cell""")),

    // TRAINED-centroid IVF probe: queries assign via the materialized
    // TRAINED centroid table and probe only their cell — identical probe
    // machinery to q383, different (trained) quantizer. Shares the q388
    // build via ensureBuilt.
    QueryDef(
      "q389_ivf_trained_probe",
      (s, dir) => {
        val path = ensureIvfTrained(s, dir)
        val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        AnnIndex.probeIvf(s, path, q, "vec_id", "embedding", k = 3)
          .select(col("q_id"), col("cell"), col("n_id"), col("cos"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""
        WITH $kmeansCentroidsSql,
        q AS (SELECT vec_id q_id, embedding q_vec, cell FROM tassign WHERE vec_id < 10),
        dots AS (
          SELECT q_id, q.cell, a.vec_id n_id,
                 ${dotSql("q_vec", "a.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cos
          FROM tassign a JOIN q ON a.cell = q.cell AND a.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, cell, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM dots)
        SELECT q_id, CAST(cell AS BIGINT) AS cell, n_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk""")),

    // Incremental SRP index maintenance (round-10 verdict item 4): build
    // from 80% of the corpus, APPEND the rest via the partitioned-merge
    // path (partition key = bucket; only touched buckets are read and
    // rewritten), then checksum the full layout per bucket. The oracle
    // recomputes the FULL-corpus assignment inline — the gate passes iff
    // append-then-probe is indistinguishable from a from-scratch
    // rebuild, row for row and vector for vector.
    QueryDef(
      "q390_srp_index_append",
      (s, dir) => {
        val path = ensureSrpInc(s, dir)
        layoutSummary(AnnIndex.readIndex(s, path), "bucket", "vec")
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket
          FROM embeddings)
        SELECT bucket, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM b GROUP BY bucket
        ORDER BY bucket""")),

    // Incremental IVF index maintenance: base build freezes the centroid
    // table, the appended batch assigns against the FROZEN centroids and
    // merges into only its touched cells; the post-append layout must
    // equal a full-corpus build's (the oracle recomputes it inline).
    QueryDef(
      "q391_ivf_index_append",
      (s, dir) => {
        val path = ensureIvfInc(s, dir)
        layoutSummary(AnnIndex.readIndex(s, s"$path/cells"), "cell", "v")
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $IvfCells),
        assign AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) t WHERE rn = 1)
        SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM assign GROUP BY cell
        ORDER BY cell""")),

    // Cell-BALANCE audit, first-N vs trained centroids — the reason to
    // train at all: IVF probe cost per query is the occupancy of the
    // probed cells, so the WORST-case probe is max_occ and the p50 probe
    // is ~avg_occ; a quantizer whose max/avg ratio (imbalance_permille,
    // 1000 = perfectly balanced) is high wastes the cells budget. The
    // gate emits both variants' occupancy spread from the MATERIALIZED
    // layouts; the oracle recomputes both assignments inline. Purely
    // integer — hash-stable.
    QueryDef(
      "q392_ivf_balance_audit",
      (s, dir) => {
        val pu = ensureIvf(s, dir)
        val pt = ensureIvfTrained(s, dir)
        def occ(path: String, variant: String) =
          AnnIndex.readIndex(s, s"$path/cells")
            .groupBy(col("cell")).agg(count(lit(1)).as("occ"))
            .agg(count(lit(1)).as("n_cells"), min(col("occ")).as("min_occ"),
              max(col("occ")).as("max_occ"), sum(col("occ")).as("n_vecs"))
            .select(lit(variant).as("variant"), col("n_cells"),
              col("min_occ"), col("max_occ"), col("n_vecs"),
              expr("max_occ * n_cells * 1000 div n_vecs")
                .as("imbalance_permille"))
        occ(pu, "firstN").unionByName(occ(pt, "trained"))
          .orderBy(col("variant"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $IvfCells),
        assign0 AS (
          SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${dotSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) t WHERE rn = 1),
        $kmeansCentroidsSql,
        occs AS (
          SELECT 'firstN' AS variant, cell, COUNT(*) AS occ FROM assign0 GROUP BY 1, 2
          UNION ALL
          SELECT 'trained' AS variant, cell, COUNT(*) AS occ FROM tassign GROUP BY 1, 2)
        SELECT variant, COUNT(*) AS n_cells,
               CAST(MIN(occ) AS BIGINT) AS min_occ,
               CAST(MAX(occ) AS BIGINT) AS max_occ,
               CAST(SUM(occ) AS BIGINT) AS n_vecs,
               CAST(MAX(occ) * COUNT(*) * 1000 // SUM(occ) AS BIGINT) AS imbalance_permille
        FROM occs GROUP BY variant
        ORDER BY variant""")),

    // TRAINED-IVF recall point: recall@10 + probe cost at nprobe=1
    // against the exact cosine top-10 — read next to q387's firstN row
    // to see what training buys (or costs) at EQUAL nprobe. Same
    // integer-ppm discipline as q386/q387.
    QueryDef(
      "q393_ivf_trained_recall",
      (s, dir) => {
        val path = ensureIvfTrained(s, dir)
        val cells = AnnIndex.readIndex(s, s"$path/cells")
        val emb = Tables.embeddings(s, dir)
        val q = emb.where(col("vec_id") < 20)
        val exact = graft.operators.Similarity
          .bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("n_id"))
        val cand = AnnIndex.ivfCandidates(cells,
          AnnIndex.ivfProbeTargets(s, path, q, "vec_id", "embedding", 1))
        val probe = AnnIndex.probeIvf(s, path, q, "vec_id", "embedding",
          k = 10, nprobe = 1)
        val cost = cand.agg(count(lit(1)).as("probe_cost_rows"))
        val hits = probe.select(col("q_id"), col("n_id"))
          .join(exact, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("hits"))
        cost.crossJoin(hits)
          .select(lit("trained_np1").as("knob"), col("probe_cost_rows"),
            col("hits"), expr("hits * 1000000 div 200").as("recall_ppm"))
      },
      Some(s"""
        WITH $kmeansCentroidsSql,
        q AS (SELECT vec_id q_id, embedding q_vec FROM embeddings WHERE vec_id < 20),
        exact_dots AS (
          SELECT q.q_id, c.vec_id n_id,
                 ${dotSql("q_vec", "c.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM embeddings c, q WHERE c.vec_id <> q.q_id),
        exact AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
            FROM exact_dots) WHERE rnk <= 10),
        qcell AS (
          SELECT q_id, q_vec, cid AS cell FROM (
            SELECT q.q_id, q.q_vec, c.cid,
                   row_number() OVER (PARTITION BY q.q_id ORDER BY
                     ${dotSql("q_vec", "c.cvec")} DESC, c.cid) AS rn
            FROM q, centv c) t WHERE rn = 1),
        cand AS (
          SELECT p.q_id, a.vec_id n_id,
                 ${dotSql("p.q_vec", "a.embedding")}
                   / (sqrt(${dotSql("p.q_vec", "p.q_vec")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cos
          FROM tassign a JOIN qcell p ON a.cell = p.cell AND a.vec_id <> p.q_id),
        ann AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
            FROM cand) WHERE rnk <= 10)
        SELECT 'trained_np1' AS knob,
               CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS probe_cost_rows,
               CAST((SELECT COUNT(*) FROM ann a JOIN exact e USING (q_id, n_id)) AS BIGINT) AS hits,
               CAST((SELECT COUNT(*) FROM ann a JOIN exact e USING (q_id, n_id)) * 1000000 // 200 AS BIGINT) AS recall_ppm""")),

    // Index DELETE: locate victims' partitions with a column-pruned
    // scan, rewrite ONLY those partitions without the victims (emptied
    // partition dirs removed explicitly). The post-delete layout must
    // equal a from-scratch build over the surviving corpus — the oracle
    // computes exactly that inline.
    QueryDef(
      "q394_srp_index_delete",
      (s, dir) => {
        val path = ensureSrpDel(s, dir)
        layoutSummary(AnnIndex.readIndex(s, path), "bucket", "vec")
      },
      Some(s"""
        WITH src AS (SELECT vec_id, embedding FROM embeddings
                     WHERE NOT (vec_id % 17 = 3)),
        b AS (SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket FROM src)
        SELECT bucket, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM b GROUP BY bucket
        ORDER BY bucket""")),

    // Index UPDATE = delete + append: victims' vectors change (here:
    // reversed), so they MOVE buckets — the flow a bare append excludes.
    // Post-update layout must equal a from-scratch build over the
    // updated corpus, stale old-bucket rows gone, new-bucket rows
    // present, vector payloads intact.
    QueryDef(
      "q395_srp_index_update",
      (s, dir) => {
        val path = ensureSrpUpd(s, dir)
        layoutSummary(AnnIndex.readIndex(s, path), "bucket", "vec")
      },
      Some(s"""
        WITH src AS (SELECT vec_id,
                            CASE WHEN vec_id % 29 = 5 THEN list_reverse(embedding)
                                 ELSE embedding END AS embedding
                     FROM embeddings),
        b AS (SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket FROM src)
        SELECT bucket, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM b GROUP BY bucket
        ORDER BY bucket""")),

    // Bucketed-table SRP probe (the >4k-coarse-keys layout): same corpus,
    // same SRP math, but CLUSTERED BY bucket into 8 files instead of one
    // directory per bucket — the probed bucket values become a literal IN
    // filter that Spark's bucket pruning turns into
    // SelectedBucketsCount (AnnIndexSpec pins the plan shape). Answers
    // must be byte-identical to the partitioned layout's (q381's oracle,
    // reused verbatim).
    QueryDef(
      "q396_srp_bucketed_probe",
      (s, dir) => {
        val tbl = ensureSrpBucketed(s, dir)
        val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        AnnIndex.probeSrpBucketed(s, tbl, q, "vec_id", "embedding",
            k = 3, planes = SrpPlanes, dim = 64)
          .select(col("q_id"), col("bucket"), col("n_id"), col("cos"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${srpSql(SrpPlanes)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id q_id, embedding q_vec, bucket FROM b WHERE vec_id < 10),
        dots AS (
          SELECT q_id, q.bucket, c.vec_id n_id,
                 ${dotSql("q_vec", "c.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, bucket, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
          FROM dots)
        SELECT q_id, bucket, n_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk""")),

    // SRP PLANES sweep: the OTHER axis of the recall grid. planes is
    // the knob a user sets FIRST (bucket granularity: cost ~ corpus /
    // 2^planes per probe) and multi-probe is the recovery lever on top;
    // q386 fixes planes=6, this gate measures planes ∈ {4, 8} × both
    // probe modes against the same exact top-10 — together they span
    // the full (planes, multi-probe) grid a deployment tunes over. One
    // materialized index per planes value, same integer-ppm discipline.
    QueryDef(
      "q399_srp_planes_sweep",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.where(col("vec_id") < 20)
        // the exact top-10 feeds all FOUR sweep legs below — materialize
        // it once (pin-neutral cut) instead of re-running the brute-force
        // corpus pass per leg
        val exact = graft.operators.Similarity
          .bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("n_id"))
          .cutLineage()
        def leg(planes: Int, knob: String, hamming1: Boolean) = {
          val index = AnnIndex.readIndex(s, ensureSrpPlanes(s, dir, planes))
          val cand = AnnIndex.srpCandidates(index,
            AnnIndex.srpProbeTargets(q, "vec_id", "embedding",
              planes, 64, hamming1))
          val probe =
            if (hamming1) AnnIndex.probeSrpMultiProbe(index, q,
              "vec_id", "embedding", k = 10, planes = planes, dim = 64)
            else AnnIndex.probeSrp(index, q,
              "vec_id", "embedding", k = 10, planes = planes, dim = 64)
          val cost = cand.agg(count(lit(1)).as("probe_cost_rows"))
          val hits = probe.select(col("q_id"), col("n_id"))
            .join(exact, Seq("q_id", "n_id"))
            .agg(count(lit(1)).as("hits"))
          cost.crossJoin(hits)
            .select(lit(planes.toLong).as("planes"), lit(knob).as("knob"),
              col("probe_cost_rows"), col("hits"))
        }
        Seq(leg(4, "h0_single", hamming1 = false),
            leg(4, "h1_multiprobe", hamming1 = true),
            leg(8, "h0_single", hamming1 = false),
            leg(8, "h1_multiprobe", hamming1 = true))
          .reduce(_ unionByName _)
          .select(col("planes"), col("knob"), col("probe_cost_rows"),
            col("hits"), expr("hits * 1000000 div 200").as("recall_ppm"))
          .orderBy(col("planes"), col("knob"))
      },
      Some {
        def block(planes: Int) = s"""
        b$planes AS (
          SELECT vec_id, embedding, ${srpSql(planes)} AS bucket
          FROM embeddings),
        q$planes AS (SELECT vec_id q_id, embedding q_vec, bucket AS b0
              FROM b$planes WHERE vec_id < 20),
        probes$planes AS (
          SELECT $planes AS planes, 'h0_single' AS knob, q_id, q_vec, b0 AS bucket FROM q$planes
          UNION ALL
          SELECT $planes, 'h1_multiprobe', q_id, q_vec,
                 CASE WHEN u.j < 0 THEN b0
                      ELSE xor(b0, (1::BIGINT << CAST(u.j AS INT))) END
          FROM q$planes, unnest(range(-1, $planes)) AS u(j)),
        cand$planes AS (
          SELECT p.planes, p.knob, p.q_id, c.vec_id n_id,
                 ${dotSql("p.q_vec", "c.embedding")}
                   / (sqrt(${dotSql("p.q_vec", "p.q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM b$planes c JOIN probes$planes p ON c.bucket = p.bucket AND c.vec_id <> p.q_id)"""
        s"""
        WITH ${block(4)}, ${block(8)},
        q AS (SELECT vec_id q_id, embedding q_vec FROM embeddings WHERE vec_id < 20),
        exact_dots AS (
          SELECT q.q_id, c.vec_id n_id,
                 ${dotSql("q_vec", "c.embedding")}
                   / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
          FROM embeddings c, q WHERE c.vec_id <> q.q_id),
        exact AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
            FROM exact_dots) WHERE rnk <= 10),
        cand AS (SELECT * FROM cand4 UNION ALL SELECT * FROM cand8),
        knobs AS (
          SELECT p AS planes, k AS knob
          FROM (VALUES (4, 'h0_single'), (4, 'h1_multiprobe'),
                       (8, 'h0_single'), (8, 'h1_multiprobe')) t(p, k)),
        cost AS (SELECT kn.planes, kn.knob, COUNT(c.n_id) AS probe_cost_rows
                 FROM knobs kn LEFT JOIN cand c
                   ON c.planes = kn.planes AND c.knob = kn.knob
                 GROUP BY kn.planes, kn.knob),
        ann AS (SELECT planes, knob, q_id, n_id FROM (
            SELECT planes, knob, q_id, n_id,
                   row_number() OVER (PARTITION BY planes, knob, q_id ORDER BY cos DESC, n_id) AS rnk
            FROM cand) WHERE rnk <= 10),
        hits AS (SELECT a.planes, a.knob, COUNT(*) AS hits
                 FROM ann a JOIN exact e USING (q_id, n_id)
                 GROUP BY a.planes, a.knob)
        SELECT CAST(c.planes AS BIGINT) AS planes, c.knob,
               CAST(c.probe_cost_rows AS BIGINT) AS probe_cost_rows,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               CAST(COALESCE(h.hits, 0) * 1000000 // 200 AS BIGINT) AS recall_ppm
        FROM cost c LEFT JOIN hits h
          ON h.planes = c.planes AND h.knob = c.knob
        ORDER BY planes, c.knob"""
      }),

    // IVF index DELETE (q394's gate for the CELL layout — the path the
    // round-11 verdict flagged as ungated): deleteIds detects the cell
    // partition column and rewrites only touched cells. Post-delete
    // layout must equal assigning the SURVIVING corpus against the
    // FROZEN full-corpus centroid table — which the oracle recomputes
    // inline (vec_id 3 is both a victim and a centroid seed: its row
    // leaves the cells, its centroid stays).
    QueryDef(
      "q404_ivf_index_delete",
      (s, dir) => {
        val path = ensureIvfDel(s, dir)
        layoutSummary(AnnIndex.readIndex(s, s"$path/cells"), "cell", "v")
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
                      FROM embeddings WHERE vec_id < $IvfCells),
        src AS (SELECT vec_id, embedding FROM embeddings
                WHERE NOT (vec_id % 17 = 3)),
        asg AS (SELECT vec_id, embedding, cid AS cell FROM (
            SELECT s.vec_id, s.embedding, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id ORDER BY
                     ${dotSql("s.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM src s, cent c) t WHERE rn = 1)
        SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM asg GROUP BY cell
        ORDER BY cell""")),

    // IVF index UPDATE = delete + append on the cell layout: victims'
    // vectors are reversed so they MOVE cells; the re-appended batch is
    // assigned against the FROZEN ORIGINAL centroids (vec_id 5 is both
    // a victim and a centroid seed — the quantizer keeps its original
    // vector; retrain = rebuild). Post-update layout must equal
    // assigning the UPDATED corpus against the original centroid table.
    QueryDef(
      "q405_ivf_index_update",
      (s, dir) => {
        val path = ensureIvfUpd(s, dir)
        layoutSummary(AnnIndex.readIndex(s, s"$path/cells"), "cell", "v")
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
                      FROM embeddings WHERE vec_id < $IvfCells),
        src AS (SELECT vec_id,
                       CASE WHEN vec_id % 29 = 5 THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
                FROM embeddings),
        asg AS (SELECT vec_id, embedding, cid AS cell FROM (
            SELECT s.vec_id, s.embedding, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id ORDER BY
                     ${dotSql("s.embedding", "c.cvec")} DESC, c.cid) AS rn
            FROM src s, cent c) t WHERE rn = 1)
        SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs,
               CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(FLOOR(${dotSql("embedding", "embedding")} * 1000)
                 AS BIGINT)) AS BIGINT) AS sq_norm_milli_sum
        FROM asg GROUP BY cell
        ORDER BY cell""")))
}

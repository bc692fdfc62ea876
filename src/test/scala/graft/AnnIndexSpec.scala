package graft

import org.apache.spark.sql.functions._
import graft.operators.AnnIndex

/** AnnIndex: the SRP (random-hyperplane) and IVF vector indexes, their
  * manifests and their probes, pinned at the unit level.
  *
  *  - Multi-probe bit-flip masks are built as `1L << j`: at planes=40
  *    (unreachable via the gates, which use 6) every Hamming-1 probe
  *    bucket differs from the home bucket in exactly one bit, with all 40
  *    positions covered. The planes-range guard rejects 0 and 63.
  *  - `appendSrp` keeps the merge's upsert contract: a re-appearing id
  *    with an unchanged vector upserts cleanly; a CHANGED vector moves
  *    buckets and leaves a stale row behind — the documented
  *    partition-moving exclusion, pinned so the hazard stays visible.
  *  - Manifests: path-based probes take their knobs from the index, a
  *    malformed manifest line fails naming the path and line, and a
  *    mismatched append or probe (wrong planes, wrong dim) fails loudly in
  *    the partitioned, bucketed and IVF layouts alike.
  *  - The bucketed layout's probe bucket-prunes its scan and matches the
  *    partitioned probe.
  *  - `trainCentroidsKMeans` emits dim-length double centroids, drops
  *    cells that capture no vectors, and seeds by id RANK (k smallest
  *    ids), so an id space starting at 1000 still trains k centroids.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Int): Array[Float] =
    Array.tabulate(64)(d => (((seed * 31 + d * 17) % 13) - 6) / 6.0f)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("multi-probe masks flip exactly one bit each, incl. planes > 32") {
    val q = Seq((0L, vec(1))).toDF("vec_id", "embedding")
    val t = AnnIndex.srpProbeTargets(q, "vec_id", "embedding",
      planes = 40, dim = 64, hamming1 = true)
      .select(col("bucket")).as[Long].collect().toVector
    assert(t.size == 41) // home bucket + one per plane
    val home = AnnIndex.srpProbeTargets(q, "vec_id", "embedding",
      planes = 40, dim = 64, hamming1 = false)
      .select(col("bucket")).as[Long].head()
    val flipped = t.filterNot(_ == home)
    assert(flipped.size == 40)
    val positions = flipped.map { b =>
      val x = b ^ home
      assert(java.lang.Long.bitCount(x) == 1,
        s"probe bucket $b differs from home $home in != 1 bit")
      java.lang.Long.numberOfTrailingZeros(x)
    }.toSet
    assert(positions == (0 until 40).toSet,
      s"expected bit positions 0..39, got $positions")
  }

  test("planes range guard rejects 0 and 63") {
    val q = Seq((0L, vec(1))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      AnnIndex.srpProbeTargets(q, "vec_id", "embedding", 0, 64, hamming1 = true)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.srpProbeTargets(q, "vec_id", "embedding", 63, 64, hamming1 = true)
    }
  }

  test("appendSrp upserts an unchanged re-appearing id; changed vectors are excluded") {
    val base = Seq((0L, vec(1)), (1L, vec(2)), (2L, vec(3)))
      .toDF("vec_id", "embedding")
    val path = tmp("graft_ann_srp") + "/idx"
    AnnIndex.buildSrp(base, "vec_id", "embedding", 6, 64, path)
    // id 1 reappears with its UNCHANGED vector + one genuinely new id:
    // same vector -> same bucket -> clean keep-new upsert
    val batch = Seq((1L, vec(2)), (3L, vec(4))).toDF("vec_id", "embedding")
    AnnIndex.appendSrp(spark, path, batch, "vec_id", "embedding", 6, 64,
      stagePath = path + "_stage")
    val idx = AnnIndex.readIndex(spark, path)
    assert(idx.count() == 4)
    assert(idx.groupBy(col("id")).count().where(col("count") > 1).count() == 0)

    // the documented EXCLUSION: a changed vector moves buckets, so the
    // stale row survives in its old (untouched) partition — append is
    // for corpus growth; vector mutations need delete-first or rebuild.
    // Pinned so the hazard is a visible contract, not a surprise.
    val moved = Seq((1L, vec(9))).toDF("vec_id", "embedding")
    def bucketOf(df: org.apache.spark.sql.DataFrame): Long =
      AnnIndex.srpProbeTargets(df, "vec_id", "embedding", 6, 64,
        hamming1 = false).select(col("bucket")).as[Long].head()
    assert(bucketOf(moved) != bucketOf(batch.where(col("vec_id") === 1L)),
      "precondition: the changed vector must land in a different bucket")
    AnnIndex.appendSrp(spark, path, moved, "vec_id", "embedding", 6, 64,
      stagePath = path + "_stage")
    val after = AnnIndex.readIndex(spark, path)
    assert(after.where(col("id") === 1L).count() == 2,
      "changed-vector re-append is expected to strand the stale row")
  }

  test("index manifest: path-probe takes knobs from the index; mismatched append fails loudly") {
    val corpus = (0 until 50).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val path = tmp("graft_ann_manifest") + "/idx"
    AnnIndex.buildSrp(corpus, "vec_id", "embedding", 6, 64, path)
    assert(AnnIndex.readManifest(spark, path) ==
      Map("kind" -> "srp", "planes" -> "6", "dim" -> "64"))

    // path-based probe reproduces the explicit-knob probe exactly
    val q = corpus.where(col("vec_id") < 3)
    val viaPath = AnnIndex.probeSrpAt(spark, path, q, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id", "rnk").collect().toSet
    val viaKnobs = AnnIndex.probeSrp(AnnIndex.readIndex(spark, path), q,
      "vec_id", "embedding", k = 3, planes = 6, dim = 64)
      .select("q_id", "n_id", "rnk").collect().toSet
    assert(viaPath == viaKnobs)

    // an append signed with the wrong planes would scatter the batch
    // into a foreign bucket space — must fail against the manifest
    val batch = Seq((100L, vec(100))).toDF("vec_id", "embedding")
    intercept[IllegalStateException] {
      AnnIndex.appendSrp(spark, path, batch, "vec_id", "embedding",
        planes = 8, dim = 64, stagePath = path + "_stage")
    }
    // and a non-SRP path is rejected by the probe
    intercept[IllegalArgumentException] {
      AnnIndex.probeSrpAt(spark, path + "_nonexistent", q,
        "vec_id", "embedding", k = 3)
    }
  }

  test("bucketed ANN layout: probe bucket-prunes the scan and matches the partitioned probe") {
    val corpus = (0 until 200).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val root = tmp("graft_ann_bucketed")
    AnnIndex.buildSrpBucketed(corpus, "vec_id", "embedding",
      planes = 6, dim = 64, path = s"$root/tbl",
      tableName = "ann_srp_pruned", numBuckets = 8)
    val q = corpus.where(col("vec_id") < 3)
    val bucketed = AnnIndex.probeSrpBucketed(spark, "ann_srp_pruned", q,
      "vec_id", "embedding", k = 3, planes = 6, dim = 64)

    AnnIndex.buildSrp(corpus, "vec_id", "embedding", 6, 64, s"$root/part")
    val partitioned = AnnIndex.probeSrp(
      AnnIndex.readIndex(spark, s"$root/part"), q,
      "vec_id", "embedding", k = 3, planes = 6, dim = 64)
    assert(bucketed.select("q_id", "n_id", "rnk").collect().toSet ==
      partitioned.select("q_id", "n_id", "rnk").collect().toSet)

    // the probed-bucket IN filter must reach the scan as BUCKET PRUNING —
    // the bucketed twin of the partitioned layout's DPP
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"expected bucket pruning on the probe scan, plan:\n$plan")
    spark.sql("DROP TABLE IF EXISTS ann_srp_pruned")
  }

  test("trainCentroidsKMeans: dim-length double centroids, empty cells dropped") {
    // two far-apart 1-point clusters + k=3 seeds: one seed captures
    // nothing after the first reassignment round
    val pts = Seq(
      (0L, Array.fill(64)(10.0f)), (1L, Array.fill(64)(-10.0f)),
      (2L, Array.fill(64)(10.1f)), (3L, Array.fill(64)(-10.1f)),
      (4L, Array.fill(64)(9.9f))).toDF("vec_id", "embedding")
    val cent = AnnIndex.trainCentroidsKMeans(pts, "vec_id", "embedding",
      k = 3, rounds = 2)
    val rows = cent.select(col("cid"), col("cvec")).as[(Long, Array[Double])]
      .collect().toMap
    assert(rows.nonEmpty && rows.size <= 3)
    rows.values.foreach(v => assert(v.length == 64))
    // the two sign-clusters must land on distinct surviving centroids
    assert(rows.values.exists(_.head > 0) && rows.values.exists(_.head < 0))
  }

  test("readManifest: malformed line fails with path + line, not MatchError") {
    val dir = tmp("ann_manifest")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_index_manifest"),
      "kind=srp\nplanes6\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      AnnIndex.readManifest(spark, dir)
    }
    assert(e.getMessage.contains("planes6"))
    assert(e.getMessage.contains("_graft_index_manifest"))
  }

  test("bucketed SRP probe rejects foreign planes via the manifest") {
    val corpus = (0L until 64L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val path = tmp("ann_srpbkt") + "/idx"
    AnnIndex.buildSrpBucketed(corpus, "vec_id", "embedding",
      planes = 6, dim = 64, path = path,
      tableName = "ann_srp_foreign", numBuckets = 4)
    val q = corpus.where(col("vec_id") < 2)
    // right knobs probe fine
    assert(AnnIndex.probeSrpBucketed(spark, "ann_srp_foreign", q,
      "vec_id", "embedding", k = 3, planes = 6, dim = 64).count() > 0)
    // wrong planes = a different signature space — rejected loudly
    val e = intercept[IllegalStateException] {
      AnnIndex.probeSrpBucketed(spark, "ann_srp_foreign", q,
        "vec_id", "embedding", k = 3, planes = 8, dim = 64).count()
    }
    assert(e.getMessage.contains("planes"))
  }

  test("appendIvf rejects a wrong-dim batch against the manifest") {
    val corpus = (0L until 64L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val path = tmp("ann_ivfdim") + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", numCells = 4, path = path)
    val batch = Seq((100L, vec(7))).toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      AnnIndex.appendIvf(spark, path, batch, "vec_id", "embedding",
        dim = 32, stagePath = path + "_stage")
    }
    assert(e.getMessage.contains("dim"))
  }

  test("centroid seeding is a rank: non-0-based id space still seeds k") {
    // ids start at 1000 — the old `vid < k` predicate would seed ZERO
    // centroids here and write a degenerate index
    val corpus = (1000L until 1032L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val cent = AnnIndex.trainCentroidsKMeans(corpus, "vec_id", "embedding",
      k = 4, rounds = 1)
    assert(cent.count() == 4)
    val path = tmp("ann_ivfhigh") + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", numCells = 4, path = path)
    val centIds = spark.read.parquet(s"$path/centroids")
      .select(col("cid")).as[Long].collect().sorted.toVector
    assert(centIds == Vector(1000L, 1001L, 1002L, 1003L))
    assert(AnnIndex.readIndex(spark, s"$path/cells").count() == 32)
  }
}

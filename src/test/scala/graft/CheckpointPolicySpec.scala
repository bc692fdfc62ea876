package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Graphs, TextDedup}
import graft.plans.CheckpointPolicy

/** The checkpoint-policy seam: identical results under both policies,
  * actual durable artifacts under reliable (the executor-loss
  * story: local checkpoint blocks are executor-resident and non-replicated,
  * so a cluster run flips `graft.checkpoint.policy` and iterative loops
  * become recoverable), and pin-neutrality preserved in every mode.
  */
class CheckpointPolicySpec extends SparkSpec {
  import spark.implicits._

  // A two-component chain graph: CC must label {1..4}→1 and {10,11}→10.
  private def pairs = Seq(
    (2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L)).toDF("a", "b")

  private def withPolicy[T](policy: String, dir: String = null)(f: => T): T = {
    val prevP = spark.conf.getOption(CheckpointPolicy.PolicyKey)
    val prevD = spark.conf.getOption(CheckpointPolicy.DirKey)
    spark.conf.set(CheckpointPolicy.PolicyKey, policy)
    if (dir != null) spark.conf.set(CheckpointPolicy.DirKey, dir)
    try f
    finally {
      prevP.fold(spark.conf.unset(CheckpointPolicy.PolicyKey))(
        spark.conf.set(CheckpointPolicy.PolicyKey, _))
      prevD.fold(spark.conf.unset(CheckpointPolicy.DirKey))(
        spark.conf.set(CheckpointPolicy.DirKey, _))
    }
  }

  private def ccLabels(): Seq[(Long, Long)] =
    TextDedup.connectedComponents(pairs, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq

  private val expected = Seq(
    (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))

  test("connected components identical under local and reliable policies") {
    val local = withPolicy("local")(ccLabels())
    assert(local == expected)

    val relDir = Files.createTempDirectory("graft_ckpt_rel").toString
    val rel = withPolicy("reliable", relDir)(ccLabels())
    assert(rel == expected)
  }

  test("reliable policy writes replicated checkpoint files to the configured dir") {
    val dir = Files.createTempDirectory("graft_ckpt_rel2").toString
    withPolicy("reliable", dir) {
      assert(ccLabels() == expected)
      // The RDD checkpoint dir must now contain materialized part files —
      // the durable artifact an executor loss recovers from.
      val root = new java.io.File(
        spark.sparkContext.getCheckpointDir.get.stripPrefix("file:"))
      def partFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(partFiles).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      assert(partFiles(root) > 0, s"no checkpoint part files under $root")
    }
  }

  test("kCore and bfsHops run under the reliable policy") {
    val dir = Files.createTempDirectory("graft_ckpt_rel3").toString
    withPolicy("reliable", dir) {
      // Triangle 1-2-3 plus pendant 4: 2-core = the triangle.
      val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
      val sym = und.unionByName(
        und.select(col("dst").as("src"), col("src").as("dst")))
      val core = Graphs.kCore(sym, 2).orderBy("node")
        .select("node").as[Long].collect().toSeq
      assert(core == Seq(1L, 2L, 3L))
      val hops = Graphs.bfsHops(sym, Seq(1L).toDF("node"), maxHops = 4)
        .orderBy("node").as[(Long, Long)].collect().toSeq
      assert(hops == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L)))
    }
  }

  test("all policies stay pin-neutral (no cacheManager entries)") {
    for ((p, d) <- Seq(
        ("local", null),
        ("reliable", Files.createTempDirectory("graft_ckpt_pin_r").toString))) {
      withPolicy(p, d)(ccLabels())
      assert(spark.sharedState.cacheManager.isEmpty, s"policy $p left pins")
    }
  }

  test("unknown policy fails loudly") {
    // parquet was a policy once; it is gone and must not fall back silently
    for (p <- Seq("ramdisk", "parquet")) withPolicy(p) {
      intercept[IllegalArgumentException] {
        CheckpointPolicy.materialize(pairs)
      }
    }
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.CheckpointDirAccess
import org.apache.spark.sql.functions._
import graft.operators.{Graphs, TextDedup}

/** The lineage cut follows the SparkContext's checkpoint dir: identical
  * results with and without one, durable artifacts under the dir when it
  * is set (the executor-loss story: local checkpoint blocks are
  * executor-resident and non-replicated, so a cluster sets
  * `spark.checkpoint.dir` and iterative loops become recoverable), local
  * cuts again once it is cleared, and pin-neutrality either way.
  */
class CheckpointPolicySpec extends SparkSpec {
  import spark.implicits._

  // A two-component chain graph: CC must label {1..4}→1 and {10,11}→10.
  private def pairs = Seq(
    (2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L)).toDF("a", "b")

  /** Run `f` with the shared context's checkpoint dir set under `prefix`
    * and return the dir; the previous value (normally none) is put back. */
  private def withCheckpointDir[T](prefix: String)(f: => T): (String, T) = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = Files.createTempDirectory(prefix).toString
    sc.setCheckpointDir(dir)
    try (dir, f)
    finally CheckpointDirAccess.restore(sc, prev)
  }

  private def partFiles(f: java.io.File): Int =
    if (f.isDirectory) f.listFiles.map(partFiles).sum
    else if (f.getName.startsWith("part-")) 1 else 0

  private def ccLabels(): Seq[(Long, Long)] =
    TextDedup.connectedComponents(pairs, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq

  private val expected = Seq(
    (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))

  test("connected components identical under local and reliable policies") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(ccLabels() == expected)
    val (_, rel) = withCheckpointDir("graft_ckpt_rel")(ccLabels())
    assert(rel == expected)
  }

  test("reliable policy writes replicated checkpoint files to the configured dir") {
    val (dir, n) = withCheckpointDir("graft_ckpt_rel2") {
      assert(ccLabels() == expected)
      // The RDD checkpoint dir must now contain materialized part files —
      // the durable artifact an executor loss recovers from.
      partFiles(new java.io.File(
        spark.sparkContext.getCheckpointDir.get.stripPrefix("file:")))
    }
    assert(n > 0, s"no checkpoint part files under $dir")
  }

  test("a cleared checkpoint dir makes cuts local again: no new files") {
    val (dir, _) = withCheckpointDir("graft_ckpt_clear")(ccLabels())
    val root = new java.io.File(dir)
    val before = partFiles(root)
    assert(before > 0)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(ccLabels() == expected)
    assert(partFiles(root) == before)
  }

  test("kCore and bfsHops run under the reliable policy") {
    withCheckpointDir("graft_ckpt_rel3") {
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
    ccLabels()
    assert(spark.sharedState.cacheManager.isEmpty, "local cuts left pins")
    withCheckpointDir("graft_ckpt_pin_r")(ccLabels())
    assert(spark.sharedState.cacheManager.isEmpty, "reliable cuts left pins")
  }
}

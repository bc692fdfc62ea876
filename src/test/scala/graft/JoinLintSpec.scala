package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Suite-wide Cartesian lint: a CartesianProductExec materializes
  * |left|×|right| rows with NO broadcast and NO key — at 100 TB it is
  * never the right plan. Legitimate cross joins in this repo are all
  * broadcast-one-row (totals/constants → BroadcastNestedLoopJoin over a
  * 1-row build side) or bounded probe sets; anything that degrades to
  * CartesianProductExec must be listed here with its justification or
  * fixed. Streaming queries are excluded (their fn executes lifetimes).
  *
  * Also holds the harness lints: `Harness.session` is the only session
  * builder in `src/main` (RecoveryProof's local-cluster proof aside), and
  * it pins ANSI, UTC, the extensions and AQE's 8×cpus starting partitions.
  */
class JoinLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** query -> max allowed CartesianProductExec nodes, each justified. */
  private val allow: Map[String, Int] = Map.empty

  test("no batch query plans a non-broadcast cartesian product") {
    val streaming = graft.queries.StreamQueries.defs.map(_.name).toSet
    val offenders = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.allDefs.filterNot(d => streaming(d.name)).foreach { d =>
      val carts = d.fn(spark, dir).queryExecution.executedPlan.collect {
        case c: CartesianProductExec => c
      }
      val cap = allow.getOrElse(d.name, 0)
      if (carts.size > cap)
        offenders += s"${d.name}: ${carts.size} CartesianProductExec (allowed $cap)"
    }
    assert(offenders.isEmpty,
      "non-broadcast cartesian products (|l|x|r| row materialization at " +
        "scale):\n" + offenders.mkString("\n"))
  }

  test("Harness.session is the only SparkSession builder in src/main") {
    import scala.jdk.CollectionConverters._
    val allowed = Set("Harness.scala", "RecoveryProof.scala")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Harness.scala"))
    val drifted = files.filterNot(f => allowed(f.getFileName.toString))
      .filter(f => java.nio.file.Files.readString(f).contains("SparkSession.builder"))
    assert(drifted.isEmpty, s"private session builders: ${drifted.mkString(", ")}")
  }

  test("the harness session pins ANSI, UTC, the extensions and 8x cpus initial partitions") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.getOption("spark.sql.ansi.enabled").contains("true"))
    assert(conf.getOption("spark.sql.session.timeZone").contains("UTC"))
    assert(conf.getOption("spark.sql.extensions").contains("graft.GraftExtensions"))
    assert(conf.getOption(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum").contains("32"))
  }
}

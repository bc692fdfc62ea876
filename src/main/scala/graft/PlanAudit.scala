package graft

/** Prints the formatted physical plan of selected queries for audits:
  * `PlanAudit <q1,q2,..> [sfDir]`, in the Bench session shape. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    args(0).split(",").foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}

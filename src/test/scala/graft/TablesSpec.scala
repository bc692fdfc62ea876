package graft

import java.nio.file.{Files, StandardCopyOption}
import graft.sources.Tables

/** The source registry's driver-side schema inference: footer schemas
  * equal Spark's own inference, run no Spark job, and are re-read when a
  * table file is rewritten. */
class TablesSpec extends SparkSpec {

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(300) } // let async job-start events drain
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("footer schema equals spark.read.parquet(..).schema for every table") {
    // Tables.load pins nanosAsLong; compare under the same session conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.all) {
      val path = s"/root/testdata/$sf/$t.parquet"
      assert(Tables.inferSchema(spark, path) === spark.read.parquet(path).schema,
        s"$sf/$t")
    }
  }

  test("a first load infers its schema without a Spark job") {
    // a path spelling no other test used, so the schema cache misses
    val n = jobsDuring(Tables.load(spark, "/root/testdata/./sf0.01", "lineitem"))
    assert(n === 0, s"Tables.load ran $n job(s)")
  }

  test("a rewritten table file is re-read, not served a stale schema") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_tables")
    def writeTable(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = tmp.resolve("out").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, tmp.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    writeTable(Seq((1L, "a")).toDF("id", "name"))
    assert(Tables.load(spark, tmp.toString, "t").columns.toSeq === Seq("id", "name"))
    writeTable(Seq((1L, 2.5d, true)).toDF("id", "score", "flag"))
    val again = Tables.load(spark, tmp.toString, "t")
    assert(again.columns.toSeq === Seq("id", "score", "flag"))
    assert(again.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ===
      Seq((1L, 2.5d, true)))
  }
}

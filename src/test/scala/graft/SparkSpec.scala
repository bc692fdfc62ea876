package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for unit suites: the harness shape
  * at 4 cpus (small data, few shuffle partitions so tests stay fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

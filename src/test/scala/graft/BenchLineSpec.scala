package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's last stdout line: one JSON object of at most 2000 bytes (the
  * driver's tail-capture window), whatever the number of failures. */
class BenchLineSpec extends AnyFunSuite {

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  test("408 failed queries still fit one parseable line of at most 2000 bytes") {
    val results = (1 to 408).map(i => (f"q$i%03d_some_long_descriptive_query_name", -1.0, false))
    val line = Bench.stdoutLine(results, 0.0, 1, "/data/sf0.1")
    assert(line.getBytes("UTF-8").length <= 2000, s"${line.length} bytes")
    val node = json.readTree(line)
    import scala.jdk.CollectionConverters._
    assert(node.fieldNames.asScala.toSeq ==
      Seq("metric", "value", "unit", "n_queries", "reps", "detail", "queries", "failed", "sf"))
    assert(node.get("n_queries").asInt == 408)
    assert(node.get("failed").size > 0)
    assert(node.get("failed").get(0).asText == "q001_some_long_descriptive_query_name")
  }

  test("with no failures the line keeps its format: slowest first, short keys") {
    val results = Seq(("q01_a", 0.25, true), ("q02_b", 1.5, true))
    assert(Bench.stdoutLine(results, 1.75, 1, "/d") ==
      """{"metric":"total","value":1.750,"unit":"sec","n_queries":2,"reps":1,""" +
      """"detail":"BENCH_DETAIL.json","queries":{"q02":1.500,"q01":0.250},"failed":[],"sf":"/d"}""")
  }
}

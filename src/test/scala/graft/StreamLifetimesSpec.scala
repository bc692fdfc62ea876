package graft

import org.apache.spark.sql.DataFrame

/** The bench's collapsed streaming path (`-Dgraft.stream.lifetimes=1`:
  * all data slices in one query lifetime, all flush slices in a second)
  * must leave exactly what the full one-lifetime-per-slice ceremony
  * leaves. Verify only runs the full path, so this is the one check on
  * the collapsed one. One gate per grouping shape.
  */
class StreamLifetimesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val Knob = "graft.stream.lifetimes"

  /** The gate's result, collected before the next run wipes its scratch root. */
  private def run(query: String): DataFrame = {
    val df = SparkEntry.queries(query)(spark, dir)
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  for ((query, shape) <- Seq(
      "q116_stream_window_parity" -> "data and one flush slice",
      "q228_stream_outer_join" -> "data and two flush slices",
      "q259_stream_update_mode" -> "per-lifetime state index",
      "q262_stream_complete_mode" -> "data only"))
    test(s"$query: collapsed lifetimes equal the full ceremony ($shape)") {
      val prev = sys.props.get(Knob)
      try {
        sys.props -= Knob
        val full = run(query)
        sys.props(Knob) = "1"
        val collapsed = run(query)
        assert(!full.isEmpty, s"$query produced no rows")
        assert(full.exceptAll(collapsed).isEmpty, s"$query: rows lost when collapsed")
        assert(collapsed.exceptAll(full).isEmpty, s"$query: rows gained when collapsed")
      } finally prev match {
        case Some(v) => sys.props(Knob) = v
        case None => sys.props -= Knob
      }
    }
}

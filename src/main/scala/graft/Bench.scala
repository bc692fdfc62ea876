package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * through the `noop` sink ([[Harness.timed]]). A warmup pass absorbs
  * JVM/codegen startup so per-query numbers aren't dominated by
  * first-query warmup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // The multi-restart streaming gates exist to prove checkpointed
    // recovery (Verify always runs the full ceremony); under the bench
    // they collapse to the minimum lifetimes so the suite number measures
    // engine throughput, not per-lifetime state-store file ceremony.
    // Override with an explicit -Dgraft.stream.lifetimes=0 to time the
    // full topology.
    if (!sys.props.contains("graft.stream.lifetimes"))
      sys.props("graft.stream.lifetimes") = "1"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    def report(name: String)(e: Throwable): Unit =
      System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")

    // Warmup: one query per operator family, so first-touch class loading
    // (JsonToStructs, window exec, regex, native sketch expressions) and
    // Janino compiler init don't land inside any measured query. q01 runs
    // twice to absorb parquet-reader and shuffle machinery startup.
    val warmups = Seq("q01_pricing_summary", "q01_pricing_summary",
      "q33_json_struct_invoices", "q18_order_sequence",
      "q16_regex_normalize", "q27_minhash_lsh", "q80_variant_invoices",
      // streaming machinery: micro-batch planner, file-stream source,
      // HDFS-backed state store, watermark tracking — without this the
      // first streaming query in sort order pays ~1.5 s of first-touch
      "q116_stream_window_parity")
    warmups.foreach(n => Harness.timed(spark, n, sfDir).left.foreach(report(n)))

    // Failed queries record -1 and are listed in `failed`; the reap and
    // GC happen before the timer starts (Harness.timed).
    //
    // -Dgraft.bench.reps=N (default 1) measures each query N times and
    // records the per-query MEDIAN — the stability mode for committed
    // artifacts, so round-over-round comparisons stop carrying the ±10%
    // single-rep session-noise caveat. The rep count is stamped into
    // both JSON outputs.
    val reps = math.max(1, sys.props.getOrElse("graft.bench.reps", "1").toInt)
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val times = (1 to reps).flatMap { _ =>
        val r = Harness.timed(spark, name, sfDir)
        r.left.foreach(report(name))
        r.toOption
      }
      // median of the successful reps (upper-median for even counts);
      // failed iff every rep failed
      val t = if (times.isEmpty) -1.0 else times.sorted.apply(times.size / 2)
      (name, t, times.nonEmpty)
    }
    val total = results.collect { case (_, v, true) => v }.sum
    val detail = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      s"""{"sf":"$sfDir","reps":$reps,"total":$total,"queries":$detail,"failed":$failed}"""
        .getBytes("UTF-8"))
    println(stdoutLine(results, total, reps, sfDir))
    spark.stop()
  }

  /** The last stdout line for `(query, seconds, succeeded)` results.
    *
    * It must fit the driver's 2000-byte stdout tail-capture window
    * (round-4 postmortem: 152 full-precision doubles keyed by long names
    * overflowed it -> "parsed": null; round-5 postmortem: even ms-rounded
    * short keys overflow at 188 queries). The line therefore self-limits
    * to a hard 1900-byte budget that the `failed` names and the `queries`
    * map share: failed names first, then failures and the slowest queries
    * inline until the budget is spent. The full-name full-precision map
    * and the full failure list ALWAYS go to the BENCH_DETAIL.json sidecar. */
  def stdoutLine(results: Seq[(String, Double, Boolean)], total: Double,
      reps: Int, sfDir: String): String = {
    def ms(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // entries that fit `budget` (one separator byte each), in order
    def fit(entries: Seq[String], budget: Int): List[String] =
      entries.foldLeft((List.empty[String], 0)) {
        case ((acc, used), e) if used + e.length + 1 <= budget => (e :: acc, used + e.length + 1)
        case (st, _) => st
      }._1.reverse
    val prefix = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"reps":$reps,"detail":"BENCH_DETAIL.json","queries":{"""
    val budget = 1900 - prefix.length - s"""},"failed":[],"sf":"$sfDir"}""".length
    val failed = fit(results.collect { case (k, _, false) => "\"" + k + "\"" }, budget)
    val suffix = s"""},"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    val ordered = results
      .sortBy { case (_, v, _) => if (v < 0) Double.MinValue else -v }
      .map { case (k, v, _) => "\"" + k.takeWhile(_ != '_') + "\":" + ms(v) }
    val kept = fit(ordered, budget - failed.map(_.length + 1).sum)
    prefix + kept.mkString(",") + suffix
  }
}

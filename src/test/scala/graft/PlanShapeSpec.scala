package graft

/** Pins the plan shapes the scale arguments in SCALE.md depend on —
  * regressions here are silent performance cliffs, not correctness
  * failures, so the oracle gate would never catch them:
  *  - mixed distinct/plain aggregates planning through Expand (doubles
  *    the aggregate input; the round-2 25× q46 incident)
  *  - predicate pushdown inlining duplicate from_json parses (the
  *    round-2 9×-per-row q33 incident)
  *  - LSH / range joins degrading to nested-loop or cartesian plans
  *  - the line-money fact losing its broadcast join
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q52 broadcasts the orders side and shuffles only for the contract sort") {
    val p = plan("q52_order_item_money")
    assert(p.contains("BroadcastHashJoin"), s"orders side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "line side must not shuffle for the join")
  }

  test("q402 applies the model as a broadcast join; the corpus never shuffles for it") {
    val p = plan("q402_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"weights table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the token stream must not shuffle for the model join")
  }

  test("distinct aggregates never plan through Expand") {
    Seq("q02_order_rollup", "q46_approx_sketches", "q47_fct_orders",
        "q76_agg_orders_daily", "q77_agg_items_daily").foreach { q =>
      assert(!plan(q).contains("Expand"), s"$q: Expand doubles the aggregate input")
    }
  }

  test("JSON queries parse with exactly one from_json despite pushed filters") {
    Seq("q33_json_struct_invoices", "q53_json_shipments").foreach { q =>
      val n = "from_json".r.findAllIn(plan(q)).size
      assert(n === 1, s"$q: expected 1 from_json, found $n (pushdown re-parse)")
    }
  }

  test("VARIANT query builds exactly one variant per row despite pushed filters") {
    // the physical plan spells it VariantExpressionEvalUtils.parseJson
    val p = plan("q80_variant_invoices")
    val n = "parsejson".r.findAllIn(p.toLowerCase.filterNot(_ == '_')).size
    assert(n === 1, s"q80: expected 1 parseJson, found $n (pushdown re-parse):\n$p")
    // and the barrier pins ONE struct-typed variant_get — a pushed
    // filter that inlines it re-extracts status/balance 6x per row
    val g = "variant_get".r.findAllIn(p).size
    assert(g === 1, s"q80: expected 1 variant_get, found $g (filter inlining):\n$p")
  }

  test("sketch and range joins never degrade to nested-loop or cartesian") {
    Seq("q27_minhash_lsh", "q29_ngram_jaccard", "q44_range_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q: candidate generation must stay an equi-join")
    }
  }

  test("q87 decontamination never materializes 13-gram strings") {
    // ngramHash62 combines per-token digests arithmetically; a concat_ws
    // reappearing in the plan means the string-shingle path snuck back
    val p = plan("q87_ngram_decontam")
    assert(!p.contains("concat_ws"), s"q87 must hash without building grams:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q91 probes the bloom sketch as a predicate, not a join") {
    // the flagged column must come from might_contain on a literal
    // sketch; the only joins in the plan are the exact-truth check
    val p = plan("q91_bloom_incremental")
    assert(p.toLowerCase.contains("might_contain"),
      s"q91 must probe via BloomFilterMightContain:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q93 label propagation broadcasts the seed matrix") {
    val p = plan("q93_label_propagation")
    assert(p.contains("BroadcastExchange"),
      s"q93: seeds must broadcast (unlabeled side streams):\n$p")
    assert(!p.contains("SortMergeJoin"),
      "q93: the kNN scoring must not shuffle the corpus for a join")
  }

  test("q95 computes the global rank without a single-partition data window") {
    // the doc-stream window must be partitioned by bucket; only the
    // 256-row bucket-count prefix-sum may run unpartitioned
    val p = plan("q95_training_shuffle")
    val windows = "Window .*windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    val unpartitioned = windows.filterNot(_.contains("bucket#"))
    assert(windows.exists(_.contains("bucket#")),
      s"q95: per-bucket local rank window missing:\n$p")
    // doc_id appears in the ORDER BY of the local-rank window only;
    // any unpartitioned window must be the tiny bucket-offset one
    assert(!unpartitioned.exists(_.contains("doc_id")),
      s"q95: found a global window over the doc stream:\n$p")
  }

  test("q103 line-sweep never collapses to a single partition") {
    // the clip+spill exists precisely so the sweep partitions by day;
    // a SinglePartition exchange means the global-sort form snuck back
    val p = plan("q103_event_concurrency")
    assert(!p.contains("SinglePartition"),
      s"q103: sweep must stay partitioned by day:\n$p")
  }

  test("q109 frontier: only the tiny band-prefix window is unpartitioned") {
    val p = plan("q109_pareto_frontier")
    val windows = "Window .*windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(windows.exists(_.contains("band#")),
      s"q109: per-band local running-min window missing:\n$p")
    val unpartitioned = windows.filterNot(_.contains("band#"))
    assert(!unpartitioned.exists(_.contains("price_cents#")),
      s"q109: found a global window over the parts stream:\n$p")
  }

  test("iterative integer ops (q108 pagerank, q114 kmeans) stay equi/broadcast joins") {
    Seq("q108_pagerank", "q114_kmeans_fixedpoint").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q: rounds must stay equi-joins:\n$p")
    }
    assert(plan("q114_kmeans_fixedpoint").contains("BroadcastHashJoin"),
      "q114: the kx64 centroid table must broadcast onto the coordinate stream")
  }

  test("q102/q106 blocked self-joins stay equi-joins") {
    Seq("q102_copurchase_pairs", "q106_fuzzy_name_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q: blocking must keep the pair join an equi-join:\n$p")
    }
  }

  test("gap-fill queries (q97/q122) run with ONE hash exchange and no spine join") {
    // The round-5 rewrite generates gap runs from lead()+explode instead
    // of a month-spine left-join. The join coming back would either
    // broadcast a customers×months frame (dead at 100 TB) or re-shuffle
    // both sides on the exact join keys — so pin: exactly one hash
    // exchange (customer_id), no join operator of any kind, plus the
    // contract range sort.
    Seq("q97_monthly_gapfill", "q122_linear_gapfill").foreach { q =>
      val p = plan(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashEx === 1, s"$q: expected 1 hash exchange, found $hashEx:\n$p")
      assert(!p.contains("Join"), s"$q: the spine join is back:\n$p")
    }
  }

  /** Jobs a collect() of `df` runs, and its final adaptive plan. */
  private def collectJobs(df: org.apache.spark.sql.Dataset[_]): (Int, String) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      df.collect()
      Thread.sleep(300) // let async job-start events drain
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, df.queryExecution.executedPlan.toString)
  }

  test("a small global sort runs in one partition, with no range-sampling job") {
    import org.apache.spark.sql.functions._
    val base = spark.range(0, 2000, 1, 4).select((col("id") * 7 % 1000).as("x"))
    val (smallJobs, small) = collectJobs(base.orderBy(col("x").desc))
    assert(small.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS") &&
      !small.contains("rangepartitioning"), s"small sort must not range-shuffle:\n$small")
    // the same sort under a generator keeps its range shuffle — and pays
    // exactly one more job, the partitioner's sampling pass
    val exploded = base.select(explode(array(col("x"), col("x") + 1)).as("x"))
    val (genJobs, gen) = collectJobs(exploded.orderBy(col("x").desc))
    assert(gen.contains("rangepartitioning"),
      s"a generator's size estimate is no upper bound; keep the range shuffle:\n$gen")
    assert(genJobs === smallJobs + 1, s"jobs: small sort $smallJobs, generator sort $genJobs")
    // sorted output is identical either way
    assert(base.orderBy(col("x").desc).collect().map(_.getLong(0)).toSeq ===
      (0 until 2000).map(i => i * 7L % 1000).sorted.reverse)
  }

  test("a sort above one partition's worth keeps its range shuffle") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try {
      val (_, p) = collectJobs(spark.range(0, 2000, 1, 4).orderBy(col("id").desc))
      assert(p.contains("rangepartitioning"), s"16 KB over a 1 KB partition size:\n$p")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // user range repartitioning is never rewritten
    val r = spark.range(0, 100, 1, 4).repartitionByRange(4, col("id"))
    assert(collectJobs(r)._2.contains("rangepartitioning"))
  }

  test("q171 truth-side top-10 plans as TakeOrderedAndProject, not a rank window") {
    val p = plan("q171_cms_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"q171: orderBy+limit must plan per-partition top-k heaps:\n$p")
  }

  test("q273/q283 truncated ranker cuts plan as TakeOrderedAndProject") {
    // truncated-list fusion/eval only scales because each ranker's cut
    // is a per-partition top-k heap, never a global sort
    Seq("q273_rrf_fusion", "q283_ndcg_at10").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: ranker cuts must plan per-partition top-k heaps:\n$p")
      assert(!p.contains("SortExec(global=true"),
        s"$q must not global-sort the candidate set")
    }
  }

  test("rank-filter top-k per group plans WindowGroupLimit") {
    // Spark 4.x rewrites `rank() <= k` after a partitioned window into
    // WindowGroupLimit (partial before the exchange + final after), so
    // each group keeps only k rows through the shuffle instead of
    // sorting and materializing whole groups. This is the per-group
    // analogue of q171's TakeOrderedAndProject pin — at 100 TB the
    // difference is shuffling k rows per key vs every row per key.
    val p = plan("q132_topk_with_ties")
    assert(p.contains("WindowGroupLimit"),
      s"q132: rank<=k must push a per-group limit below the window:\n$p")
  }

  test("q169/q178 run no eager job at query-construction time") {
    // the round-6 verdict flagged q169's `o.count()` (a driver-side
    // action inside the builder); pin: no job at all during plan
    // construction. Table loads read the parquet footer on the driver
    // (Tables.inferSchema), so not even schema inference runs a job.
    Seq("q169_analyze_stats", "q178_selectivity_estimate").foreach { q =>
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(s"job ${s.jobId} [" +
            s.stageInfos.map(_.name).mkString(" | ") + "]")
      }
      spark.sparkContext.addSparkListener(l)
      try {
        SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
        Thread.sleep(300) // let any async job-start events drain
      } finally spark.sparkContext.removeSparkListener(l)
      val eager = jobs.toArray(Array.empty[String])
      assert(eager.isEmpty,
        s"$q: building the query ran eager job(s): " + eager.mkString("; "))
    }
  }

  test("q167 verify joins run on 8-byte digests, never shingle strings") {
    // The candidate and intersection joins must key on the md5 digest
    // column (LongType) — a join keyed on the _sh string doubles the
    // bytes through the candidate×shingle fan.
    val p = plan("q167_prefix_filter_join")
    val joinKeyLines = p.linesIterator
      .filter(l => l.contains("HashJoin") || l.contains("SortMergeJoin")).toList
    assert(joinKeyLines.nonEmpty, s"q167: expected hash joins:\n$p")
    assert(!joinKeyLines.exists(_.contains("_sh#")),
      s"q167: a join keys on the shingle STRING — digest-first stance broken:\n$joinKeyLines")
  }
}

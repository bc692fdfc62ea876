package graft

import org.apache.spark.sql.functions._

/** Packaged-artifact smoke (round-10 verdict item 8): every call goes
  * through the `graft.api` facade of the PACKAGED jar.
  * `scripts/quickstart.sh` builds the jar with `sbt package` and runs
  * this main from a FRESH working directory with only the jar +
  * /opt/spark/jars on the classpath (no repo target/classes, no sbt) —
  * proving the library is consumable outside this repo's harness the
  * same way a spark-submit user would consume it. Exits non-zero if any
  * recipe returns an empty frame.
  */
object Quickstart {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    import graft.api._

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    var failures = 0
    def check(tag: String, n: Long): Unit = {
      println(s"[quickstart] $tag -> $n rows")
      if (n <= 0) { println(s"[quickstart] FAIL: $tag empty"); failures += 1 }
    }

    // 1. near-dup dedup: MinHash -> banded LSH -> connected components
    check("nearDupClusters",
      nearDupClusters(docs, "doc_id", "text", threshold = 0.7).count())

    // 2. BM25 retrieval over the documents table
    check("bm25TopK",
      bm25TopK(docs, "doc_id", "text", Seq("vector", "merge"), k = 5).count())

    // 3. materialized ANN index lifecycle: trained-centroid build,
    //    incremental append of a late batch, multi-cell probe
    val idx = java.nio.file.Files
      .createTempDirectory("graft_quickstart_ann").toString + "/ivf"
    annIndex.buildIvfTrained(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", numCells = 8, rounds = 2, path = idx)
    annIndex.appendIvf(spark, idx, emb.where(col("vec_id") >= 400),
      "vec_id", "embedding", dim = 64, stagePath = idx + "_stage")
    check("annIndex probe (trained + appended)",
      annIndex.probeIvf(spark, idx, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nprobe = 2).count())

    // 4. dbt-style quality battery with severity-faithful verdict
    val summary = checks.summarize(Seq(
      checks.Check("doc_id_not_null", "error", checks.notNull(docs, "doc_id")),
      checks.Check("doc_id_unique", "error", checks.unique(docs, "doc_id"))))
    check("checks battery", summary.count())

    // 5. crawl front door end-to-end: HTML extract -> PII redact ->
    //    trained quality scorer (all round-12 surface, via the facade)
    val pages = docs.select(col("doc_id"), col("text"),
      concat(lit("<html><body><div><a href=\"/\">Home</a></div><p>"),
        col("text"), lit("</p></body></html>")).as("page"))
    val extracted = html.extractText(pages, "page")
    check("html.extractText", extracted.where(col("clean_text") =!= "").count())
    val scrubbed = pii.redact(extracted, "clean_text")
    check("pii.redact", scrubbed.count())
    val labeled = scrubbed.select(col("doc_id"), col("clean_text"),
      when(length(col("clean_text")) >= 250, 1).otherwise(0).as("y"))
    val model = scoring.trainNbWeights(labeled, "clean_text", "y",
      numBuckets = 128, salt = "qs:")
    check("scoring train+apply",
      scoring.hashedLinearScore(labeled, Seq("doc_id"), "clean_text",
        model, numBuckets = 128, bias = 0L, salt = "qs:").count())

    spark.stop()
    if (failures > 0) sys.exit(1)
    println("[quickstart] ALL RECIPES OK")
  }
}

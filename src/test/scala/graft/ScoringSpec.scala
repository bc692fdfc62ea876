package graft

import org.apache.spark.sql.functions._
import graft.operators.Scoring

/** Scoring: hashedLinearScore left-joins a SPARSE model, so documents
  * none of whose tokens hit the model score as bias instead of vanishing,
  * and null text scores too. */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  test("hashedLinearScore: all-miss and null-text docs score as bias") {
    val docs = Seq(
      (1L, "alpha beta"),          // tokens present, may hit or miss
      (2L, null.asInstanceOf[String]), // null text → bias
      (3L, "zz yy xx")             // tokens that miss an EMPTY model
    ).toDF("doc_id", "text")
    val emptyModel = spark.range(0)
      .select(col("id").as("bkt"), col("id").as("wgt"))
    val scored = Scoring.hashedLinearScore(docs, Seq("doc_id"), "text",
      emptyModel, numBuckets = 64, bias = 7L, salt = "t:")
      .orderBy("doc_id").collect()
    assert(scored.length == 3, "every input document must score")
    assert(scored.forall(_.getLong(1) == 7L),
      "an empty model scores every doc as bias")
  }
}

package graft

import graft.operators.Urls

/** Urls.suffixPolicy: the longest matching suffix rule wins and the rule
  * table joins as a broadcast, never shuffling the corpus. */
class UrlsSpec extends SparkSpec {
  import spark.implicits._

  test("suffixPolicy: longest match wins, rules join is broadcast") {
    val hosts = Seq(
      (1L, "sub1.site5.example.com"),  // allow overrides parent block
      (2L, "sub0.site5.example.com"),  // parent block
      (3L, "a.b.other.org")            // no rule → allow
    ).toDF("doc_id", "url_host")
    val rules = Seq(
      ("site5.example.com", "block"),
      ("sub1.site5.example.com", "allow")).toDF("suffix", "action")
    val out = Urls.suffixPolicy(hosts, rules, "doc_id")
      .orderBy("doc_id")
      .select("policy_suffix", "policy_action").collect()
    assert(out(0).getString(1) == "allow" &&
      out(0).getString(0) == "sub1.site5.example.com")
    assert(out(1).getString(1) == "block" &&
      out(1).getString(0) == "site5.example.com")
    assert(out(2).getString(1) == "allow" && out(2).getString(0) == "none")
    // the rule table must ride as a broadcast, never shuffle the corpus
    val plan = Urls.suffixPolicy(hosts, rules, "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast rules join, got:\n$plan")
  }
}

package graft

import graft.operators.Html

/** Html.extractText behaviour corners: hidden-element payloads gone,
  * entities decode one level, link-dense blocks cut, empty input
  * survives, plain text passes through. */
class HtmlSpec extends SparkSpec {
  import spark.implicits._

  test("Html.extractText corners") {
    val rows = Seq(
      // hidden payloads gone; entities decode ONE level; link-dense cut
      (1L, "<html><head><title>T</title><style>a{x:1}</style></head>" +
        "<body><script>if (1 < 2) { bad(); }</script>" +
        "<div><a href=\"/a\">Nav</a> <a href=\"/b\">Bar</a></div>" +
        "<p>Real &amp;amp; text stays.</p></body></html>"),
      (2L, ""),                       // empty input survives
      (3L, "plain text, no markup")   // pass-through
    ).toDF("doc_id", "html")
    val out = Html.extractText(rows, "html").orderBy("doc_id")
      .select("doc_id", "clean_text", "boilerplate_blocks").collect()
    assert(out(0).getString(1) == "Real &amp; text stays.",
      s"got '${out(0).getString(1)}'")
    assert(out(0).getLong(2) == 1L) // the nav div
    assert(out(1).getString(1) == "" && out(1).getLong(2) == 0L)
    assert(out(2).getString(1) == "plain text, no markup")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pii

/** Pii: every pattern stays in the regex dialect Java and RE2 (the
  * DuckDB oracles' engine) share. */
class PiiSpec extends AnyFunSuite {
  test("pii patterns stay in the shared Java-regex ∩ RE2 dialect") {
    // compile every pattern with Java regex (RE2 validity is proven by
    // the DuckDB oracles); reject constructs RE2 lacks
    Pii.patterns.foreach { case (_, p) =>
      java.util.regex.Pattern.compile(p)
      assert(!p.contains("(?<") && !p.contains("(?=") && !p.contains("\\b"),
        s"pattern $p uses a construct outside the RE2 subset")
    }
  }
}

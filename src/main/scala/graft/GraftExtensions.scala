package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{Md5Lower64Bits, RollingHash64, TextKernels, VectorDot}

/** Session extensions: registers the native graft expressions for SQL
  * users and the graft optimizer / query-stage rules. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * standard plug-in point, so a cluster picks the functions up from
  * config alone (no code changes in notebooks/jobs).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // engine-level fix for the pushdown re-evaluation tax (q33/q80/q99):
    // dedup expensive subexpressions inside Filter predicates. PreCBO =
    // after the pushdown fixed point, so the rewrite cannot be re-inlined
    ext.injectPreCBORule(_ => graft.plans.DedupExpensiveFilter)
    // money decimals on longs: DOUBLE→DECIMAL(≤18) casts and
    // DECIMAL(≤18) sums without BigDecimal (see LongDecimalRewrite)
    ext.injectPreCBORule(_ => graft.plans.LongDecimalRewrite)
    // a global sort over at most one partition's worth of data sorts in
    // one partition: no range-sampling job (see SmallSortSinglePartition)
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSortSinglePartition)
    ext.injectFunction((
      new FunctionIdentifier("md5_lower64_bits"),
      new ExpressionInfo(classOf[Md5Lower64Bits].getName, "md5_lower64_bits"),
      (children: Seq[Expression]) => Md5Lower64Bits(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[Expression]) => VectorDot(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash64"),
      new ExpressionInfo(classOf[RollingHash64].getName, "rolling_hash64"),
      (children: Seq[Expression]) =>
        RollingHash64(children.head, TextKernels.RollB, TextKernels.RollM)))
  }
}

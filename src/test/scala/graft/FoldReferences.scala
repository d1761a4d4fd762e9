package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** The interpreted higher-order-function folds that the native kernels
  * in [[graft.functions]] replaced. The engine no longer runs them; they
  * are the references the bit-exact specs (FunctionsAndSourcesSpec,
  * ByteOpsSpec) compare each kernel against, including the folds'
  * rounding, NULL and overflow semantics. */
object FoldReferences {

  /** The interpreted scale-10 exact fold `decimal_dot` (VectorOps.dotExpr)
    * is proven against. */
  def dot(a: String, b: String): Column = expr(
    s"CAST(aggregate(zip_with($a, $b, " +
      "(x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) " +
      "AS DECIMAL(20,10))), CAST(0 AS DECIMAL(30,10)), " +
      "(acc, p) -> CAST(acc + p AS DECIMAL(30,10))) AS DOUBLE)")

  /** The interpreted scale-8 fold `decimal_wdot` (VectorOps.wdotExpr) is
    * proven against. */
  def wdot(vec: String, weights: String): Column = expr(
    s"CAST(aggregate(zip_with($vec, $weights, " +
      "(x, w) -> CAST(CAST(x AS DOUBLE) * w AS DECIMAL(20,8))), " +
      "CAST(0 AS DECIMAL(30,8)), " +
      "(acc, t) -> CAST(acc + t AS DECIMAL(30,8))) AS DOUBLE)")

  /** The interpreted PQ distance-table fold `pq_dists` is proven against,
    * including slice/zip_with/aggregate NULL edge arithmetic. Reads the
    * codebook column `cbs`. */
  def pqDists(vec: String, pqm: Int, sub: Int): String =
    s"transform(sequence(0, ${pqm - 1}), m -> " +
      "transform(cbs, c -> struct(" +
      s"aggregate(zip_with(slice($vec, m * $sub + 1, $sub), " +
      s"slice(c.cv, m * $sub + 1, $sub), " +
      "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), " +
      "(a, v) -> a + v) AS dist, c.cid AS cid)))"
}

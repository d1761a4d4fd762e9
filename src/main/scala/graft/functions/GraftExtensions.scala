package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions,
  SparkSessionExtensionsProvider}

/** Session-extension installer: `graft.Session.local(cpus,
  * "spark.sql.extensions" -> classOf[GraftExtensions].getName)` or
  * cluster-wide via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  * Injects the opt-in deterministic-sum optimizer rule
  * (`spark.graft.deterministicSum=true`); the native functions come with
  * every session through [[GraftFunctionsProvider]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => graft.plans.DeterministicSumRule)
}

/** Loaded by every session through `java.util.ServiceLoader`
  * (`META-INF/services`), so the engine's native expressions (`sum128`
  * under `graft.Det.dsum`, `pq_dists`, …) resolve on any session built
  * with the engine on its classpath — a streaming job over a bus as
  * much as a query over a table — and in plain SQL on every executor. */
class GraftFunctionsProvider extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

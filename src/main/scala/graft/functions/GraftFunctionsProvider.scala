package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions,
  SparkSessionExtensionsProvider}

/** Loaded by every session through `java.util.ServiceLoader`
  * (`META-INF/services`), so the engine's native expressions (`sum128`
  * under `graft.Det.dsum`, `pq_dists`, …) resolve on any session built
  * with the engine on its classpath — a streaming job over a bus as
  * much as a query over a table — and in plain SQL on every executor. */
class GraftFunctionsProvider extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

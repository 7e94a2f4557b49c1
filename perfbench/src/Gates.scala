package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{CacheScope, SparkEntry, Verify}
import graft.queries.{AnalyticQueries, CoreQueries, WindowQueries}

/** The `gates` workload: read-only analytic gates and persisted-store
  * lifecycle gates, run pass after pass in a seeded order. */
object Gates {
  type Gate = (SparkSession, String) => DataFrame

  /** Every sixth gate, by name, of the analytic catalogs (CoreQueries,
    * AnalyticQueries, WindowQueries): 8 of 47, a sample spread over all
    * three that keeps a run of the benchmark under a minute. */
  def analytic: Seq[(String, Gate)] =
    (CoreQueries.queries ++ AnalyticQueries.queries ++ WindowQueries.queries)
      .toSeq.sortBy(_._1).zipWithIndex.collect { case (g, i) if i % 6 == 0 => g }

  /** One lifecycle gate per store module: create, append and probe a
    * vector store, an inverted index and a tokenizer store. */
  val storeGateNames: Seq[String] = Seq(
    "ann5_store_topk", "ir1_index_store", "t23_tokenizer_store")

  /** (gate name, layer, gate) for every gate of the workload. */
  def all: Seq[(String, String, Gate)] = {
    val catalog = SparkEntry.queries
    analytic.map { case (n, g) => (n, "queries", g) } ++
      storeGateNames.map(n => (n, "stores", catalog(n)))
  }

  /** Run a gate to completion. A `noop` sink drives every row through the
    * whole plan; `count()` would let Catalyst drop work such as a final
    * sort. Operator caches are released before the next gate. */
  def force(spark: SparkSession, gate: Gate, dir: String): Unit =
    CacheScope.withScope { _ =>
      gate(spark, dir).write.format("noop").mode("overwrite").save()
    }

  def digest(spark: SparkSession, gate: Gate, dir: String): (String, Long) =
    CacheScope.withScope(_ => Verify.digest(gate(spark, dir)))

  def order[T](gates: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(gates)
}

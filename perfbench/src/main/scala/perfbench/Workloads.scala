package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.{JdbcQueries, Multimodal, SinkQueries}
import graft.streaming.StreamQueries

/** The operations each workload runs, taken from the engine's public
  * inventory (`SparkEntry.queries`) and its per-family maps. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  val Flagship = "q_geo_flagship_5880"
  private val Flagships = Set("q_geo_flagship", Flagship)

  /** Queries that write: sinks, publish/compaction, and the AvailableNow
    * streams. Multimodal and Jdbc also write but stay out of every
    * workload (they are neither the read path nor the publish path). */
  private def writeNames: Set[String] =
    SinkQueries.all.keySet ++ StreamQueries.all.keySet ++ Multimodal.all.keySet ++ JdbcQueries.all.keySet

  /** Every operation a workload could run: its population. The reference
    * digests cover the whole population (`run.py --record`). */
  def population(workload: String): Seq[String] = workload match {
    case "flagship_refresh" => Seq(Flagship)
    case "query_mix" => (SparkEntry.queries.keySet -- writeNames -- Flagships).toSeq.sorted
    case "publish_stream" => (SinkQueries.all.keySet ++ StreamQueries.all.keySet).toSeq.sorted
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The operations a timed pass runs. Fixed lists, not seeded draws: a run
    * has room for only a handful of distinct queries, and with draws of that
    * size the seed-to-seed spread of pass time was several times any
    * usable bound. `query_mix` takes a typical (0.4-0.55 s) query from six
    * of the read families; `publish_stream` takes the interchange round
    * trip, versioned publish + swap and a stateful AvailableNow stream. */
  def ops(workload: String): Seq[String] = workload match {
    case "flagship_refresh" => Seq(Flagship)
    case "query_mix" => Seq("q_tpch_q3", "q_lang_id", "q_sim_topk", "q_sessionize",
      "q_link_predict", "q_spatial_join")
    case "publish_stream" => Seq("q_csv_roundtrip", "q_materialize", "q_stream_dedup")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def query(name: String): Query = SparkEntry.queries(name)
}

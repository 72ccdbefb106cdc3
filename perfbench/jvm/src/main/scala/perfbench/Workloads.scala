package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import graft.SparkEntry
import graft.analytics.Analytics
import graft.etl.EventsEtl

/** One operator the benchmark drives through the engine's public API.
  *
  * @param module      the engine module the operator lives in; per-layer
  *                    metrics are rolled up under this name
  * @param build       the DataFrame-building call (plus the Observation
  *                    it registers, if any)
  * @param partitionBy `Some(cols)`: the result is loaded through
  *                    `graft.io.Sink.writePartitioned`; `None`: the result
  *                    is materialized through the noop sink
  */
final case class Op(
    name: String,
    module: String,
    build: (SparkSession, String) => (DataFrame, Option[Observation]),
    partitionBy: Option[Seq[String]] = None)

/** A workload: the ops one pass runs, in order. */
final case class Workload(ops: Seq[Op])

object Workloads {
  private def entry(name: String, module: String): Op =
    Op(name, module, (s, d) => (SparkEntry.queries(name)(s, d), None))

  val all: Map[String, Workload] = Map(
    // The reference Part2/Part3 load path: every step written through the
    // partitioned sink. Op names are the matching oracle entries.
    "etl_load" -> Workload(Seq(
      Op("etl_clean_events", "etl",
        (s, d) => { val (df, obs) = EventsEtl.observedClean(s, d); (df, Some(obs)) },
        Some(Seq("service_key"))),
      Op("etl_quarantine", "etl", (s, d) => (EventsEtl.quarantine(s, d), None),
        Some(Seq("reason"))),
      Op("etl_derive_speed", "etl", (s, d) => (EventsEtl.deriveSpeed(s, d), None),
        Some(Nil)),
      Op("etl_dedup_keyfirst", "etl", (s, d) => (EventsEtl.dedupKeyFirst(s, d), None),
        Some(Seq("direction"))),
      Op("q_trip_view", "analytics", (s, d) => (Analytics.tripView(s, d), None),
        Some(Seq("o_orderstatus"))))),
    // Single-task-stage and eager-iterative rows, plus the exact-duplicate
    // path of the text module, through the noop sink.
    "heavy_batch" -> Workload(Seq(
      entry("dedup_exact", "text"),
      entry("dedup_editdist", "ops"),
      entry("ann_ivf", "vector"),
      entry("mm_frames", "multimodal"),
      entry("mm_scene_change", "multimodal"),
      entry("q_spatial_join", "ops"))))

  def apply(name: String): Workload =
    all.getOrElse(name, sys.error(s"unknown workload '$name' (one of ${all.keys.toSeq.sorted.mkString(", ")})"))
}

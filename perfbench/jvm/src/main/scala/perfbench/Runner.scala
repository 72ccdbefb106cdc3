package perfbench

import org.apache.spark.sql.SparkSession
import graft.io.Sink

/** Runs one op invocation: construct → (traced: plan) → execute or write.
  *
  * Each phase runs under its own job group, so the trace parents every
  * job to the phase that fired it; jobs fired while constructing are the
  * op's eager jobs. A failing op is recorded, not thrown, except JVM-fatal
  * errors, which abort the run.
  */
final class Runner(spark: SparkSession, data: String, out: String) {
  import Runner._
  private val sc = spark.sparkContext
  private var seq = 0L

  def run(op: Op, tag: String, target: Target, tracer: Option[Tracer], runSpan: Long)
      : Map[String, Any] = {
    seq += 1
    val id = s"${op.name}#$seq"
    def phase[T](parent: Long, name: String)(body: => T): T = {
      val group = s"$id/$name"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      tracer match {
        case Some(t) => t.span(parent, name, "phase", Some(group))(_ => body)
        case None => body
      }
    }
    def attempt(opSpan: Long): Map[String, Any] = {
      val (df, obs) = phase(opSpan, "construct")(op.build(spark, data))
      if (tracer.isDefined) phase(opSpan, "plan")(df.queryExecution.executedPlan)
      (target, op.partitionBy) match {
        case (Noop, _) =>
          phase(opSpan, "execute")(df.write.format("noop").mode("overwrite").save())
        case (_, Some(cols)) =>
          phase(opSpan, "write")(Sink.writePartitioned(df, s"$out/load/${op.name}", cols))
        case (Check, None) =>
          phase(opSpan, "write")(df.write.mode("overwrite").parquet(s"$out/check/${op.name}"))
        case (Load, None) => sys.error(s"${op.name} has no load target")
      }
      obs.map(o => Map("observed" -> o.get)).getOrElse(Map.empty)
    }
    val t0 = System.nanoTime()
    val result =
      try {
        val extra = tracer match {
          case Some(t) => t.span(runSpan, op.name, "op")(attempt)
          case None => attempt(0L)
        }
        Map("ok" -> true) ++ extra
      } catch {
        case e: VirtualMachineError => throw e
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          Map("ok" -> false, "error" -> e.toString.take(500))
      } finally {
        sc.clearJobGroup()
      }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Map("op" -> op.name, "module" -> op.module, "tag" -> tag, "wall_s" -> wall) ++ result
  }
}

object Runner {
  /** Where an op's result goes: the noop sink (timed batch ops), the
    * check directory (their warm-up passes), or the load directory
    * through the partitioned sink (the ETL steps, always). */
  sealed trait Target
  case object Noop extends Target
  case object Check extends Target
  case object Load extends Target
}

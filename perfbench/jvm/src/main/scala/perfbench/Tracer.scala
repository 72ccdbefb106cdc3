package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced passes of one run.
  *
  * The benchmark opens run (one per traced pass), op and phase spans
  * around its calls into the engine; a SparkListener adds job spans
  * (parented by the phase whose job group they carry) and stage spans
  * (parented by the job that submitted them), each stage with its task
  * counters summed. Jobs of untraced passes carry no traced group and
  * are left out. Nothing is written until `snapshot` at the end of the
  * run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val groupToSpan = mutable.HashMap.empty[String, Long]
  private val stageToJob = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageSpan = mutable.HashMap.empty[Long, (Int, Int)]
  private val stageCounters = mutable.HashMap.empty[Int, mutable.Map[String, Double]]
  private var gcMs = 0L

  // wall clock in ms with sub-ms resolution, on the same epoch as the
  // listener's event times
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  sc.addSparkListener(this)

  private def open(parent: Long, name: String, kind: String, start: Double): Span =
    synchronized {
      val s = Span(nextId, parent, name, kind, start, Double.NaN)
      nextId += 1
      spans += s
      s
    }

  /** Times `body` as a span of `kind`; a phase span also claims the job
    * group its jobs will carry. */
  def span[T](parent: Long, name: String, kind: String, jobGroup: Option[String] = None)
             (body: Long => T): T = {
    val s = open(parent, name, kind, nowMs)
    jobGroup.foreach(g => synchronized(groupToSpan(g) = s.id))
    try body(s.id) finally s.end = nowMs
  }

  /** One traced pass: a run span, with the GC time spent inside it. */
  def pass[T](name: String)(body: Long => T): T = {
    val gc0 = gcMillis()
    try span(0L, name, "run")(body) finally gcMs += gcMillis() - gc0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(groupToSpan.get).foreach { parent =>
      val job = open(parent, s"job ${e.jobId}", "job", e.time.toDouble)
      e.stageIds.foreach(sid => if (!stageToJob.contains(sid)) stageToJob(sid) = job.id)
      jobSpans(e.jobId) = job
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageToJob.contains(e.stageId)) countTask(e)
  }

  private def countTask(e: SparkListenerTaskEnd): Unit = {
    val c = stageCounters.getOrElseUpdate(e.stageId, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    c("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("run_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("input_bytes") += m.inputMetrics.bytesRead
      c("input_rows") += m.inputMetrics.recordsRead
      c("output_bytes") += m.outputMetrics.bytesWritten
      c("output_rows") += m.outputMetrics.recordsWritten
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (job <- stageToJob.get(i.stageId); start <- i.submissionTime; end <- i.completionTime) {
      val s = open(job, s"stage ${i.stageId}", "stage", start.toDouble)
      s.end = end.toDouble
      stageSpan(s.id) = (i.stageId, i.numTasks)
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Detaches the listener once every posted event is delivered and
    * returns spans plus JVM counters as plain maps. */
  def snapshot(): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    synchronized {
      Map(
        "spans" -> spans.toSeq.map { s =>
          val base = Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "kind" -> s.kind, "start" -> s.start, "end" -> s.end)
          stageSpan.get(s.id) match {
            case Some((sid, numTasks)) =>
              base ++ Map("num_tasks" -> numTasks) ++
                stageCounters.get(sid).map(_.toMap).getOrElse(Map.empty)
            case None => base
          }
        },
        "gc_ms" -> gcMs,
        "heap_peak_mb" -> heapPeak / 1048576.0)
    }
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, kind: String,
                        start: Double, var end: Double)
}

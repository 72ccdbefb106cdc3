package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark process.
  *
  * Set-up: pinned session with GraftExtensions → warm-up passes (whose
  * outputs the correctness check reads). Then a closed loop of whole
  * passes, one client, for `--seconds`; with `--trace 1` traced passes
  * alternate with the untraced ones until each kind has run for
  * `--seconds`, so the trace carries its own overhead figure. Raw
  * samples and spans go to `<out>/raw.json`; `report.py` turns them
  * into metrics.
  *
  * usage: perfbench.Driver --workload W --data DIR --out DIR --seconds S
  *        --trace 0|1 --seed N --cores C --launch-ms EPOCH_MS
  */
object Driver {
  /** Warm-up passes in set-up. The JIT is still compiling the engine's
    * hot paths after one pass: with one, ETL pass walls kept falling by a
    * third over the measured passes and five seeds spread by 35%; with
    * three they spread by 1-2% on a quiet 4-core host. */
  val WarmupPasses = 3

  /** Passes a window runs at least, however long they take, so a median
    * and a traced-to-untraced ratio never rest on one pass. */
  val MinPasses = 2

  private final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cores: Int, launchMs: Long)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("data"), need("out"), need("seconds").toDouble,
      need("trace") == "1", need("seed").toLong, need("cores").toInt, need("launch-ms").toLong)
  }

  /** The benchmark's own session factory: every setting that changes a
    * result or a timing is pinned here and recorded in the output. */
  def settings(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    val workload = Workloads(a.workload)
    val ops = workload.ops
    val conf = settings(a.cores, a.out)
    val spark = conf.foldLeft(SparkSession.builder().appName(s"perfbench-${a.workload}")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val runner = new Runner(spark, a.data, a.out)
    val warm = (1 to WarmupPasses).flatMap(i => ops.map(op => runner.run(op, s"warmup$i", Runner.Check, None, 0L)))
    val readyMs = System.currentTimeMillis()

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val (untraced, tracedWindow) = measure(runner, a, workload, tracer)
    val traced = tracer.map(t => tracedWindow ++ t.snapshot())

    val rt = ManagementFactory.getRuntimeMXBean
    val raw = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "settings" -> conf.toMap,
      "jvm" -> Map(
        "version" -> System.getProperty("java.version"),
        "vm" -> rt.getVmName,
        "args" -> rt.getInputArguments.toArray.toSeq,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark" -> spark.version),
      "load_avg_1m" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "timeline_ms" -> Map("launch" -> a.launchMs, "main" -> mainMs,
        "session" -> sessionMs, "ready" -> readyMs),
      "oracle_sql" -> ops.flatMap(op => graft.SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap,
      "warmup" -> warm,
      "untraced" -> untraced,
      "traced" -> traced.orNull)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(s"${a.out}/raw.json"), raw)
  }

  /** The passes of one kind, traced or not. */
  private final class Window(prefix: String) {
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Double]
    def tag: String = s"$prefix${passes.size}"
    def toMap: Map[String, Any] =
      Map("samples" -> samples.toSeq, "passes_s" -> passes.toSeq, "elapsed_s" -> passes.sum)
  }

  /** Closed loop in whole passes until the untraced window, and with a
    * tracer the traced one, has run for `--seconds`, at least
    * `MinPasses` each. Traced and untraced passes alternate in ABBA order,
    * so JIT warm-up and host drift fall on both alike and their difference
    * is the tracing cost. */
  private def measure(runner: Runner, a: Args, workload: Workload, tracer: Option[Tracer])
      : (Map[String, Any], Map[String, Any]) = {
    val target = if (a.workload == "etl_load") Runner.Load else Runner.Noop
    val plain = new Window("p")
    val traced = new Window("t")
    def pass(w: Window, t: Option[Tracer]): Unit = {
      val tag = w.tag
      val p0 = System.nanoTime()
      t match {
        case Some(tr) => tr.pass(tag)(runSpan =>
          workload.ops.foreach(op => w.samples += runner.run(op, tag, target, t, runSpan)))
        case None => workload.ops.foreach(op => w.samples += runner.run(op, tag, target, None, 0L))
      }
      w.passes += (System.nanoTime() - p0) / 1e9
    }
    def open(w: Window) = w.passes.size < MinPasses || w.passes.sum < a.seconds
    val kinds = (plain -> Option.empty[Tracer]) +: tracer.map(t => traced -> Some(t)).toSeq
    var round = 0
    while (kinds.exists { case (w, _) => open(w) }) {
      (if (round % 2 == 0) kinds else kinds.reverse).foreach { case (w, t) => if (open(w)) pass(w, t) }
      round += 1
    }
    (plain.toMap, traced.toMap)
  }
}

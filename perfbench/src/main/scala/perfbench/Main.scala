package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

/** One call of the closed loop: `call` is timed and returns the op's
  * materialised output; `after` runs off the clock, checks that output and
  * returns (error if the check failed, details kept in the result file). */
final case class Op(kind: String, call: () => AnyRef,
                    after: AnyRef => (Option[String], Map[String, Any]) = _ => (None, Map.empty))

final case class OpRec(idx: Int, kind: String, phase: String, ms: Double,
                       error: Option[String], info: Map[String, Any])

/** A workload: set-up (built and warmed before timing starts), the op
  * schedule of the closed loop, and the off-clock checks and metrics at the
  * end of the run. */
trait Workload {
  /** Set-up phases and their seconds, for the result file. */
  val setupParts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def part[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally setupParts(name) = (System.nanoTime() - t) / 1e9
  }
  def setup(): Unit
  def next(): Op
  /** True when the ops handed out so far form whole schedule cycles. */
  def cycleDone: Boolean
  /** Nominal seconds of one schedule cycle: fixes how many cycles a run of
    * `--seconds` measures, so every commit measures the same ops. */
  def cycleSeconds: Double
  /** Op kinds whose latency the run reports as `p50_ms`. */
  def primary: Set[String]
  /** Untimed probes that time a layer's stages one by one (traced runs). */
  def probes(): Map[String, Any] = Map.empty
  /** Checked ops the probes ran; they count as attempted. */
  val probeOps = ArrayBuffer.empty[OpRec]
  /** End-of-run checks and workload metrics, off the clock. Returns
    * (metrics, failed-check messages, op kinds a failed final check fails). */
  def finish(ops: Seq[OpRec]): (Map[String, Any], Seq[String], Set[String])
}

/** JVM side of the benchmark: builds the session the way `graft.Bench` does,
  * runs one workload's set-up and closed loop, and writes `jvm_result.json`
  * into the run's work directory for `run.py`.
  *
  * Args: key=value pairs — workload, dir (work dir holding the generated
  * inputs), seconds, trace (0|1), seed, plus workload size knobs. */
object Main {
  val OpTimeoutMs = 60000.0
  val MaxSlowdown = 4.0

  def loadavg(): Double =
    Try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split("\\s+")(0).toDouble finally s.close()
    }.getOrElse(-1.0)

  def peakRssMb(): Double =
    Try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
      finally s.close()
    }.getOrElse(-1.0)

  def session(localDir: String, warehouse: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (!sys.env.get("SPARK_GRAFT_REWRITE").contains("0"))
      graft.plans.TopKPerKey.enableRewrite(spark)
    spark
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(args: Array[String]): Unit = {
    val p = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dir = p("dir")
    val seconds = p("seconds").toDouble
    val trace = p.get("trace").contains("1")
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = session(s"$dir/spark-local", s"$dir/warehouse")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = p("workload") match {
      case "search" => new SearchWl(spark, dir)
      case "ingest" => new IngestWl(spark, dir)
      case "maintain" => new MaintainWl(spark, dir, p)
      case "curate" => new CurateWl(spark, dir)
    }
    wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    val ops = ArrayBuffer.empty[OpRec]
    // Closed loop, one client, whole op cycles: `seconds` fixes the number of
    // cycles through the workload's nominal cycle time, so a slower commit
    // measures the same ops for longer (a run more than MaxSlowdown times
    // its nominal length stops at the next cycle boundary). A traced run
    // alternates untraced and traced cycles, so both see the same warm-up
    // state and their difference is the tracing overhead.
    val target = math.max(if (trace) 2L else 1L, math.round(seconds / wl.cycleSeconds)).toInt
    var busy = 0.0
    var cycles = 0
    var done = false
    while (!done) {
      val i = ops.size
      val op = wl.next()
      val opId = Trace.newOp()
      val s = System.nanoTime()
      val res = Try(Trace.span(op.kind, opId)(op.call()))
      val ms = (System.nanoTime() - s) / 1e6
      busy += ms
      val (err, info) = res match {
        case Success(r) =>
          Try(op.after(r)) match {
            case Success((e, inf)) =>
              (e.orElse(if (ms > OpTimeoutMs) Some(s"timed out: $ms ms") else None), inf)
            case Failure(e) => (Some(s"check threw: $e"), Map.empty[String, Any])
          }
        case Failure(e) => (Some(s"threw: $e"), Map.empty[String, Any])
      }
      spark.sharedState.cacheManager.clearCache()
      ops += OpRec(i, op.kind, if (Trace.enabled) "traced" else "timed", ms, err, info)
      if (wl.cycleDone) {
        cycles += 1
        done = cycles >= target || busy >= MaxSlowdown * target * wl.cycleSeconds * 1000
        if (trace && !done) { if (cycles % 2 == 1) Trace.enable(spark) else Trace.disable() }
      }
    }
    var layers: Map[String, Any] = Map.empty
    if (trace) {
      Trace.enable(spark)
      // probes are diagnostics, not gated metrics: a late run skips them
      // rather than overrun its deadline
      val probes =
        if (p.get("probe_by").forall(System.currentTimeMillis() < _.toLong))
          Trace.span("probes", Trace.newOp())(wl.probes())
        else Map("skipped" -> "run too late for the probes")
      wl.probeOps.foreach(r => ops += r.copy(idx = ops.size))
      val (stats, attribution) = Trace.summarize()
      Trace.disable()
      layers = Map("spans" -> stats.map(Trace.render), "attribution" -> attribution,
        "probes" -> probes)
    }
    val (metrics, finalErrors, failsKinds) = wl.finish(ops.toSeq)
    val loadEnd = loadavg()
    val rss = peakRssMb()
    val opsOut = ops.map { r =>
      val err = r.error.orElse(
        if (failsKinds.contains(r.kind) && finalErrors.nonEmpty) Some("final check failed") else None)
      Map("idx" -> r.idx, "kind" -> r.kind, "phase" -> r.phase, "ms" -> r.ms,
        "error" -> err, "info" -> r.info)
    }
    Json.write(s"$dir/jvm_result.json", Map(
      "workload" -> p("workload"), "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "setup_s" -> setupS, "session_s" -> sessionS, "setup_parts" -> wl.setupParts,
      "peak_rss_mb" -> rss,
      "primary" -> wl.primary.toSeq, "ops" -> opsOut,
      "metrics" -> metrics, "final_errors" -> finalErrors, "layers" -> layers))
    spark.stop()
  }
}

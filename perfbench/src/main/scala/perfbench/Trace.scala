package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into an engine layer. Spans of one op
  * share `op`; `parent` is the enclosing span (0 for an op's root span). */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                 val startMs: Long, val startNs: Long, val gcStartMs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  var gcEndMs: Long = -1L
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder plus the Spark listeners that attribute jobs, tasks and
  * planning time to spans. Spans live in memory and are summarised once at
  * the end of the run. Jobs carry the span id through a Spark local
  * property set before each call; planning time (which carries no job
  * properties) and jobs submitted from pool threads that inherited a stale
  * property are attributed by time window, which is exact because the
  * benchmark has one client thread and runs one op at a time. */
object Trace {
  val Prop = "perfbench.span"
  @volatile var enabled = false
  private var sc: SparkContext = _
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var nextOp = 1

  final class JobRec(val span: Int, val startMs: Long) { var endMs: Long = -1L }
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var input = 0L; var output = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, new JobRec(sp, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private var registered = false

  /** Attach the listeners and record spans from now on. */
  def enable(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (!registered) {
      sc.addSparkListener(JobListener)
      classic(spark).listenerManager.register(PlanListener)
      registered = true
    }
    enabled = true
  }

  /** Stop recording: deliver pending events, then detach the listeners. */
  def disable(): Unit = if (registered) {
    enabled = false
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(JobListener)
    classic(SparkSession.active).listenerManager.unregister(PlanListener)
    registered = false
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def newOp(): Int = { val o = nextOp; nextOp += 1; o }

  /** Time `body` as a span named `name` ("Module.call"). Untraced runs
    * pay only the by-name call. */
  def span[T](name: String, op: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(nextId, parent.map(_.id).getOrElse(0),
        if (op > 0) op else parent.map(_.op).getOrElse(0), name,
        System.currentTimeMillis(), System.nanoTime(), gcMs())
      nextId += 1
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = gcMs()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-span layer metrics, keyed by span id. */
  final case class SpanStats(span: Span, jobs: Int, tasks: Long, taskMs: Long,
                             input: Long, output: Long, shuffle: Long, spill: Long,
                             planMs: Double, driverMs: Double, selfMs: Double,
                             gcMs: Long)

  /** Summarise every recorded span. Call once, after the last span. */
  def summarize(): (Seq[SpanStats], Map[String, Any]) = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    val spans = this.spans.filter(_.endNs >= 0)
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def rootOf(s: Span): Span = if (s.parent == 0) s else rootOf(byId(s.parent))
    def contains(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    // innermost span open at time t (serial client: one op at a time)
    def spanAt(t: Long): Option[Span] =
      spans.filter(s => contains(s, t)).sortBy(s => -(s.startNs)).headOption
    var byProp = 0
    var byTime = 0
    val jobSpan: Map[Int, (Int, JobRec)] = jobs.asScala.toMap.flatMap { case (jid, j) =>
      val viaProp = byId.get(j.span).filter(s => contains(rootOf(s), j.startMs))
      val s = viaProp.orElse(spanAt(j.startMs))
      if (viaProp.isDefined) byProp += 1 else if (s.isDefined) byTime += 1
      s.map(sp => jid -> (sp.id, j))
    }
    val stageAggByJob = stages.asScala.toSeq.flatMap { case (st, a) =>
      Option(stageJob.get(st)).map(j => (j: Int) -> a)
    }.groupBy(_._1).map { case (j, xs) => j -> xs.map(_._2) }
    def descendants(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.flatMap(descendants)
    val planList = plans.asScala.toSeq
    val stats = spans.toSeq.map { s =>
      val ids = descendants(s).map(_.id).toSet
      val js = jobSpan.values.filter { case (sid, _) => ids.contains(sid) }.map(_._2).toSeq
      val jids = jobSpan.collect { case (jid, (sid, _)) if ids.contains(sid) => jid }.toSeq
      val aggs = jids.flatMap(j => stageAggByJob.getOrElse(j, Nil))
      val jobCover = covered(js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
        s.startMs, s.endMs)
      val kids = children.getOrElse(s.id, Nil).toSeq
      val kidCover = covered(kids.map(k => (k.startNs, k.endNs)), s.startNs, s.endNs) / 1e6
      val planMs = planList.filter { case (t, _) => contains(s, t) }.map(_._2).sum
      SpanStats(s, js.size, aggs.map(_.tasks).sum, aggs.map(_.runMs).sum,
        aggs.map(_.input).sum, aggs.map(_.output).sum,
        aggs.map(a => a.shuffleWrite + a.shuffleRead).sum, aggs.map(_.spill).sum,
        planMs, math.max(0.0, s.wallMs - jobCover), s.wallMs - kidCover,
        s.gcEndMs - s.gcStartMs)
    }
    val attribution = Map("jobs" -> jobs.size, "by_property" -> byProp,
      "by_time_window" -> byTime, "unattributed" -> (jobs.size - byProp - byTime))
    (stats, attribution)
  }

  def render(st: SpanStats): Map[String, Any] = Map(
    "id" -> st.span.id, "parent" -> st.span.parent, "op" -> st.span.op,
    "name" -> st.span.name, "wall_ms" -> st.span.wallMs, "self_ms" -> st.selfMs,
    "spark.jobs" -> st.jobs, "spark.tasks" -> st.tasks, "spark.task_ms" -> st.taskMs,
    "spark.plan_ms" -> st.planMs, "spark.driver_ms" -> st.driverMs,
    "spark.input_bytes" -> st.input, "spark.output_bytes" -> st.output,
    "spark.shuffle_bytes" -> st.shuffle, "spark.spill_bytes" -> st.spill,
    "jvm.gc_ms" -> st.gcMs)
}

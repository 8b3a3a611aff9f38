package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchPlans, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Outside-in tracer. The benchmark wraps each call it makes into a
  * module's public function in a span; a Spark local property set
  * around the call tags every job the call submits, and the
  * [[TraceListener]] folds each job's stages and tasks into the span
  * that caused them. Nothing inside the program is instrumented.
  *
  * Spans are kept in memory and written out when the run ends. While
  * tracing is off, [[span]] only runs its body.
  */
final class Tracer(val runId: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var on = false
  /** Innermost open span: the listener's fallback for a job whose
    * local properties were not inherited (a pool thread).
    */
  @volatile private[perfbench] var current: Int = -1
  private var listener: TraceListener = _
  private var session: SparkSession = _

  def enabled: Boolean = on

  /** Attach the listener to `spark` and start recording spans. */
  def start(spark: SparkSession): Unit = {
    if (listener == null || session != spark) {
      session = spark
      listener = new TraceListener(this)
    }
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  /** Detach the listener; spans recorded so far stay. */
  def stop(): Unit = if (on) {
    PerfbenchBus.drain(session.sparkContext)
    session.sparkContext.removeSparkListener(listener)
    on = false
  }

  /** Wait until the listener has seen every event so far. */
  def sync(): Unit = if (on) PerfbenchBus.drain(session.sparkContext)

  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      current = s.id
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        current = parent.map(_.id).getOrElse(-1)
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  def closedSpans: Seq[Span] = spans.filter(_.endNs >= 0).toSeq

  def stats(id: Int): SpanStats =
    if (listener == null) new SpanStats else listener.statsOf(id)

  /** Self time: the span's duration minus the part its children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(c => c.parent == s.id && c.endNs >= 0)
      .map(c => (c.startNs, c.endNs)).toSeq
    (s.endNs - s.startNs - Stats.unionLength(kids)) / 1e9
  }

  /** Wall time not covered by any stage of the span: driver-side work,
    * planning, and waits between jobs.
    */
  def driverOnlyS(s: Span): Double = {
    val st = stats(s.id)
    val stageMs = Stats.unionLength(st.stageIntervals.toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) })
    math.max(0.0, s.wallS - stageMs / 1e3)
  }

  def spanJson(): Seq[Map[String, Any]] = closedSpans.map { s =>
    val st = stats(s.id)
    Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
      "self_s" -> selfS(s), "driver_only_s" -> driverOnlyS(s), "jobs" -> st.jobs,
      "stages" -> st.stageIntervals.size, "tasks" -> st.tasks,
      "executor_run_s" -> st.runMs / 1e3, "executor_cpu_s" -> st.cpuNs / 1e9,
      "gc_s" -> st.gcMs / 1e3, "shuffle_write_bytes" -> st.shuffleWrite,
      "spill_bytes" -> st.spill, "task_failures" -> st.taskFailures,
      "exchanges" -> st.exchanges, "jobs_by_callsite" -> st.callSites.toMap)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    def wallS: Double = (endNs - startNs) / 1e9
  }
}

/** Everything the listener saw for one span. Written on the listener
  * bus thread; read after [[PerfbenchBus.drain]].
  */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var taskFailures = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var exchanges = 0
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Longest task per stage id: the run time of the task that ran a
    * single-task reducer.
    */
  val stageMaxTaskMs = mutable.Map.empty[Int, Long]
  val callSites = mutable.Map.empty[String, Int]
}

final class TraceListener(tracer: Tracer) extends SparkListener {
  private val byspan = new ConcurrentHashMap[Int, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val SourceFile = """([A-Za-z0-9_$]+\.(scala|java)):\d+""".r

  def statsOf(id: Int): SpanStats = byspan.computeIfAbsent(id, _ => new SpanStats)


  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val sid = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(tracer.current)
    if (sid >= 0) {
      val st = statsOf(sid)
      st.jobs += 1
      e.stageIds.foreach(stageSpan.put(_, sid))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.put(x.toLong, sid))
      // the call site of the job's final stage names the source file
      // that triggered it (Spark's short form "collect at Dedup.scala:712");
      // adaptive query stages are submitted from a JDK pool thread
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .flatMap(si => SourceFile.findFirstMatchIn(si.name).map(_.group(1)))
        .map(f => if (f.endsWith(".java")) "adaptive-stage" else f)
        .getOrElse("other")
      st.callSites(site) = st.callSites.getOrElse(site, 0) + 1
    }
  }

  /** Books the shuffle exchanges of each finished SQL execution's
    * final plan to the span whose jobs ran it.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit =
    PerfbenchPlans.finished(e).foreach { case (exec, plan) =>
      Option(execSpan.get(exec)).foreach(sid => statsOf(sid).exchanges += PlanExchanges(plan))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageSpan.get(si.stageId)).foreach { sid =>
      for (a <- si.submissionTime; b <- si.completionTime)
        statsOf(sid).stageIntervals += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { sid =>
      val st = statsOf(sid)
      st.tasks += 1
      if (e.reason != Success) st.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.stageMaxTaskMs(e.stageId) =
          math.max(st.stageMaxTaskMs.getOrElse(e.stageId, 0L), m.executorRunTime)
      }
    }
}

/** Shuffle exchanges of a final (post-AQE) physical plan. */
object PlanExchanges {
  def apply(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => apply(a.executedPlan)
    case q: QueryStageExec => apply(q.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(apply).sum
    case other => (other.children ++ other.subqueries).map(apply).sum
  }
}

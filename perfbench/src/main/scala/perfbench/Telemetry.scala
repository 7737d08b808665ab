package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Interval arithmetic over [start, end) pairs in milliseconds. */
object Intervals {

  /** Length of the union of `iv`: overlapping jobs count once, so the
    * result never exceeds the span from the earliest start to the latest end.
    */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curStart.isNaN || s > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** Part of [start, end) covered by none of `children` (a span's self time). */
  def selfMs(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - unionMs(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      // linear interpolation between closest ranks (numpy's default)
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One span of the trace: `key` is shared by every span of one query
  * execution or one trigger; times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      key: String, start: Double, end: Double)

/** Spans recorded in memory and written out once, when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var next = 0L

  def add(parent: Long, kind: String, name: String, key: String,
          start: Double, end: Double): Long = synchronized {
    next += 1
    spans += Span(next, parent, kind, name, key, start, end)
    next
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time summed per span kind. */
  def selfByKind: Map[String, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { p =>
        Intervals.selfMs(p.start, p.end,
          kids.getOrElse(p.id, Nil).map(c => (c.start, c.end)))
      }.sum
    }
  }

  def json: String = all.map { p =>
    s"""{"id":${p.id},"parent":${p.parent},"kind":${Json.str(p.kind)},""" +
      s""""name":${Json.str(p.name)},"key":${Json.str(p.key)},""" +
      s""""start":${Json.num(p.start)},"end":${Json.num(p.end)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Scheduler and executor counters from Spark's listener events. Jobs and
  * stages are attributed to the span whose id the harness set as the
  * `perfbench.span` local property when it submitted them.
  */
final class SchedListener extends SparkListener {
  import SchedListener._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  private val stageJob = mutable.HashMap[Int, (Int, String)]()
  var taskMs, cpuNs, gcMs, waitMs = 0L
  var peakMem, shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SchedListener.SpanProp))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobs(e.jobId) = Job(span, e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, (e.jobId, span)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val (job, span) = stageJob.getOrElse(e.stageInfo.stageId, (-1, spanOf(e.properties)))
    val submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages(e.stageInfo.stageId) = Stage(span, job, submit, -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
    }
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs of one span as [start, end) intervals, in epoch ms. */
  def jobIntervals(span: String): Seq[(Double, Double)] = synchronized {
    jobs.values.filter(j => j.span == span && j.end >= 0)
      .map(j => (j.start.toDouble, j.end.toDouble)).toList
  }
}

object SchedListener {
  val SpanProp = "perfbench.span"
  final case class Job(span: String, start: Long, var end: Long)
  final case class Stage(span: String, job: Int, var submit: Long, var complete: Long)
}

/** Per-action driver counters: planning phase time from each action's
  * `QueryPlanningTracker` and SQL-metric time per operator kind, read from
  * the final adaptive plan (subqueries and query stages included).
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var actions = 0L
  var planMs = 0.0
  val opsMs = mutable.HashMap[String, Double]().withDefaultValue(0.0)

  // SQL timing metric name -> operator kind reported as ops.<kind>_ms
  private val kinds = Map(
    "scanTime" -> "scan", "aggTime" -> "agg", "sortTime" -> "sort",
    "buildTime" -> "hash_build", "shuffleWriteTime" -> "shuffle_write")

  private def record(qe: QueryExecution): Unit = {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    collectWithSubqueries(qe.executedPlan) { case p => p }.foreach { p =>
      p.metrics.foreach { case (name, m) =>
        kinds.get(name).foreach { k =>
          val ms = m.metricType match {
            case "nsTiming" => m.value / 1e6
            case "timing" => m.value.toDouble
            case _ => 0.0
          }
          opsMs(k) += ms
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += 1; record(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { actions += 1 }
}

/** Every progress event of every streaming query, with the wall time at
  * which its micro-batch committed.
  */
final class ProgressListener extends StreamingQueryListener {
  import ProgressListener.P

  val events = mutable.ArrayBuffer[P]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.toSeq
    events += P(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d,
      p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.allUpdatesTimeMs).sum, st.map(_.commitTimeMs).sum,
      st.map(_.numRowsDroppedByWatermark).sum)
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def snapshot: Seq[P] = synchronized(events.toList)
}

object ProgressListener {
  final case class P(store: String, batchId: Long, startMs: Long, durations: Map[String, Long],
                     inputRows: Long, stateRows: Long, stateBytes: Long,
                     updateMs: Long, commitMs: Long, dropped: Long) {
    def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
    def commitAt: Long = startMs + triggerMs
  }
}

object Telemetry {

  /** Wait until the listener bus has delivered every event posted so far.
    * `listenerBus` is private[spark] in source but public in bytecode.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L))
    ()
  }
}

package graft.harness

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.BusFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: an interval at a layer boundary. `group` is the query name or
  * micro-batch id every span of one unit of work shares. */
final case class Span(id: String, parent: String, kind: String, group: String,
    start: Double, end: Double)

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans and counters of a traced run, kept in memory until the run ends.
  *
  * Spans come from two places: the harness wraps each call into a layer's
  * public entry point, and Spark's public listeners report the jobs, stages
  * and tasks those calls launch. A job is attributed to the harness span
  * open on the thread that launched it through a Spark local property. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]
  val progress = new ConcurrentLinkedQueue[String]
  private val counters = new ConcurrentHashMap[String, java.lang.Double]
  private val spanKind = new ConcurrentHashMap[String, String]
  private val jobs = new ConcurrentHashMap[Int, (String, String, Long)]
  private val stageJob = new ConcurrentHashMap[Int, (String, String)]
  @volatile private var recording = false

  def add(name: String, v: Double): Unit =
    if (recording) counters.merge(name, v, (a, b) => a + b)
  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap

  /** Start or stop counting; pending listener events are delivered first so
    * that every event lands on the correct side of the switch. */
  def recordingOn(on: Boolean): Unit = {
    BusFlush(spark.sparkContext); recording = on
  }

  /** Run `body` inside a span; jobs it launches become the span's children. */
  def span[T](id: String, parent: String, kind: String, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (prevSpan, prevGroup) = (sc.getLocalProperty(SpanKey), sc.getLocalProperty(GroupKey))
    spanKind.put(id, kind)
    sc.setLocalProperty(SpanKey, id); sc.setLocalProperty(GroupKey, group)
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      sc.setLocalProperty(SpanKey, prevSpan); sc.setLocalProperty(GroupKey, prevGroup)
      if (recording) spans.add(Span(id, parent, kind, group, t0, t1))
    }
  }

  def addSpan(s: Span): Unit = if (recording) spans.add(s)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = prop(SpanKey).getOrElse("")
      val group = prop(GroupKey).orElse(prop("streaming.sql.batchId")).getOrElse("")
      val id = s"job${e.jobId}"
      jobs.put(e.jobId, (parent, group, e.time))
      e.stageIds.foreach(s => stageJob.put(s, (id, group)))
      add("sched.jobs", 1)
      if (spanKind.get(parent) == "construct") add("queries.construct_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (parent, group, t0) =>
        addSpan(Span(s"job${e.jobId}", parent, "job", group, t0.toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
      val si = e.stageInfo
      val (job, group) = Option(stageJob.get(si.stageId)).getOrElse(("", ""))
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        addSpan(Span(s"stage${si.stageId}.${si.attemptNumber()}", job, "stage", group,
          t0.toDouble, t1.toDouble))
      add("sched.stages", 1)
      if (si.numTasks == 1) add("sched.serial_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        add("sched.delay_ms", math.max(0L, info.duration - overhead - info.gettingResultTime))
        add("exec.run_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        add("plan.analysis_ms", ms("analysis"))
        add("plan.optimize_ms", ms("optimization"))
        add("plan.physical_ms", ms("planning"))
        add("plan.exchanges", Exchanges.count(qe.executedPlan))
        // the sink's staging write is the only write whose path names a
        // staging directory (the injected torn writes are marked "crash"):
        // its duration is the sink's write time
        if (StagingWrite.findFirstIn(qe.logical.toString).nonEmpty)
          add("ExactlyOnceSink.write_ms", durationNs / 1e6)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) progress.add(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    BusFlush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: Map[String, Any] = Map(
    "counters" -> snapshot(),
    "spans" -> spans.asScala.toSeq.map(s =>
      Seq(s.id, s.parent, s.kind, s.group, s.start, s.end)),
    "progress" -> progress.asScala.toSeq.map(RawJson))
}

object Tracer {
  val SpanKey = "graftbench.span"
  val GroupKey = "graftbench.group"
  private val StagingWrite = "_staging_batch=\\d+-(?!crash)".r
}

/** Exchanges in an executed plan, including the adaptive final plan and
  * subqueries. */
object Exchanges extends AdaptiveSparkPlanHelper {
  def count(p: SparkPlan): Int =
    collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
}

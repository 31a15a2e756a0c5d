package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the client thread: pass > query > build |
  * execute | fetch. Times are epoch milliseconds (sub-ms precision) so
  * they compare directly with Spark's listener timestamps. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span store, written out when the run ends. Ids are taken
  * when a span opens (so a phase's id can name its Spark job group) and
  * the span is stored when it closes. The client thread is the only
  * writer. */
final class Spans {
  private val origin = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private var next = 0
  val all = scala.collection.mutable.LinkedHashMap.empty[Int, Span]
  def now(): Double = origin + (System.nanoTime() - originNs) / 1e6
  def open(): Int = { next += 1; next }
  def close(id: Int, parent: Int, kind: String, name: String,
            start: Double): Span = {
    val s = Span(id, parent, kind, name, start, now())
    all(id) = s
    s
  }
  def children(id: Int): Seq[Span] = all.values.filter(_.parent == id).toSeq
}

/** Task metrics summed over the tasks of one job. */
final class TaskSums {
  var tasks, failures = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillMem, spillDisk, inBytes, inRows, outBytes, outRows = 0L
  var peakMem = 0L
  def add(m: org.apache.spark.executor.TaskMetrics, ok: Boolean): Unit = {
    tasks += 1
    if (!ok) failures += 1
    if (m != null) {
      cpuNs += m.executorCpuTime; runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillMem += m.memoryBytesSpilled; spillDisk += m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead; inRows += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
      outRows += m.outputMetrics.recordsWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }
}

final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = -1L
  var stages = 0
  val sums = new TaskSums
}

final case class PlanRec(phases: Map[String, (Long, Long)], nodes: Int,
                         exchanges: Int)

/** The traced run's listeners: one SparkListener (jobs, stages, tasks),
  * one QueryExecutionListener (planning phases, physical plan size) and
  * one StreamingQueryListener (micro-batches). Registered once per
  * session by [[register]] and removed by [[unregister]]; jobs are
  * attributed to spans by job group, never by time window. */
final class Tracer(spark: SparkSession) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  /** (trigger start epoch ms, trigger duration ms) per micro-batch. */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SparkContextGroup))).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      job(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      job(e.stageId).foreach(_.sums.add(e.taskMetrics,
        e.reason == org.apache.spark.Success))
  }
  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli, ms))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def drain(): Unit = PerfBenchBus.drain(spark.sparkContext)

  /** Planning phases and physical plan of one executed query. Actions that
    * run through an RDD (the Arrow fetch) reach no QueryExecutionListener,
    * so the client records their QueryExecution itself. */
  def record(qe: QueryExecution): Unit = plans.add(planRec(qe))

  private def planRec(qe: QueryExecution): PlanRec = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }
    val nodes = try Tracer.nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    PlanRec(phases, nodes.size, nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    })
  }

  private val SparkContextGroup = "spark.jobGroup.id"
}

object Tracer {
  /** Physical operators of a plan as executed: AQE wrappers and query
    * stages are looked through, reused exchanges count once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def cover(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

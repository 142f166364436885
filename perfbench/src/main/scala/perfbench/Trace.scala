package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: workload → operation → public call → Spark job. Times are
  * epoch milliseconds (fractional). */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
                      endMs: Double, attrs: Map[String, Any] = Map.empty)

/** Clock shared by the harness and the listeners: epoch milliseconds with
  * nanoTime resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Collects the per-layer counters of a traced run from outside the
  * program: a SparkListener (jobs, stages, tasks and their metrics), a
  * QueryExecutionListener (Catalyst phases and executed-plan shape) and a
  * StreamingQueryListener (stream progress). Jobs are attributed to
  * operations by job group; a streaming query's jobs run under its run id,
  * which is mapped to the operation that started the query. Everything is
  * kept in memory and read once, after the session has stopped and the
  * listener bus has drained. */
final class Tracer extends SparkListener with AdaptiveSparkPlanHelper {
  /** The operation span currently running on the client thread. */
  @volatile var currentOp: Long = -1L
  private val streamRunToOp = new ConcurrentHashMap[String, Long]()

  final case class Job(id: Int, group: String, startMs: Double,
                       var endMs: Double = Double.NaN)
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val stagesDone = new AtomicLong()

  /** Task counters per operation span id. */
  final class TaskAcc {
    var tasks = 0L; var inBytes = 0L; var inRows = 0L; var shuffleWrite = 0L
    var spill = 0L; var peakExec = 0L; var outBytes = 0L
  }
  val taskAcc = new ConcurrentHashMap[Long, TaskAcc]()

  /** The op span a job group belongs to, or -1 for harness-side work. */
  def opOf(group: String): Long =
    if (group == null) -1L
    else if (group.startsWith("op-")) group.stripPrefix("op-").toLong
    else streamRunToOp.getOrDefault(group, -1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time.toDouble))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val j = stageToJob.get(e.stageInfo.stageId)
    if (j != null && opOf(jobs.get(j).group) >= 0) stagesDone.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageToJob.get(e.stageId)
    val op = if (j == null) -1L else opOf(jobs.get(j).group)
    val m = e.taskMetrics
    if (op >= 0 && m != null) {
      val a = taskAcc.computeIfAbsent(op, _ => new TaskAcc)
      a.synchronized {
        a.tasks += 1
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // --- Catalyst: one record per executed action of the traced session ---
  final class PlanAcc {
    var executions = 0L; var analysisMs = 0L; var optimizationMs = 0L
    var planningMs = 0L; var exchanges = 0L; var scanFiles = 0L
    var graftNodes = 0L; var outFiles = 0L
  }
  val plan = new PlanAcc

  private def record(qe: QueryExecution): Unit = plan.synchronized {
    plan.executions += 1
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    plan.analysisMs += ms("analysis")
    plan.optimizationMs += ms("optimization")
    plan.planningMs += ms("planning")
    val p: SparkPlan = qe.executedPlan
    def graftIn(n: SparkPlan): Int =
      (if (n.getClass.getName.startsWith("graft.plans.")) 1 else 0) +
        n.expressions.map(_.collect {
          case x if x.getClass.getName.startsWith("graft.plans.") => 1
        }.size).sum
    val nodes = collectWithSubqueries(p) { case n => n }
    nodes.foreach {
      case _: Exchange => plan.exchanges += 1
      case s: FileSourceScanExec =>
        plan.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case w: DataWritingCommandExec =>
        plan.outFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    nodes.foreach(n => plan.graftNodes += graftIn(n))
  }
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  // --- Structured Streaming progress ---
  final case class StreamRec(startMs: Double,
                             var firstBatchMs: Double = Double.NaN,
                             var batches: Long = 0L, var batchMs: Double = 0.0,
                             var inputRows: Long = 0L, var stateRows: Long = 0L)
  val streams = new ConcurrentHashMap[String, StreamRec]()
  private def isoMs(s: String): Double =
    java.time.Instant.parse(s).toEpochMilli.toDouble

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    // called synchronously from start(), on the client thread
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamRunToOp.put(e.runId.toString, currentOp)
      streams.put(e.runId.toString, StreamRec(isoMs(e.timestamp)))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val r = streams.get(p.runId.toString)
      if (r != null) r.synchronized {
        if (r.firstBatchMs.isNaN) r.firstBatchMs = isoMs(p.timestamp)
        r.batches += 1
        r.batchMs += Option(p.durationMs.get("triggerExecution"))
          .map(_.doubleValue).getOrElse(0.0)
        r.inputRows += p.numInputRows
        r.stateRows = math.max(r.stateRows,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Job spans of the run, each parented to its operation span. */
  def jobSpans(idBase: Long): Seq[Span] =
    jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      val op = opOf(j.group)
      if (op < 0) None
      else Some(Span(idBase + j.id, op, s"job ${j.id}", j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs))
    }

  /** Milliseconds inside [startMs, endMs] during which at least one job of
    * the given operation ran. */
  def inJobsMs(op: Long, startMs: Double, endMs: Double): Double = {
    val iv = jobs.values.asScala.toSeq.filter(j => opOf(j.group) == op)
      .map(j => (math.max(j.startMs, startMs),
        math.min(if (j.endMs.isNaN) endMs else j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    val merged = mutable.ArrayBuffer.empty[(Double, Double)]
    iv.foreach { case (a, b) =>
      if (merged.nonEmpty && a <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, b))
      else merged += ((a, b))
    }
    merged.map { case (a, b) => b - a }.sum
  }

  def jobsOf(op: Long): Int = jobs.values.asScala.count(j => opOf(j.group) == op)
}

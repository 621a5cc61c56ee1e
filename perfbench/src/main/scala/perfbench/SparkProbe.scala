package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's own listener APIs say about the work the benchmark
  * caused. Jobs are attributed to the benchmark span named by the
  * `perfbench.span` local property of the thread that submitted them,
  * and streaming jobs to their micro-batch. Attached only in traced
  * runs; listener times are epoch ms, converted to the tracer's
  * `nanoTime` clock.
  */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toNano(epochMs: Long): Long = epochMs * 1000000L - nanoOffset

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = JobRec(e.jobId, toNano(e.time), 0L,
        prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop("sql.streaming.queryId").isDefined,
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
      open.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(r => jobs.add(r.copy(end = toNano(e.time))))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = Option(si.taskMetrics)
      stages.add(StageRec(si.stageId, Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1),
        toNano(si.submissionTime.getOrElse(0L)), toNano(si.completionTime.getOrElse(0L)),
        si.numTasks,
        tm.map(_.executorRunTime).getOrElse(0L),
        tm.map(_.inputMetrics.bytesRead).getOrElse(0L),
        tm.map(_.inputMetrics.recordsRead).getOrElse(0L),
        tm.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        tm.map(_.jvmGCTime).getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val graftRuleNs = qe.tracker.rules.iterator
        .collect { case (name, s) if name.startsWith("graft.") => s.totalTimeNs }.sum
      plans.add(PlanRec(System.nanoTime(),
        ms("analysis") + ms("optimization") + ms("planning"), graftRuleNs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = toNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
      batches.add(BatchRec(p.batchId, start,
        start + d.getOrElse("triggerExecution", 0L) * 1000000L,
        p.numInputRows, d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L), d.getOrElse("latestOffset", 0L)))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def settle(): Unit = {
    val t0 = System.nanoTime()
    while (!open.isEmpty && System.nanoTime() - t0 < 5000000000L) Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Counters of the non-streaming jobs that ended inside [t0, t1]. */
  def window(t0: Long, t1: Long): Window = {
    val js = jobs.asScala.filter(j => !j.streaming && j.end >= t0 && j.end <= t1).toSeq
    val ids = js.map(_.id).toSet
    val ss = stages.asScala.filter(s => ids.contains(s.job)).toSeq
    val ps = plans.asScala.filter(p => p.at >= t0 && p.at <= t1).toSeq
    val sj = jobs.asScala.filter(j => j.streaming && j.end >= t0 && j.end <= t1).toSeq
    val bs = batches.asScala.filter(b => b.end >= t0 && b.start <= t1).toSeq
    Window(js, ss, ps, sj, bs, stages.asScala.filter(s => s.end >= t0 && s.end <= t1).toSeq)
  }
}

object SparkProbe {
  /** Local property naming the benchmark span a job belongs to. */
  val SpanProp = "perfbench.span"

  final case class JobRec(id: Int, start: Long, end: Long, span: Long,
      streaming: Boolean, batchId: Long)
  final case class StageRec(id: Int, job: Int, start: Long, end: Long,
      tasks: Int, runMs: Long, bytesRead: Long, recordsRead: Long,
      shuffleWrite: Long, gcMs: Long)
  final case class PlanRec(at: Long, planMs: Long, graftRuleNs: Long)
  final case class BatchRec(batchId: Long, start: Long, end: Long,
      rows: Long, triggerMs: Long, addBatchMs: Long, latestOffsetMs: Long)

  final case class Window(jobs: Seq[JobRec], stages: Seq[StageRec],
      plans: Seq[PlanRec], streamingJobs: Seq[JobRec], batches: Seq[BatchRec],
      allStages: Seq[StageRec])

  /** Run `f` with `span` as the submitting thread's job parent. */
  def under[A](spark: SparkSession, span: Long)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, span.toString)
    try f finally sc.setLocalProperty(SpanProp, prev)
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side layer data of a traced run, collected through Spark's
  * public listener interfaces only (SparkListener,
  * QueryExecutionListener, StreamingQueryListener) and attributed to
  * the benchmark's operations by wall-clock interval: the client is a
  * single thread, so operations never overlap. */
final class Layers(spark: SparkSession) {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
                       label: String, stages: Seq[Int])
  final case class StageStat(cpuNs: Long, runMs: Long, tasks: Int,
                             shuffleRead: Long, shuffleWrite: Long,
                             spill: Long)
  final case class Planning(atMs: Long, analysisMs: Long,
                            optimizationMs: Long, planningMs: Long,
                            filesScanned: Long)
  final case class Progress(atMs: Long, durations: Map[String, Long])

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStat]()
  private val planning = new ConcurrentLinkedQueue[Planning]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, label, e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageStat(
        m.executorCpuTime, m.executorRunTime, i.numTasks,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private val helper = new AdaptiveSparkPlanHelper {}
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val at = ph.get("analysis").map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis())
      val files = try helper.collect(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum catch { case _: Exception => 0L }
      planning.add(Planning(at, d("analysis"), d("optimization"), d("planning"), files))
      ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.add(Progress(at, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Storage memory held by cached blocks right now, over all
    * executors (the driver's in local mode). */
  def storageMemBytes(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum

  /** Per-op layer figures, by op id. */
  def attribute(ops: Seq[OpRecord]): Map[Int, Map[String, Double]] = {
    val js = jobs.values.asScala.toSeq.sortBy(_.startMs)
    val ps = planning.asScala.toSeq
    val prs = progress.asScala.toSeq
    def inOp(o: OpRecord, t: Long) = t >= o.startMs && t <= o.endMs
    ops.map { o =>
      val oj = js.filter(j => inOp(o, j.startMs))
      val st = oj.flatMap(_.stages).flatMap(s => Option(stages.get(s)))
      // union of the op's job intervals
      var covered = 0L; var curS = -1L; var curE = -1L
      oj.map(j => (j.startMs, if (j.endMs < 0) o.endMs else j.endMs))
        .sortBy(_._1).foreach { case (s, e) =>
          if (s > curE) { if (curE >= 0) covered += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      if (curE >= 0) covered += curE - curS
      val op = ps.filter(p => inOp(o, p.atMs))
      val pr = prs.filter(p => inOp(o, p.atMs))
      def pd(k: String) = pr.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      val labels = oj.filter(_.label.startsWith("graft:")).groupBy(_.label)
        .map { case (l, g) =>
          s"sources.label_ms.${l.split('|').head.trim.replace(':', '.')
            .replaceAll("[^A-Za-z0-9_.-]", "_")}" ->
            g.map(j => math.max(0L, (if (j.endMs < 0) o.endMs else j.endMs) - j.startMs)).sum.toDouble
        }
      o.id -> (Map(
        "spark.plan_analysis_ms" -> op.map(_.analysisMs).sum.toDouble,
        "spark.plan_optimization_ms" -> op.map(_.optimizationMs).sum.toDouble,
        "spark.plan_planning_ms" -> op.map(_.planningMs).sum.toDouble,
        "spark.driver_gap_ms" -> math.max(0.0, o.ms - covered),
        "spark.jobs_per_op" -> oj.size.toDouble,
        "spark.executor_cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
        "spark.executor_run_ms" -> st.map(_.runMs).sum.toDouble,
        "spark.tasks_per_op" -> st.map(_.tasks).sum.toDouble,
        "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
        "streaming.triggers" -> pr.size.toDouble,
        "streaming.trigger_ms" -> pd("triggerExecution"),
        "streaming.latest_offset_ms" -> pd("latestOffset"),
        "streaming.query_planning_ms" -> pd("queryPlanning"),
        "streaming.add_batch_ms" -> pd("addBatch"),
        "streaming.wal_commit_ms" -> pd("walCommit"),
        "sources.files_scanned" -> op.map(_.filesScanned).sum.toDouble
      ) ++ labels)
    }.toMap
  }
}

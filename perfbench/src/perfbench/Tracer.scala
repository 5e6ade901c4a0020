package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution for traced runs, from public Spark listeners only:
  * a `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (Catalyst phases from `QueryPlanningTracker`, files written) and a
  * `StreamingQueryListener` (micro-batches). Events are buffered and,
  * after each operation, the bus is drained and the buffers are turned
  * into that operation's [[OpTrace]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
  private val stages = new ConcurrentLinkedQueue[Stage]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val qes = new ConcurrentLinkedQueue[Qe]
  private val batches = new ConcurrentLinkedQueue[Batch]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
      jobStarts.put(e.jobId, (e.time, first))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add(Job(e.jobId, s._1, e.time, s._2))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.numTasks, i.parentIds.isEmpty))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(
        finishMs = e.taskInfo.finishTime,
        runMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        rowsIn = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        bytesIn = m.inputMetrics.bytesRead,
        bytesOut = m.outputMetrics.bytesWritten,
        shuffleOut = m.shuffleWriteMetrics.bytesWritten,
        spill = m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val plan = nodes(qe.executedPlan)
      val writes = plan.collect { case w: DataWritingCommandExec => w }
      val files = writes.flatMap(_.cmd.metrics.get("numFiles")).map(_.value).sum
      val scanned = plan.collect { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString) }.flatten.toSet
      qes.add(Qe(ms("analysis"), ms("optimization"), ms("planning"),
        writes.nonEmpty, files, scanned))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(Batch(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("queryPlanning", 0L),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drops whatever was buffered (events of untraced work). */
  def reset(): Unit = { drainBus(); clear() }

  private def drainBus(): Unit =
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  private def clear(): Unit = {
    jobs.clear(); stages.clear(); tasks.clear(); qes.clear(); batches.clear()
  }

  /** Everything observed since the last call, attributed to one operation
    * that ran from `startMs` to `endMs`, whose construction call ended at
    * `constructEndMs`. */
  def take(name: String, startMs: Long, constructEndMs: Long, endMs: Long): OpTrace = {
    drainBus()
    val js = jobs.asScala.toVector.sortBy(_.startMs)
    val ss = stages.asScala.toVector
    val ts = tasks.asScala.toVector
    val qs = qes.asScala.toVector
    val bs = batches.asScala.toVector
    clear()
    val open = js.filter(_.isOpen)
    val jobCover = cover(js.map(j => (j.startMs, j.endMs)))
    val openCover = cover(open.map(j => (j.startMs, j.endMs)))
    val lastTask = if (ts.isEmpty) endMs else ts.map(_.finishMs).max
    OpTrace(name, startMs, constructEndMs, endMs, js, bs,
      constructJobs = js.count(_.startMs <= constructEndMs),
      openJobs = open.size,
      pathsScanned = qs.flatMap(_.scanned).toSet.size,
      stages = ss.size,
      scanTasks = ss.filter(_.scan).map(_.numTasks.toLong).sum,
      tasks = ts.size,
      tasksWithRows = ts.count(_.rowsIn > 0),
      taskRunMs = ts.map(_.runMs).sum,
      taskGcMs = ts.map(_.gcMs).sum,
      shuffleOut = ts.map(_.shuffleOut).sum,
      spill = ts.map(_.spill).sum,
      bytesIn = ts.map(_.bytesIn).sum,
      bytesOut = ts.map(_.bytesOut).sum,
      jobCoverMs = jobCover,
      openCoverMs = openCover,
      analysisMs = qs.map(_.analysisMs).sum,
      optimizationMs = qs.map(_.optimizationMs).sum,
      planningMs = qs.map(_.planningMs).sum,
      queryExecutions = qs.size,
      writeJobs = qs.count(_.write),
      filesWritten = qs.map(_.files).sum,
      batchMs = bs.map(_.triggerMs).sum,
      batchPlanningMs = bs.map(_.planningMs).sum,
      batchCommitMs = bs.map(_.commitMs).sum,
      stateRows = bs.groupBy(_.query).values.map(_.maxBy(_.batchId).stateRows).sum,
      tailMs = math.max(0L, endMs - lastTask))
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, endMs: Long, firstStage: String) {
    /** A Parquet schema-inference job: what `spark.read.parquet(path)`
      * without a schema runs when a table or a staged object is opened. */
    def isOpen: Boolean = firstStage.startsWith("parquet at ")
  }
  final case class Stage(id: Int, numTasks: Int, scan: Boolean)
  final case class Task(finishMs: Long, runMs: Long, gcMs: Long, rowsIn: Long,
      bytesIn: Long, bytesOut: Long, shuffleOut: Long, spill: Long)
  final case class Qe(analysisMs: Long, optimizationMs: Long, planningMs: Long,
      write: Boolean, files: Long, scanned: Set[String])
  final case class Batch(query: String, batchId: Long, startMs: Long, triggerMs: Long,
      planningMs: Long, commitMs: Long, stateRows: Long)

  final case class OpTrace(name: String, startMs: Long, constructEndMs: Long,
      endMs: Long, jobs: Vector[Job], batches: Vector[Batch],
      constructJobs: Int, openJobs: Int, pathsScanned: Int, stages: Int, scanTasks: Long,
      tasks: Int, tasksWithRows: Int, taskRunMs: Long, taskGcMs: Long,
      shuffleOut: Long, spill: Long, bytesIn: Long, bytesOut: Long,
      jobCoverMs: Long, openCoverMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, queryExecutions: Int,
      writeJobs: Int, filesWritten: Long, batchMs: Long,
      batchPlanningMs: Long, batchCommitMs: Long, stateRows: Long,
      tailMs: Long) {
    def wallMs: Long = endMs - startMs
    def constructMs: Long = constructEndMs - startMs
  }

  /** Every node of an executed plan, looking through adaptive, query
    * stage and command-result wrappers and into subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })

  /** Length of the union of the intervals, in ms. */
  def cover(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Time of an operation split into layers that do not overlap, in ms:
    * table-open jobs, other Spark jobs, Catalyst phases outside jobs,
    * micro-batch planning and commit outside jobs, and the rest of the
    * driver. */
  def selfTimes(t: OpTrace): Seq[(String, Long)] = {
    val open = t.openCoverMs
    val jobs = math.max(0L, t.jobCoverMs - open)
    var rest = math.max(0L, t.wallMs - t.jobCoverMs)
    val plans = math.min(rest, t.analysisMs + t.optimizationMs + t.planningMs)
    rest -= plans
    val streaming = math.min(rest, t.batchPlanningMs + t.batchCommitMs)
    rest -= streaming
    selfLayers.zip(Seq(open, jobs, plans, streaming, rest))
  }

  val selfLayers: Seq[String] = Seq("open", "jobs", "plans", "streaming", "driver_other")
}

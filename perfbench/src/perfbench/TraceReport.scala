package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import perfbench.Tracer.OpTrace

/** Turns the traced operations of a run into the per-layer record:
  * per-layer totals per pass, per-layer self time, per-operation layer
  * numbers and the spans of the last pass. */
object TraceReport {

  def apply(all: Vector[OpTrace], lastPass: Vector[OpTrace], passes: Int): JMap[String, Any] = {
    val r = new JMap[String, Any]()
    r.put("passes", passes)
    r.put("layers_per_pass", layers(all, passes))
    val perOp = new JMap[String, Any]()
    all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ts) =>
      perOp.put(n, layers(ts, ts.size))
    }
    r.put("per_op", perOp)
    r.put("spans_last_pass", spans(lastPass))
    r
  }

  /** The per-layer metrics, summed over `ts` and divided by `n`. */
  def layers(ts: Vector[OpTrace], n: Int): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    def sum(f: OpTrace => Double): Double = ts.map(f).sum / n
    val wall = sum(_.wallMs / 1e3)
    val jobCover = sum(_.jobCoverMs / 1e3)
    val tasks = sum(_.tasks.toDouble)
    val busy = sum(_.taskRunMs / 1e3)
    m.put("SparkEntry.construct_s", sum(_.constructMs / 1e3))
    m.put("SparkEntry.construct_jobs", sum(_.constructJobs.toDouble))
    m.put("SparkEntry.open_jobs", sum(_.openJobs.toDouble))
    m.put("SparkEntry.paths_scanned", sum(_.pathsScanned.toDouble))
    m.put("plans.analysis_s", sum(_.analysisMs / 1e3))
    m.put("plans.optimization_s", sum(_.optimizationMs / 1e3))
    m.put("plans.planning_s", sum(_.planningMs / 1e3))
    m.put("plans.query_executions", sum(_.queryExecutions.toDouble))
    m.put("ops.jobs", sum(_.jobs.size.toDouble))
    m.put("ops.stages", sum(_.stages.toDouble))
    m.put("ops.tasks", tasks)
    m.put("ops.tasks_with_rows", sum(_.tasksWithRows.toDouble))
    m.put("ops.useful_task_share",
      if (tasks > 0) sum(_.tasksWithRows.toDouble) / tasks else 0.0)
    m.put("ops.task_busy_s", busy)
    m.put("ops.task_gc_s", sum(_.taskGcMs / 1e3))
    m.put("ops.shuffle_write_bytes", sum(_.shuffleOut.toDouble))
    m.put("ops.spill_bytes", sum(_.spill.toDouble))
    m.put("ops.parallelism", if (jobCover > 0) busy / jobCover else 0.0)
    m.put("ops.driver_gap_s", wall - jobCover)
    m.put("sources.files_written", sum(_.filesWritten.toDouble))
    m.put("sources.bytes_written", sum(_.bytesOut.toDouble))
    m.put("sources.bytes_read", sum(_.bytesIn.toDouble))
    m.put("sources.write_jobs", sum(_.writeJobs.toDouble))
    m.put("streaming.micro_batches", sum(_.batches.size.toDouble))
    m.put("streaming.batch_s", sum(_.batchMs / 1e3))
    m.put("streaming.batch_planning_s", sum(_.batchPlanningMs / 1e3))
    m.put("streaming.batch_commit_s", sum(_.batchCommitMs / 1e3))
    m.put("streaming.state_rows", sum(_.stateRows.toDouble))
    m.put("pipelines.input_splits", sum(_.scanTasks.toDouble))
    m.put("pipelines.commit_s", sum(_.tailMs / 1e3))
    val self = ts.flatMap(Tracer.selfTimes)
    Tracer.selfLayers.foreach { l =>
      m.put(s"self.${l}_s", self.filter(_._1 == l).map(_._2).sum / 1e3 / n)
    }
    m.put("wall_s", wall)
    m
  }

  /** Spans sharing an operation id: the operation, its construction call,
    * its Spark jobs and its micro-batches. Times are ms from the start of
    * the pass. */
  private def spans(ts: Vector[OpTrace]): JList[Any] = {
    val out = new JList[Any]()
    val base = ts.headOption.map(_.startMs).getOrElse(0L)
    ts.zipWithIndex.foreach { case (t, id) =>
      def span(kind: String, name: String, s: Long, e: Long): Unit = {
        val m = new JMap[String, Any]()
        m.put("op_id", id); m.put("kind", kind); m.put("name", name)
        m.put("start_ms", s - base); m.put("end_ms", e - base)
        out.add(m)
      }
      span("operation", t.name, t.startMs, t.endMs)
      span("construct", t.name, t.startMs, t.constructEndMs)
      t.jobs.foreach(j => span(if (j.isOpen) "open_job" else "job",
        s"job ${j.id}: ${j.firstStage}", j.startMs, j.endMs))
      t.batches.foreach(b => span("micro_batch",
        s"query ${b.query.take(8)} batch ${b.batchId}: planning ${b.planningMs} ms, " +
          s"wal+commit ${b.commitMs} ms", b.startMs, b.startMs + b.triggerMs))
    }
    out
  }
}

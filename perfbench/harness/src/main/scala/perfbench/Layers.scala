package perfbench

import scala.jdk.CollectionConverters._

/** Per-span layer records, as `result.json` carries them; `run.py`
  * folds them into the per-layer metrics. */
object Layers {
  def span(s: SpanStats): Json.Obj = {
    val o = new Json.Obj
    o("registry_jobs") = s.jobs("registry")
    o("exec_jobs") = s.jobs("exec")
    o("stages") = s.stages
    o("tasks") = s.tasks
    o("task_cpu_s") = s.taskCpuNs / 1e9
    o("gc_s") = s.gcMs / 1e3
    o("rows_read") = s.rowsRead
    o("bytes_read") = s.bytesRead
    o("shuffle_bytes") = s.shuffleBytes
    o("shuffle_records") = s.shuffleRecords
    o("spill_bytes") = s.spillBytes
    o("peak_exec_mem_bytes") = s.peakExecMem
    o("peak_storage_bytes") = s.peakStorage
    o("slowest_stage_s") = s.slowestStage._1 / 1e3
    o("task_skew") = s.slowestStage._2
    o("analysis_s") = s.analysisNs / 1e9
    o("optimization_s") = s.optimizationNs / 1e9
    o("planning_s") = s.planningNs / 1e9
    o("plan_nodes") = s.planNodes
    o("top_nodes") = s.nodeSeconds.toSeq.filter(_._2 > 0).sortBy(-_._2).take(5)
      .map { case (n, sec) => Seq(n, sec) }
    // one record per micro-batch, from the streaming listener's progress
    o("batches") = s.progress.toSeq.map { p =>
      val b = new Json.Obj
      val d = p.durationMs.asScala
      b("rows") = p.numInputRows
      Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")
        .foreach(k => b(k) = d.get(k).map(_.longValue).getOrElse(0L))
      val st = p.stateOperators.toSeq
      b("state_rows") = st.map(_.numRowsTotal).sum
      b("state_memory_bytes") = st.map(_.memoryUsedBytes).sum
      b("state_commit_ms") = st.map(_.commitTimeMs).sum
      b("state_rows_removed") = st.map(_.numRowsRemoved).sum
      b("state_rows_dropped_by_watermark") = st.map(_.numRowsDroppedByWatermark).sum
      b("state_custom") = st.flatMap(_.customMetrics.asScala.toSeq)
        .groupMapReduce(_._1)(_._2.longValue)(_ + _)
      b
    }
    o
  }
}

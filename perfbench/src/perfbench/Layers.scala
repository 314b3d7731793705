package perfbench

import scala.collection.mutable

/** Per-layer figures of one traced pass, named as the benchmark reports
  * them. Every layer metric of every workload is listed in [[Catalog]];
  * a layer the workload does not exercise reads 0. */
object Layers {
  private val SortedOps = Seq("layout", "fold", "scan", "mapstream", "reduce",
    "join_narrow", "join_cogroup", "union_narrow", "union_shuffle")
  private val SelfLayers = Seq("pass", "op", "build", "exec", "plan", "job", "stage")

  /** Every per-layer metric with its unit, in report order. */
  val Catalog: Seq[(String, String)] =
    Seq("SparkEntry.build_s" -> "s", "SparkEntry.build_jobs" -> "count") ++
    QueryMix.BuildJobQueries.map(q => s"SparkEntry.build_jobs.$q" -> "count") ++
    Seq("SparkEntry.prepare_s" -> "s",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms",
      "exec_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.task_busy_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
      "exec.task_wait_s" -> "s", "exec.slot_util" -> "ratio",
      "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
      "exec.peak_exec_memory_mb" -> "MB") ++
    SortedOps.map(o => s"sorted.${o}_s" -> "s") ++
    SortedOps.map(o => s"sorted.exchanges.$o" -> "count") ++
    Seq("iterators.mapstream_ns_per_row" -> "ns/row", "iterators.mergejoin_ns_per_row" -> "ns/row",
      "iterators.mergeunion_ns_per_row" -> "ns/row",
      "rdd.layout_s" -> "s", "rdd.fold_s" -> "s", "rdd.shuffle_write_mb" -> "MB") ++
    QueryMix.OperatorQueries.map(_._1 -> "s") ++
    Seq("sources.sink_write_s" -> "s", "sources.sink_mb" -> "MB", "sources.sink_files" -> "count",
      "sources.readback_s" -> "s", "trace.overhead_s" -> "s") ++
    SelfLayers.map(l => s"trace.self.${l}_s" -> "s") ++
    Seq("fail_ratio" -> "ratio")

  def ofPass(p: Main.PassRun, cores: Int): Map[String, Double] =
    p.view.map(v => ofView(v, p.ops.map(o => o.name -> o.metric).toMap, cores)).getOrElse(Map.empty)

  private def ofView(v: PassView, metricOf: Map[String, String], cores: Int): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val stages = v.stages.map(_._2)

    // exec: the scheduler and shuffle, over every job of the pass
    val execS = v.execSeconds
    m("exec_s") = execS
    m("exec.jobs") = v.jobs.size
    m("exec.stages") = stages.size
    m("exec.tasks") = stages.map(_.tasks).sum
    val busy = stages.map(_.busyMs).sum / 1e3
    m("exec.task_busy_s") = busy
    m("exec.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("exec.gc_s") = stages.map(_.gcMs).sum / 1e3
    m("exec.task_wait_s") = stages.map(_.waitMs).sum / 1e3
    m("exec.slot_util") = if (execS > 0) busy / (execS * cores) else 0.0
    m("exec.shuffle_write_mb") = stages.map(_.shuffleWriteBytes).sum / 1e6
    m("exec.shuffle_read_mb") = stages.map(_.shuffleReadBytes).sum / 1e6
    m("exec.spill_mb") = stages.map(_.spillBytes).sum / 1e6
    m("exec.peak_exec_memory_mb") = (0L +: stages.map(_.peakExecMemory)).max / 1e6

    // Catalyst: the planning tracker's phases of every query execution
    v.phases.groupBy(_.phase).foreach { case (phase, ps) =>
      m(s"catalyst.${phase}_ms") = ps.map(ph => (ph.endMs - ph.startMs).toDouble).sum
    }

    // per-op layers: construction, streaming ops, RDD surface, sink
    v.opSpans.foreach { op =>
      val metric = metricOf.getOrElse(op.name, "")
      val builds = v.jobsOf(op, "build")
      val all = builds ++ v.jobsOf(op, "exec")
      if (metric == "SparkEntry") {
        val buildS = v.driver.filter(s => s.op == op.id && s.layer == "build").map(_.durUs).sum / 1e6
        m("SparkEntry.build_s") += buildS
        m("SparkEntry.build_jobs") += builds.size
        if (QueryMix.BuildJobQueries.contains(op.name)) m(s"SparkEntry.build_jobs.${op.name}") = builds.size
        QueryMix.OperatorQueries.foreach { case (k, qs) => if (qs.contains(op.name)) m(k) += op.durUs / 1e6 }
      } else if (metric.nonEmpty) {
        m(s"${metric}_s") += op.durUs / 1e6
        if (metric.startsWith("sorted.")) {
          val k = s"sorted.exchanges.${metric.stripPrefix("sorted.")}"
          m(k) = math.max(m(k), v.stagesOf(all).count(_.shuffleMap).toDouble)
        }
        if (metric.startsWith("rdd."))
          m("rdd.shuffle_write_mb") += v.stagesOf(all).map(_.shuffleWriteBytes).sum / 1e6
      }
    }

    v.selfSeconds.foreach { case (layer, s) => m(s"trace.self.${layer}_s") = s }
    m.toMap
  }
}

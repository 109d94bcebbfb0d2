package graft.perfbench

import Main.{Exec, SettlePasses, median}

/** End-to-end and per-layer figures from one process's executions and
  * spans. Failed executions contribute no time. */
final case class Report(execs: Seq[Exec], spans: Seq[Span],
    endStats: Map[String, Double], setupS: Double, heapMb: Double,
    wl: Workload) {

  private val ok = execs.filter(_.ok)
  private val cold = ok.filter(_.pass == 0)
  // warm samples: every pass after the settling one
  private val warm = ok.filter(_.pass > SettlePasses)

  private def medians(es: Seq[Exec]): Map[String, Double] =
    es.groupBy(_.name).map { case (n, xs) => n -> median(xs.map(_.secs)) }

  /** The highest percentile with at least 10 samples above it:
    * (value, percentile, samples). With the ~20 samples of a run it sits
    * near the median, so it is printed beside `op_tail_s`, not reported
    * as it. */
  val tail: Map[String, Double] = {
    val s = warm.map(_.secs).sorted
    val i = math.max(0, s.size - 11)
    Map("value_s" -> s.lift(i).getOrElse(0.0),
      "percentile" -> (if (s.isEmpty) 0.0 else 100.0 * (i + 1) / s.size),
      "samples" -> s.size.toDouble)
  }

  /** Per operation: cold time and warm median. */
  def perOp: Map[String, Map[String, Double]] = {
    val w = medians(warm)
    cold.groupBy(_.name).map { case (n, es) =>
      n -> Map("cold_s" -> es.map(_.secs).sum, "warm_median_s" -> w.getOrElse(n, 0.0)) }
  }

  def endToEnd: Map[String, Double] = {
    val m = medians(warm).values.toSeq
    Map(
      "setup_s" -> setupS,
      "warm_total_s" -> m.sum,
      "cold_total_s" -> cold.map(_.secs).sum,
      "warm_geomean_s" -> (if (m.isEmpty) 0.0 else math.exp(m.map(math.log).sum / m.size)),
      "op_p50_s" -> median(warm.map(_.secs)),
      // the slowest operation's warm median: the tail a run can resolve
      "op_tail_s" -> (if (m.isEmpty) 0.0 else m.max),
      "retained_heap_mb" -> heapMb)
  }

  private def children(op: Long): Seq[Span] = byOp.getOrElse(op, Nil)
  private lazy val byOp: Map[Long, Seq[Span]] = {
    Tracer.assignParents(spans)
    spans.filterNot(_.name.startsWith("op:")).groupBy(_.op)
  }
  private lazy val opSpans: Map[Long, Span] =
    spans.filter(_.name.startsWith("op:")).map(s => s.id -> s).toMap

  private def iv(ss: Seq[Span]) = ss.map(s => (s.start, s.end))
  private def named(ss: Seq[Span], n: String) = ss.filter(_.name == n)

  /** Per-operation structural counters and layer times of one traced
    * execution. */
  private def opFigures(e: Exec): Map[String, Double] = {
    val op = opSpans(e.spanOp)
    val ch = children(e.spanOp)
    val stages = named(ch, "spark.sched.stage")
    val tasks = named(ch, "spark.exec.task")
    val execsQ = named(ch, "spark.plan.execution")
    val plan = ch.filter(s => s.name.startsWith("spark.plan.") && s.name != "spark.plan.execution")
    def tsum(k: String) = tasks.map(_.vals.getOrElse(k, 0.0)).sum
    val busy = Tracer.covered(iv(tasks), op.start, op.end) / 1e3
    val commit = if (e.write) ch
        .filter(s => s.name == "storage.write" || s.name == "storage.dml" || s.name == "storage.compact")
        .map(w => Tracer.selfTime(w, (stages ++ plan).filter(c => c.start >= w.start && c.end <= w.end)))
        .sum / 1e3
      else 0.0
    val layerSpans = (n: String) => named(ch, n)
    Map(
      "plan.analysis_s" -> named(plan, "spark.plan.analysis").map(_.dur).sum / 1e3,
      "plan.optimizer_s" -> named(plan, "spark.plan.optimization").map(_.dur).sum / 1e3,
      "plan.physical_s" -> named(plan, "spark.plan.planning").map(_.dur).sum / 1e3,
      "plan.executions" -> execsQ.size.toDouble,
      "sched.jobs" -> named(ch, "spark.sched.job").size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.driver_only_s" -> (op.dur - Tracer.covered(iv(stages), op.start, op.end)) / 1e3,
      "exec.busy_s" -> busy,
      "exec.task_run_s" -> tsum("run_s"),
      "exec.task_cpu_s" -> tsum("cpu_s"),
      "exec.max_task_s" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.dur).max / 1e3),
      "shuffle.exchanges" -> execsQ.map(_.vals("exchanges")).sum,
      "shuffle.broadcasts" -> execsQ.map(_.vals("broadcasts")).sum,
      "shuffle.write_bytes" -> tsum("shuffle_write"),
      "shuffle.read_bytes" -> tsum("shuffle_read"),
      "shuffle.fetch_wait_s" -> tsum("fetch_wait_s"),
      "shuffle.spill_bytes" -> tsum("spill"),
      "gc.pause_s" -> op.vals("gc.pause_s"),
      "gc.collections" -> op.vals("gc.collections"),
      "storage.commit_s" -> commit,
      "storage.bytes_written" -> op.vals("storage.bytes_written"),
      "storage.bytes_read" -> tsum("input_bytes"),
      "storage.write_ops" -> op.vals("storage.write_ops"),
      "storage.read_ops" -> op.vals("storage.read_ops"),
      "storage.list_ops" -> op.vals("storage.list_ops"),
      "storage.compact_s" -> layerSpans("storage.compact").map(_.dur).sum / 1e3,
      "storage.compact_bytes_rewritten" ->
        layerSpans("storage.compact").map(_.vals.getOrElse("storage.bytes_written", 0.0)).sum,
      "storage.call_s" -> Tracer.covered(iv(ch.filter(_.name.startsWith("storage."))),
        op.start, op.end) / 1e3,
      "storage.scans" -> layerSpans("storage.read").size.toDouble,
      "storage.scan_read_ops" ->
        layerSpans("storage.read").map(_.vals.getOrElse("storage.read_ops", 0.0)).sum,
      "layers.bronze_s" -> layerSpans("layers.bronze").map(_.dur).sum / 1e3,
      "layers.silver_s" -> layerSpans("layers.silver").map(_.dur).sum / 1e3,
      "layers.gold_s" -> layerSpans("layers.gold").map(_.dur).sum / 1e3,
      "codegen.compile_s" -> op.vals("codegen.compile_s"),
      "codegen.classes" -> op.vals("codegen.classes"))
  }

  /** Structural counters that load does not move, per traced execution.
    * They must agree between the passes of a repeatable workload, and
    * between traced runs of one seed (compared by run.py). */
  private val structural = Seq("sched.jobs", "sched.stages", "sched.tasks",
    "shuffle.exchanges", "plan.executions",
    "storage.write_ops", "storage.read_ops", "storage.list_ops")

  private lazy val counterRows: Seq[(Exec, Map[String, Double])] =
    warm.map(e => e -> structural.map(k => k -> opFigures(e)(k)).toMap)

  lazy val counterTable: Seq[Map[String, Any]] = counterRows.map { case (e, c) =>
    Map("pass" -> e.pass, "index" -> e.index, "op" -> e.name, "counters" -> c) }

  /** Executions whose counters differ from their operation's first
    * measured execution. */
  def repeatMismatches: Seq[Exec] =
    if (!wl.repeatable) Nil
    else counterRows.groupBy(_._1.index).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      rs.tail.collect { case (e, c) if c != rs.head._2 => e }
    }

  /** Workload sums per measured pass (averaged over those passes),
    * codegen from the cold pass. */
  def perLayer: Map[String, Double] = {
    val passes = warm.map(_.pass).distinct
    val n = math.max(1, passes.size).toDouble
    val figs = warm.map(opFigures)
    def per(k: String) = figs.map(_(k)).sum / n
    val keys = figs.headOption.map(_.keySet).getOrElse(Set.empty) -
      "codegen.compile_s" - "codegen.classes" - "exec.max_task_s"
    val sums = keys.map(k => k -> per(k)).toMap
    val coldFigs = cold.map(opFigures)
    val live = endStats.getOrElse("storage.live_files", 0.0)
    val user = endStats.getOrElse("storage.user_bytes", 0.0)
    val streamSpans = spans.filter(s => s.name == "streaming.batch" &&
      opSpans.get(s.op).exists(o => passes.contains(o.vals("pass").toInt)))
    val streamRows = wl match {
      case l: LakehouseDay => l.streamBatchRows.toDouble * streamSpans.size
      case _ => 0.0
    }
    val fam = medians(warm).groupBy { case (name, _) =>
      execs.find(_.name == name).map(_.family).getOrElse("relational") }
    sums - "storage.scans" - "storage.scan_read_ops" ++ Map(
      "exec.parallelism" -> (if (sums("exec.busy_s") > 0) sums("exec.task_run_s") / sums("exec.busy_s") else 0.0),
      "exec.max_task_s" -> (if (figs.isEmpty) 0.0 else figs.map(_("exec.max_task_s")).max),
      "codegen.compile_s" -> coldFigs.map(_("codegen.compile_s")).sum,
      "codegen.classes" -> coldFigs.map(_("codegen.classes")).sum,
      "storage.live_files" -> live,
      "storage.metadata_bytes" -> endStats.getOrElse("storage.metadata_bytes", 0.0),
      "storage.write_amp" -> (if (user > 0) sums("storage.bytes_written") / user else 0.0),
      "storage.stored_bytes_per_user_byte" ->
        (if (user > 0) endStats.getOrElse("storage.stored_bytes", 0.0) / user else 0.0),
      "storage.files_read_per_scan" -> (if (live > 0 && sums("storage.scans") > 0)
        sums("storage.scan_read_ops") / sums("storage.scans") /
          (live / endStats.getOrElse("storage.tables", 1.0)) else 0.0),
      "streaming.batch_p50_s" -> median(streamSpans.map(_.dur / 1e3)),
      "streaming.rows_per_s" -> (if (streamSpans.isEmpty) 0.0
        else streamRows / (streamSpans.map(_.dur).sum / 1e3)),
      "ops.dedup_s" -> fam.get("dedup").map(_.values.sum).getOrElse(0.0),
      "ops.sim_s" -> fam.get("sim").map(_.values.sum).getOrElse(0.0),
      "ops.text_s" -> fam.get("text").map(_.values.sum).getOrElse(0.0),
      "ops.prep_s" -> fam.get("prep").map(_.values.sum).getOrElse(0.0),
      "ops.multimodal_s" -> fam.get("multimodal").map(_.values.sum).getOrElse(0.0),
      "queries.relational_s" -> fam.get("relational").map(_.values.sum).getOrElse(0.0),
      "counters.repeat_mismatches" -> repeatMismatches.size.toDouble)
  }
}

package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `op` is the
  * operation execution the span belongs to; `parent` is filled in by
  * [[Tracer.assignParents]] from interval containment (listener events
  * carry no caller), `vals` holds the span's counters. */
final case class Span(
    id: Long, var parent: Long, op: Long, name: String,
    start: Double, end: Double, vals: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Process-wide counters read before and after an operation. */
final case class Probe(values: Map[String, Double]) {
  def -(o: Probe): Map[String, Double] =
    values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
}

object Probe {
  /** GC, codegen and local FileSystem operation counters (process-wide,
    * so in local mode they include executor I/O). */
  def take(): Probe = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Probe(Map(
      "gc.pause_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "gc.collections" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "codegen.classes" -> cg.getCount.toDouble,
      // the histogram keeps a sample, so the sum is count x sample mean
      "codegen.compile_s" -> cg.getCount * cg.getSnapshot.getMean / 1e3,
      "storage.read_ops" -> CountingLocalFileSystem.opens.sum.toDouble,
      "storage.write_ops" -> CountingLocalFileSystem.creates.sum.toDouble,
      "storage.list_ops" -> CountingLocalFileSystem.lists.sum.toDouble,
      "storage.bytes_written" -> CountingLocalFileSystem.bytesWritten.sum.toDouble))
  }
}

/** In-memory span recorder fed by the benchmark's own call sites, a
  * SparkListener (jobs, stages, tasks) and a QueryExecutionListener
  * (planning phases, final AQE plan). Spans are attributed to the
  * operation current when the event is delivered; the caller drains the
  * listener bus before closing an operation so tail events are not lost. */
final class Tracer(spark: SparkSession) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var currentOp: Long = -1

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  private def record(op: Long, name: String, start: Double, end: Double,
      vals: Map[String, Double] = Map.empty): Span = {
    val s = Span(ids.incrementAndGet(), -1, op, name, start, end, vals)
    add(s); s
  }

  private val sparkListener = new SparkListener {
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (currentOp >= 0) jobStarts.put(e.jobId, (currentOp, e.time.toDouble))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (op, st) =>
        record(op, "spark.sched.job", st, e.time.toDouble) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (currentOp >= 0) {
        val i = e.stageInfo
        for (a <- i.submissionTime; b <- i.completionTime)
          record(currentOp, "spark.sched.stage", a.toDouble, b.toDouble,
            Map("tasks" -> i.numTasks.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (currentOp >= 0 && e.taskInfo != null) {
        val m = Option(e.taskMetrics)
        def g(f: org.apache.spark.executor.TaskMetrics => Double) = m.fold(0.0)(f)
        record(currentOp, "spark.exec.task", e.taskInfo.launchTime.toDouble,
          e.taskInfo.finishTime.toDouble, Map(
            "run_s" -> g(_.executorRunTime / 1e3),
            "cpu_s" -> g(_.executorCpuTime / 1e9),
            "shuffle_write" -> g(_.shuffleWriteMetrics.bytesWritten.toDouble),
            "shuffle_read" -> g(_.shuffleReadMetrics.totalBytesRead.toDouble),
            "fetch_wait_s" -> g(_.shuffleReadMetrics.fetchWaitTime / 1e3),
            "spill" -> g(t => (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble),
            "input_bytes" -> g(_.inputMetrics.bytesRead.toDouble)))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onQuery(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onQuery(qe)
  }

  private def onQuery(qe: QueryExecution): Unit = if (currentOp >= 0) {
    val op = currentOp
    qe.tracker.phases.foreach { case (phase, p) =>
      record(op, s"spark.plan.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val (sh, bc) = try Tracer.exchanges(qe.executedPlan) catch { case _: Throwable => (0, 0) }
    val t = nowMs
    record(op, "spark.plan.execution", t, t,
      Map("exchanges" -> sh.toDouble, "broadcasts" -> bc.toDouble))
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Open an operation span; returns its id. Events still queued from
    * earlier untraced work are delivered first, so none lands in it. */
  def beginOp(): (Long, Double, Probe) = {
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark.sparkContext)
    val id = ids.incrementAndGet()
    currentOp = id
    (id, nowMs, Probe.take())
  }

  /** Close an operation: drain the listener bus, then record the op span
    * with the process counters it moved. */
  def endOp(op: (Long, Double, Probe), name: String, pass: Int): Unit = {
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark.sparkContext)
    val end = nowMs
    val delta = Probe.take() - op._3
    currentOp = -1
    add(Span(op._1, 0, op._1, s"op:$name", op._2, end, delta + ("pass" -> pass.toDouble)))
  }

  /** A benchmark-side span around one call into a layer. */
  def call[T](layer: String)(f: => T): T =
    if (currentOp < 0) f
    else {
      val op = currentOp
      val st = nowMs
      val p0 = Probe.take()
      try f finally record(op, layer, st, nowMs, Probe.take() - p0)
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
}

object Tracer {

  /** Shuffle and broadcast exchanges in the final (post-AQE) plan,
    * subqueries included; reused exchanges do no work and are skipped. */
  def exchanges(p: SparkPlan): (Int, Int) = {
    val here = p match {
      case _: ReusedExchangeExec => return (0, 0)
      case a: AdaptiveSparkPlanExec => return exchanges(a.executedPlan)
      case q: QueryStageExec => return exchanges(q.plan)
      case _: ShuffleExchangeLike => (1, 0)
      case _: BroadcastExchangeLike => (0, 1)
      case _ => (0, 0)
    }
    (p.children ++ p.subqueries).map(exchanges).foldLeft(here) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Parent of every span of one operation: the innermost other span of
    * that operation whose interval contains it (the op span at worst). */
  def assignParents(spans: Seq[Span]): Unit =
    spans.groupBy(_.op).foreach { case (_, ss) =>
      val byLen = ss.sortBy(_.dur)
      ss.foreach { s =>
        if (!s.name.startsWith("op:")) {
          val mid = (s.start + s.end) / 2
          s.parent = byLen.find(c => (c ne s) && c.dur > s.dur &&
              c.start <= mid && mid <= c.end && !c.name.startsWith("spark."))
            .map(_.id).getOrElse(s.op)
        }
      }
    }

  /** Self time: a span's duration minus what its children cover. */
  def selfTime(s: Span, children: Seq[Span]): Double =
    s.dur - covered(children.map(c => (c.start, c.end)), s.start, s.end)
}

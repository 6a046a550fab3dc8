package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one harness call into graft. `parent` 0 = the
  * operation's root span (a request, a micro-batch, a query run). */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      startNs: Long, endNs: Long)

/** Operation tracer. Disabled, `op`/`span` only run their body, so an
  * untraced run pays nothing. Enabled, it keeps spans in memory, tags
  * every Spark job an operation issues with a thread-local property and
  * a job tag, and listens through Spark's public listener interfaces
  * (SparkListener, QueryExecutionListener; the ingest workload keeps its
  * own StreamingQueryListener on every run, for freshness). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (op, span) innermost first

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageOp = new ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val execOp = new ConcurrentHashMap[Long, Long]()   // SQL execution id -> op
  val qeExec = new ConcurrentHashMap[Long, Long]()   // QueryExecution id -> SQL execution id

  private val sc = spark.sparkContext
  /** Epoch ms minus monotonic ms: maps span times onto listener event times. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Run `body` as one operation; returns its result. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val tag = s"graft-bench-op-$id"
      sc.setLocalProperty(OpProperty, id.toString)
      sc.addJobTag(tag)
      stack.set(List((id, id)))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, 0, id, name, "harness", t0, System.nanoTime()))
        stack.set(Nil)
        sc.removeJobTag(tag)
        sc.setLocalProperty(OpProperty, null)
      }
    }

  /** Id of the operation running on this thread; 0 outside one. */
  def currentOp: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  /** Run `body` as a child span of the current operation. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else stack.get() match {
      case Nil => body
      case (op, parent) :: _ =>
        val id = ids.incrementAndGet()
        stack.set((op, id) :: stack.get())
        val t0 = System.nanoTime()
        try body
        finally {
          spans.add(Span(id, parent, op, name, layer, t0, System.nanoTime()))
          stack.set(stack.get().tail)
        }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, JobRec(e.jobId, op, e.time, e.stageIds))
      e.stageIds.foreach(s => stageOp.put(s, op))
      if (op != 0) props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOp.putIfAbsent(x.toLong, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(StageRec(e.stageInfo.stageId))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.diskBytesSpilled + m.memoryBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.collectFirst { case t if t.startsWith("graft-bench-op-") => t.stripPrefix("graft-bench-op-").toLong }
          .foreach(op => execOp.putIfAbsent(s.executionId, op))
      case e: SparkListenerSQLExecutionEnd =>
        SparkInternals.queryExecutionId(e).foreach(q => qeExec.put(q, e.executionId))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val files = scans(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
      qes.add(QeRec(qe.id, d("analysis"), d("optimization"), d("planning"), files))
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  private var t0 = 0L
  private var t1 = 0L

  def attach(): Unit = if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Start of the measured window: reset JVM peaks and counters. */
  def windowStart(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcBeans.map(_.getCollectionTime).sum
    t0 = System.nanoTime()
  }
  def windowEnd(): Unit = t1 = System.nanoTime()

  def detach(): Unit = if (enabled) {
    SparkInternals.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def jvm: Map[String, Double] = Map(
    "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
    "jvm.gc_ms" -> (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble)

  def windowMs: Double = (t1 - t0) / 1e6

  /** Engine-layer metrics over the operations `opIds` (all when empty):
    * plan, sched, exec, shuffle and scan. Counts are means per
    * operation; times are medians per operation unless named otherwise. */
  def engineMetrics(opIds: Set[Long], rowsReturned: Long, cores: Int): Map[String, Double] = {
    val rootSpans = spans.asScala.filter(s => s.parent == 0 && (opIds.isEmpty || opIds(s.id))).toSeq
    val ops = rootSpans.map(_.id).toSet
    val nOps = math.max(1, ops.size).toDouble
    val opJobs = jobs.values.asScala.filter(j => ops(j.op)).toSeq
    val opStageIds = opJobs.flatMap(_.stageIds).toSet
    val opStages = stages.asScala.filter(s => opStageIds(s.stageId)).toSeq
    val opTasks = tasks.asScala.filter(t => opStageIds(t.stageId)).toSeq
    val tasksByOp = opTasks.groupBy(t => stageOp.getOrDefault(t.stageId, 0L))
    def perOp(f: TaskRec => Double): Seq[Double] =
      rootSpans.map(s => tasksByOp.getOrElse(s.id, Nil).map(f).sum)
    val qeByOp = qes.asScala.toSeq
      .flatMap(q => lookup(qeExec, q.id).flatMap(lookup(execOp, _)).filter(ops).map(o => o -> q))
      .groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2) }
    def planPerOp(f: QeRec => Double): Seq[Double] = rootSpans.map(s => qeByOp.getOrElse(s.id, Nil).map(f).sum)
    // driver overhead: operation wall minus the union of its job intervals
    val jobsByOp = opJobs.groupBy(_.op)
    val overhead = rootSpans.map { s =>
      val lo = s.startNs / 1e6 + epochOffsetMs; val hi = s.endNs / 1e6 + epochOffsetMs
      val wallMs = (s.endNs - s.startNs) / 1e6
      val iv = jobsByOp.getOrElse(s.id, Nil).filter(_.endMs > 0)
        .map(j => (j.startMs.toDouble, j.endMs.toDouble)).sortBy(_._1)
      var covered = 0.0; var cur = (Double.NaN, Double.NaN)
      iv.foreach { case (a0, b0) =>
        val a = math.max(a0, lo); val b = math.min(b0, hi)
        if (b > a) {
          if (cur._1.isNaN || a > cur._2) { if (!cur._1.isNaN) covered += cur._2 - cur._1; cur = (a, b) }
          else cur = (cur._1, math.max(cur._2, b))
        }
      }
      if (!cur._1.isNaN) covered += cur._2 - cur._1
      math.max(0.0, wallMs - covered)
    }
    val tasksByStage = opTasks.groupBy(_.stageId)
    val firstWait = opJobs.flatMap { j =>
      val launches = j.stageIds.flatMap(s => tasksByStage.getOrElse(s, Nil)).map(_.launch)
      if (launches.isEmpty) None else Some((launches.min - j.startMs).toDouble)
    }
    val skew = tasksByStage.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    val inputRows = opTasks.map(_.inRecs).sum
    Map(
      "plan.analysis_ms" -> Stats.median(planPerOp(_.analysis)),
      "plan.optimization_ms" -> Stats.median(planPerOp(_.optimization)),
      "plan.physical_ms" -> Stats.median(planPerOp(_.planning)),
      "driver.overhead_ms" -> Stats.median(overhead),
      "sched.jobs_per_op" -> opJobs.size / nOps,
      "sched.stages_per_op" -> opStages.size / nOps,
      "sched.tasks_per_op" -> opTasks.size / nOps,
      "sched.first_task_wait_ms" -> Stats.median(firstWait),
      "exec.run_ms" -> Stats.median(perOp(_.run.toDouble)),
      "exec.cpu_ms" -> Stats.median(perOp(_.cpuNs / 1e6)),
      "exec.gc_ms" -> opTasks.map(_.gc).sum / nOps,
      "exec.deser_ms" -> Stats.median(perOp(_.deser.toDouble)),
      "exec.busy_share" -> opTasks.map(_.run).sum / math.max(1.0, windowMs * cores),
      "exec.stage_skew" -> (if (skew.isEmpty) 1.0 else Stats.median(skew)),
      "shuffle.write_bytes" -> opTasks.map(_.shW).sum / nOps,
      "shuffle.read_bytes" -> opTasks.map(_.shR).sum / nOps,
      "shuffle.records" -> opTasks.map(_.shRec).sum / nOps,
      "shuffle.fetch_wait_ms" -> opTasks.map(_.fetchWait).sum / nOps,
      "spill.bytes" -> opTasks.map(_.spill).sum / nOps,
      "scan.files_read" -> qeByOp.values.flatten.map(_.files.toDouble).sum / nOps,
      "scan.input_bytes" -> opTasks.map(_.inBytes).sum / nOps,
      "scan.input_rows" -> inputRows / nOps,
      "scan.rows_read_per_row_returned" -> inputRows.toDouble / math.max(1L, rowsReturned))
  }

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimeByLayer: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.filter(_.parent != 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum
    }
  }

  def writeSpans(path: String): Unit =
    Fs.writeString(path, spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.mkString("", "\n", "\n"))
}

object Tracer {
  private def lookup(m: ConcurrentHashMap[Long, Long], k: Long): Option[Long] =
    if (m.containsKey(k)) Some(m.get(k)) else None
  val OpProperty = "graft.bench.op"

  final case class JobRec(jobId: Int, op: Long, startMs: Long, stageIds: Seq[Int]) { @volatile var endMs: Long = 0L }
  final case class StageRec(stageId: Int)
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, run: Long, cpuNs: Long, gc: Long, deser: Long,
                           shW: Long, shRec: Long, shR: Long, fetchWait: Long, inBytes: Long, inRecs: Long, spill: Long)
  final case class QeRec(id: Long, analysis: Double, optimization: Double, planning: Double, files: Long)

  /** File-source scan nodes of an executed plan, through AQE stages and subqueries. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one measured window produced. `latencyMs` are per-operation
  * latencies (request, event freshness or pass), whose median and tail
  * percentile are reported; `throughput` is units of work per second. `countedOps` (all when
  * empty) are the operations whose count is fixed by the seed, over
  * which per-layer counts are averaged; `rowsOut` counts the rows they
  * answered. */
final case class RunResult(
    latencyMs: Seq[Double],
    throughput: Double,
    attempted: Int,
    failed: Int,
    rowsOut: Long,
    detail: Map[String, Any],
    layer: Map[String, Double],
    countedOps: Set[Long] = Set.empty) {
  def p50Ms: Double = Stats.pct(latencyMs, 50)
  def tailMs: Double = Stats.pct(latencyMs, Stats.tailPercentile(latencyMs.size))
}

/** Per-layer counts that only some workloads move; zero elsewhere. */
object Layers {
  val none: Map[String, Double] = Seq(
    "tablelog.files_written", "tablelog.bytes_written_per_event", "tablelog.buckets_touched_share",
    "tablelog.log_entries", "tablelog.stored_bytes_per_event", "stream.batches", "stream.rows_per_batch",
    "state.rows_total", "state.memory_bytes", "state.rows_dropped_late").map(_ -> 0.0).toMap
}

trait Workload {
  type State
  /** Stage the workload's inputs for graft, in `dir`. */
  def setup(spark: SparkSession, dir: String): State
  /** Run the operations before the measured window, so their code paths are loaded and compiled; once per JVM. */
  def warmUp(spark: SparkSession, st: State): Unit
  /** Measure one window; `tr` is disabled on untraced runs. */
  def run(spark: SparkSession, st: State, tr: Tracer): RunResult
}

/** One harness run: set up once — JVM start, session start, staging
  * and warm-up, all cold; that time is `setup_s` — then measure one
  * window untraced. With `--trace 1`, a traced window follows after a
  * fresh (warm) set-up. Results go to `<out>/result.json`. */
object Main {
  /** JVM start on the `System.nanoTime` clock. */
  private val JvmStartNs: Long = {
    val sinceStartMs = System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - sinceStartMs * 1000000L
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val w: Workload = o.workload match {
      case "serve" => new Serve(o)
      case "ingest" => new Ingest(o)
      case "batch" => new Batch(o)
      case other => sys.error(s"unknown workload '$other'")
    }
    val scratch = Fs.mkdirs(s"${o.out}/scratch")
    var spark: SparkSession = null
    var setupNo = 0
    /** A set-up in a fresh directory; the first also warms the JVM up,
      * and is timed from JVM start. */
    def freshSetup(): (w.State, Double) = {
      if (spark != null) spark.stop()
      if (setupNo > 0) Fs.deleteRecursively(new File(s"${o.out}/setup${setupNo - 1}"))
      val dir = Fs.mkdirs(s"${o.out}/setup$setupNo")
      setupNo += 1
      val t0 = if (setupNo == 1) JvmStartNs else System.nanoTime()
      spark = Session.start(o.cores, scratch)
      Log("session started")
      val st = w.setup(spark, dir)
      if (setupNo == 1) w.warmUp(spark, st)
      val secs = (System.nanoTime() - t0) / 1e9
      Log(f"setup $setupNo: $secs%.2f s")
      (st, secs)
    }
    /** One measured window; also its JVM heap peak and GC time. */
    def window(st: w.State, traced: Boolean): (RunResult, Tracer, Map[String, Double]) = {
      val tr = new Tracer(spark, traced)
      tr.attach()
      tr.windowStart()
      val r = w.run(spark, st, tr)
      tr.windowEnd()
      val jvm = tr.jvm
      tr.detach()
      Log(f"${if (traced) "traced" else "untraced"} window: ${tr.windowMs / 1000}%.2f s")
      (r, tr, jvm)
    }
    val (st0, coldSetup) = freshSetup()
    val (plain, _, plainJvm) = window(st0, traced = false)
    val out = collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "cores" -> o.cores,
      "setup_runs_s" -> Seq(coldSetup),
      "attempted" -> plain.attempted, "failed" -> plain.failed,
      "end_to_end" -> Map(
        "setup_s" -> coldSetup,
        "latency_p50_ms" -> plain.p50Ms,
        "latency_tail_ms" -> plain.tailMs,
        "throughput_per_s" -> plain.throughput),
      "detail" -> (plain.detail ++ plainJvm ++ Map(
        "latency_samples" -> plain.latencyMs.size,
        "tail_percentile" -> Stats.tailPercentile(plain.latencyMs.size))))
    var last = plain
    if (o.trace) {
      // the overhead compares the traced window with the untraced one
      // before it; the JVM is warmer by then, so it reads low
      val (st1, warm1) = freshSetup()
      val (traced, tr, tracedJvm) = window(st1, traced = true)
      tr.writeSpans(s"${o.out}/spans.jsonl")
      val engine = tr.engineMetrics(traced.countedOps, traced.rowsOut, o.cores)
      out("attempted") = plain.attempted + traced.attempted
      out("failed") = plain.failed + traced.failed
      out("per_layer") = engine ++ tracedJvm ++ traced.layer ++ Map(
        "trace.overhead_pct" -> (traced.p50Ms - plain.p50Ms) / plain.p50Ms * 100)
      out("setup_runs_s") = Seq(coldSetup, warm1)
      out("traced_detail") = traced.detail
      out("self_ms_by_layer") = tr.selfTimeByLayer
      last = traced
    }
    // where the last window left outputs to check after the run (batch)
    out("outputs") = last.detail.filter { case (k, _) => k == "batch_out" || k == "data_dir" }
    Fs.writeString(s"${o.out}/result.json", Json.write(out))
    Log("result written")
    spark.stop()
    System.exit(0)
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.operators.{Dedup, TableLog, TableLogRelation}
import graft.sources.Tables
import graft.streaming.{EventPipeline, EventStreams, MergeIngest}

/** The streaming consumer: JSONL files landed by a seeded lander thread
  * (about 10% replayed ids, some events out of order inside the
  * watermark) are read by `EventStreams.readEventStream(JsonlDir)`,
  * deduplicated, enriched and merged into a bucketed TableLog.
  * Phase A drains a pre-landed backlog (throughput); phase B lands
  * files on a fixed schedule (freshness: file landed → the merge commit
  * that makes its events readable). After each phase the table is
  * checked against `Dedup.keepLatest` over everything landed. */
final class Ingest(o: Opts) extends Workload {
  import Ingest._

  val backlogLines: Int = if (o.smoke) 300 else BacklogLines
  val maxBytes: Long = if (o.smoke) 16384L else MaxBytesPerTrigger
  val rateB: Double = if (o.smoke) 50.0 else PhaseBRate
  val fileEvery = 0.2 // seconds between phase B files

  final class LandFile(val name: String, val rows: IndexedSeq[Row]) {
    val lines: IndexedSeq[String] = rows.map(jsonLine)
    val lineEnds: IndexedSeq[Long] = lines.scanLeft(0L)((acc, l) => acc + l.getBytes("UTF-8").length + 1).tail
    @volatile var landNs: Long = 0L
  }
  /** `history` is the table's seed content (the events before the landed
    * tail); `tail` the events the lander may land, in event-time order. */
  final class State(val dir: String, val data: String, val root: String, val land: String, val ckpt: String,
                    val history: DataFrame, val tail: IndexedSeq[Row],
                    val backlog: IndexedSeq[LandFile], val phaseB: IndexedSeq[LandFile]) {
    var live: Option[Live] = None
  }

  /** The measured streaming query and what its micro-batches report.
    * Its first batch is the warm-up: it pays stream start, the first
    * planning and code generation and the first merge. */
  final class Live(spark: SparkSession, st: State, val tr: Tracer) {
    val t0: Long = System.nanoTime()
    val batchEnd = new ConcurrentHashMap[Long, java.lang.Long]()
    val batchOp = new ConcurrentHashMap[Long, java.lang.Long]()
    val mergeMs = new ConcurrentLinkedQueue[Double]()
    val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    val touched = new ConcurrentHashMap[Long, Double]()
    val filesBefore: Set[String] = Fs.files(s"${st.root}/data").map(_.getPath).toSet
    val logBefore: Int = Fs.files(s"${st.root}/_log").size
    val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    private val sink = sinkFor(st.root)
    val q: StreamingQuery = stream(spark, st.data, st.land, maxBytes, st.ckpt, (b, id) => tr.op("micro_batch") {
      val before = if (tr.enabled) bucketsOf(st.root) else Set.empty[String]
      val s = System.nanoTime()
      tr.span("MergeIngest.sink", "graft.streaming.MergeIngest") { sink(b, id) }
      val e = System.nanoTime()
      batchEnd.put(id, e); batchOp.put(id, tr.currentOp); mergeMs.add((e - s) / 1e6)
      if (tr.enabled) touched.put(id, (bucketsOf(st.root) -- before).map(_.split("_gb=")(1).takeWhile(_ != '/')).size.toDouble / NBuckets)
    })

    def awaitFirstBatch(): Unit = {
      val limit = System.nanoTime() + 60L * 1000000000L
      while (batchEnd.isEmpty && q.isActive && System.nanoTime() < limit) Thread.sleep(5)
    }
  }

  private def jsonLine(r: Row): String = {
    val t = r.get(1).asInstanceOf[Timestamp]
    s"""{"event_id":${r.getLong(0)},"ts":"${t.toInstant}","user_id":${r.getLong(2)},""" +
      s""""event_type":"${r.getString(3)}","value":${r.getDouble(4)},"props":${mapper.writeValueAsString(r.getString(5))}}"""
  }

  private def land(dir: String, f: LandFile): Unit = {
    val tmp = Paths.get(dir, s".${f.name}.tmp")
    Files.writeString(tmp, f.lines.mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, f.name), StandardCopyOption.ATOMIC_MOVE)
    f.landNs = System.nanoTime()
  }

  /** The arrival sequence over `tail` (ts cut to ms, the JSONL wire
    * precision): each event arrives up to 2 minutes of event time out of
    * order, and a seeded ~10% arrive again up to 5 minutes after that —
    * all inside the 10-minute dedup watermark, so none is dropped late. */
  private def arrivals(tail: IndexedSeq[Row], stream: Int): IndexedSeq[Row] = {
    val r = new SplittableRandom(o.seed * 131 + stream)
    tail.flatMap { e =>
      val t = e.get(1).asInstanceOf[Timestamp]
      val row = Row(e.getLong(0), new Timestamp(t.getTime), e.getLong(2), e.getString(3), e.getDouble(4), e.getString(5))
      val first = t.getTime + (r.nextDouble() * 120000).toLong
      val copies = if (r.nextDouble() < 0.1) Seq(first, first + (r.nextDouble() * 300000).toLong) else Seq(first)
      copies.map(k => (k, e.getLong(0), row))
    }.sortBy(x => (x._1, x._2)).map(_._3)
  }

  def setup(spark: SparkSession, dir: String): State = {
    val data = o.dataDir("sf0.1")
    val filesB = math.ceil(o.seconds * PhaseBShare / fileEvery).toInt
    val perFileB = math.max(1, math.round(rateB * fileEvery).toInt)
    val nLines = backlogLines + filesB * perFileB
    // the lander's events: the latest by event time, enough for every
    // line of both phases (replays included); the table holds the rest
    val all = Tables.events(spark, data)
    val tail = all.orderBy(col("ts").desc, col("event_id").desc).limit((nLines / 1.05).toInt + 50)
      .collect().reverse.toIndexedSeq
    val first = tail.head
    val history = all.filter(col("ts") < lit(first.get(1)) || (col("ts") === lit(first.get(1)) && col("event_id") < first.getLong(0)))
    val arr = arrivals(tail, 5)
    require(arr.size >= nLines, s"ingest: ${arr.size} arrivals for $nLines lines")
    val backlog = arr.take(backlogLines).grouped(BacklogFileLines).zipWithIndex
      .map { case (rs, i) => new LandFile(f"a-$i%06d.jsonl", rs) }.toIndexedSeq
    val phaseB = arr.slice(backlogLines, nLines).grouped(perFileB).zipWithIndex
      .map { case (rs, i) => new LandFile(f"b-$i%06d.jsonl", rs) }.toIndexedSeq
    // the canonical table, seeded with the enriched history
    val root = s"$dir/canonical"
    val seeded = EventPipeline.enrichStream(history, Tables.customer(spark, data))
    TableLog.commit(spark, root, TableLog.stageBucketed(seeded, root, "seed", "event_id", NBuckets), Nil)
    Log("ingest: table staged")
    val landDir = Fs.mkdirs(s"$dir/landing")
    backlog.foreach(f => land(landDir, f))
    new State(dir, data, root, landDir, s"$dir/ckpt", history, tail, backlog, phaseB)
  }

  /** Start the measured stream and wait for its first micro-batch. */
  def warmUp(spark: SparkSession, st: State): Unit = {
    val live = new Live(spark, st, new Tracer(spark, enabled = false))
    st.live = Some(live)
    live.awaitFirstBatch()
  }

  /** readEventStream(JsonlDir) → dedupStream → enrichStream → `sink`, one streaming query. */
  private def stream(spark: SparkSession, data: String, land: String, cap: Long, ckpt: String,
                     sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val events = EventStreams.readEventStream(spark, EventStreams.EventSource.JsonlDir(land, cap))
    EventPipeline.enrichStream(EventPipeline.dedupStream(events), Tables.customer(spark, data))
      .withColumn("status", lit("added"))
      .writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
  }

  private def sinkFor(root: String): (DataFrame, Long) => Unit =
    MergeIngest.sink(root, "event_id", NBuckets, streamId = "bench")

  def run(spark: SparkSession, st: State, tr: Tracer): RunResult = {
    // a window after a set-up without warm-up starts the stream itself
    val live = st.live.getOrElse { val l = new Live(spark, st, tr); st.live = Some(l); l }
    import live.{batchEnd, batchOp, mergeMs, progress, touched, q, t0}
    // phase A: drain the pre-landed backlog
    def covered(files: Seq[LandFile]): Option[Long] = {
      val need = files.map(lf => s"${new File(st.land).getAbsolutePath}/${lf.name}" -> lf.lineEnds.last)
      progress.asScala.toSeq.sortBy(_._1).collectFirst {
        case (id, p) if need.forall { case (k, n) => endOffset(p).getOrElse(k, 0L) >= n } => id
      }
    }
    var drained: Option[Long] = None
    val limitA = System.nanoTime() + 150L * 1000000000L
    while (drained.isEmpty && q.isActive && System.nanoTime() < limitA) { Thread.sleep(5); drained = covered(st.backlog) }
    val failA = drained.isEmpty
    val tA = drained.map(id => (batchEnd.get(id) - t0) / 1e9).getOrElse(Double.NaN)
    val versionA = TableLog.versions(spark, st.root).last
    val filesA = Fs.files(s"${st.root}/data").filterNot(f => live.filesBefore(f.getPath))
    val logA = Fs.files(s"${st.root}/_log").size - live.logBefore
    val batchesA = progress.asScala.keys.filter(id => drained.exists(id <= _)).toSeq.sorted
    // phase B: land files on a fixed schedule
    val lateness = new ConcurrentLinkedQueue[Double]()
    if (!o.phaseAOnly && !failA) {
      val b0 = System.nanoTime() + 20000000L
      st.phaseB.zipWithIndex.foreach { case (lf, i) =>
        val due = b0 + (i * fileEvery * 1e9).toLong
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000 - 1)); if (due - System.nanoTime() < 1000000) Thread.onSpinWait(); now = System.nanoTime() }
        lateness.add((now - due) / 1e6)
        land(st.land, lf)
      }
      val limitB = System.nanoTime() + 20L * 1000000000L
      while (covered(st.phaseB).isEmpty && q.isActive && System.nanoTime() < limitB) Thread.sleep(5)
    }
    Log(f"ingest: phase A ${tA}%.2f s, phase B landed ${if (o.phaseAOnly || failA) 0 else st.phaseB.size} files")
    val streamError = q.exception.map(_.toString)
    q.stop()
    SparkInternals.drain(spark.sparkContext)
    spark.streams.removeListener(live.listener)
    streamError.foreach(e => System.err.println(s"ingest: stream failed: $e"))
    // freshness: each phase B event, from its file landing to the end of
    // the merge whose batch offsets first cover its line
    val landAbs = new File(st.land).getAbsolutePath
    val progs = progress.asScala.toSeq.sortBy(_._1)
    val landedB = if (o.phaseAOnly || failA) IndexedSeq.empty[LandFile] else st.phaseB
    val fresh = landedB.flatMap { lf =>
      val key = s"$landAbs/${lf.name}"
      lf.lineEnds.map { end =>
        progs.collectFirst { case (id, p) if endOffset(p).getOrElse(key, 0L) >= end => (batchEnd.get(id) - lf.landNs) / 1e6 }
      }
    }
    val pending = fresh.count(_.isEmpty)
    // exactly-once: the table after each phase against keepLatest over everything landed
    val landedA = st.backlog.flatMap(_.rows)
    val wrongA = if (failA) 0 else mismatches(spark, st, landedA, Some(versionA), inject = o.inject)
    val wrongB = if (o.phaseAOnly || failA) 0 else mismatches(spark, st, landedA ++ landedB.flatMap(_.rows), None, inject = false)
    Log("ingest: exactly-once checks done")
    val distinctA = landedA.map(_.getLong(0)).distinct.size
    val nBatches = progress.size
    // the live snapshot after the phase A drain, whose batches the seed fixes
    val snapA = TableLogRelation.snapshotDf(spark, st.root, asOf = Some(versionA))
    val liveBytes = snapA.inputFiles.map(p => new File(new org.apache.hadoop.fs.Path(p).toUri.getPath).length).sum
    val liveRows = snapA.count()
    def dur(k: String) = Stats.median(progs.map(_._2.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    val stateA = drained.flatMap(id => Option(progress.get(id))).flatMap(_.stateOperators.headOption)
    // sustained drain rate: the median over phase A batches after the
    // first (the warm-up) of rows / time since the previous commit
    val rates = batchesA.sliding(2).collect { case Seq(a, b) =>
      progress.get(b).numInputRows / ((batchEnd.get(b) - batchEnd.get(a)) / 1e9)
    }.toSeq
    RunResult(
      latencyMs = fresh.flatten,
      throughput = if (rates.nonEmpty) Stats.median(rates) else distinctA / tA,
      attempted = math.max(1, nBatches) + (if (pending > 0) 1 else 0),
      // a wrong table after a phase counts every batch of that phase as wrong;
      // events never committed count as one failed batch
      failed = (if (failA) 1 else 0) + streamError.size + (if (pending > 0) 1 else 0) +
        (if (wrongA > 0) math.max(1, batchesA.size) else 0) +
        (if (wrongB > 0) math.max(1, nBatches - batchesA.size) else 0),
      rowsOut = distinctA,
      detail = Map(
        "phase_a_events_per_s" -> distinctA / tA, "phase_a_s" -> tA, "phase_a_batch_rates" -> rates, "phase_b_rate_per_s" -> rateB,
        "max_bytes_per_trigger" -> maxBytes, "batches" -> nBatches,
        "stored_bytes_per_event" -> liveBytes.toDouble / liveRows,
        "gen.late_p95_ms" -> Stats.pct(lateness.asScala.toSeq, 95),
        "tablelog.merge_ms" -> Stats.median(mergeMs.asScala.toSeq),
        "stream.trigger_ms" -> dur("triggerExecution"), "stream.add_batch_ms" -> dur("addBatch"),
        "stream.query_planning_ms" -> dur("queryPlanning"), "stream.latest_offset_ms" -> dur("latestOffset"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "state.commit_ms" -> Stats.median(progs.flatMap(_._2.stateOperators.headOption.map(_.commitTimeMs.toDouble)))),
      layer = Layers.none ++ Map(
        "tablelog.files_written" -> filesA.size.toDouble,
        "tablelog.bytes_written_per_event" -> filesA.map(_.length).sum.toDouble / math.max(1, distinctA),
        "tablelog.buckets_touched_share" -> Stats.mean(batchesA.flatMap(id => touched.asScala.get(id))),
        "tablelog.log_entries" -> logA.toDouble,
        "tablelog.stored_bytes_per_event" -> liveBytes.toDouble / liveRows,
        "stream.batches" -> batchesA.size.toDouble,
        "stream.rows_per_batch" -> Stats.mean(batchesA.map(id => progress.get(id).numInputRows.toDouble)),
        "state.rows_total" -> stateA.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.memory_bytes" -> stateA.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "state.rows_dropped_late" -> progs.flatMap(_._2.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble),
      countedOps = batchesA.flatMap(id => Option(batchOp.get(id)).map(_.toLong)).filter(_ != 0L).toSet)
  }

  /** Rows by which the table (at `asOf`) differs from keepLatest over the
    * history plus `landed`, enriched; `inject` drops one table row. */
  private def mismatches(spark: SparkSession, st: State, landed: Seq[Row], asOf: Option[Long], inject: Boolean): Int = {
    val cols = Seq("event_id", "ts", "user_id", "cust_name", "value").map(col)
    val all = st.history.unionByName(spark.createDataFrame(landed.asJava, st.history.schema))
    val expected = EventPipeline.enrichStream(Dedup.keepLatest(all, Seq("event_id"), "ts", "event_id"),
      Tables.customer(spark, st.data)).select(cols: _*)
    val table0 = TableLogRelation.snapshotDf(spark, st.root, asOf = asOf).select(cols: _*)
    val table = if (inject) table0.filter(col("event_id") =!= landed.head.getLong(0)) else table0
    // one aggregate pass per side; only a mismatch pays for the row diff
    def digest(df: DataFrame) = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    if (digest(expected) == digest(table)) 0
    else {
      val bad = expected.exceptAll(table).union(table.exceptAll(expected)).count().toInt
      System.err.println(s"ingest: table differs from keepLatest by $bad rows (asOf=$asOf)")
      math.max(1, bad)
    }
  }

  private def bucketsOf(root: String): Set[String] =
    Fs.files(s"$root/data").map(_.getPath).filter(_.contains("_gb=")).toSet
}

object Ingest {
  val NBuckets = 16
  /** Pre-landed backlog drained in phase A, and the per-trigger byte cap:
    * five micro-batches of two files each. */
  val BacklogLines = 4000
  val BacklogFileLines = 400
  val MaxBytesPerTrigger: Long = 96L * 1024
  /** Phase B landing rate, events/s: about half the phase A throughput. */
  val PhaseBRate = 140.0
  val PhaseBShare = 0.3

  val mapper = new ObjectMapper()
  def endOffset(p: StreamingQueryProgress): Map[String, Long] =
    p.sources.headOption.map { s =>
      val n = mapper.readTree(s.endOffset)
      n.fieldNames().asScala.filter(_.contains("/")).map(k => k -> n.get(k).asLong()).toMap
    }.getOrElse(Map.empty)
}

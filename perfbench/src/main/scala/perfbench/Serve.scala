package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Pagination, TableLog, TableLogRelation}
import graft.sources.Tables

/** Per-user Web API reads: an open loop of five request types at a fixed
  * offered rate (Poisson arrivals, Zipf users), then a short closed loop
  * of four clients that measures the sustainable request rate. Every
  * response is checked against the same request answered from the
  * plain parquet rows in memory, with no TableLog or parquet pruning. */
final class Serve(o: Opts) extends Workload {
  import Serve._

  val clients = 4
  val openShare = 0.7

  final class State(val dir: String, val eventsRoot: String, val ref: Reference)

  final class Reference(val events: Seq[Row], docs: Seq[(Long, String, String, Double)],
                        val prefs: Map[Long, Set[(String, String)]], val users: IndexedSeq[Long]) {
    private def key(r: Row) = (micros(r.get(1).asInstanceOf[Timestamp]), r.getLong(0))
    val byUser: Map[Long, IndexedSeq[Row]] =
      events.groupBy(_.getLong(2)).map { case (u, rs) => u -> rs.sortBy(key).toIndexedSeq }
    def userRows(u: Long): IndexedSeq[Row] = byUser.getOrElse(u, IndexedSeq.empty)
    def pages(u: Long): Int = (userRows(u).size + PageSize - 1) / PageSize

    def answer(q: Req): Seq[Seq[Any]] = q.kind match {
      case "titles_by_prefs" =>
        val p = prefs.getOrElse(q.user, Set.empty)
        docs.filter(d => p((d._2, d._3))).sortBy(_._1).take(100).map(d => Seq(d._1, d._2, d._3))
      case "recommend" =>
        val p = prefs.getOrElse(q.user, Set.empty)
        docs.filter(d => p((d._2, d._3)) && d._4 > 7).sortBy(_._1).sortBy(-_._4).take(10).map(d => Seq(d._1, d._4))
      case "key_probe" =>
        q.keys.distinct.flatMap(userRows).sortBy(_.getLong(0))
          .map(r => Seq(r.getLong(0), r.getLong(2), r.get(1), r.getString(3), r.getDouble(4)))
      case "page" =>
        val rs = userRows(q.user)
        rs.slice(q.pageNo * PageSize, (q.pageNo + 1) * PageSize)
          .map(r => Seq(r.getLong(0), r.get(1), r.getString(3), r.getDouble(4)))
      case "latest_k" =>
        userRows(q.user).filter { r =>
          val t = r.get(1).asInstanceOf[Timestamp]; !t.before(q.lo) && !t.after(q.hi)
        }.reverse.take(10).map(r => Seq(r.getLong(0), r.get(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    }

    /** The LastEvaluatedKey a client sends for page `n` of `u`. */
    def cursor(u: Long, n: Int): Option[Seq[Any]] =
      if (n == 0) None else { val r = userRows(u)(n * PageSize - 1); Some(Seq(r.get(1), r.getLong(0))) }
  }

  def setup(spark: SparkSession, dir: String): State = {
    import spark.implicits._
    val data = o.dataDir("sf0.1")
    // the (source, lang) inverted index over the documents, with a fixed
    // per-document rating (the documents table carries none)
    Fs.writeTable(Tables.load(spark, data, "documents")
      .select(col("doc_id"), col("source"), col("lang"), (pmod(xxhash64(col("doc_id")), lit(1001)) / 100.0).as("rating"))
      .orderBy("source", "lang", "doc_id"), dir, "doc_index")
    val docs = Tables.load(spark, dir, "doc_index").as[(Long, String, String, Double)].collect().toSeq
    val users = Tables.events(spark, data).select("user_id").distinct().as[Long].collect().sorted.toIndexedSeq
    // each user's preferences: one to three seeded (source, lang) pairs
    val pairs = docs.map(d => (d._2, d._3)).distinct.sorted.toIndexedSeq
    val r = new SplittableRandom(o.seed * 7919 + 11)
    val prefs = users.map(u => u -> Seq.fill(1 + r.nextInt(3))(pairs(r.nextInt(pairs.size))).toSet).toMap
    Log("serve: documents indexed")
    Fs.writeTable(prefs.toSeq.flatMap { case (u, ps) => ps.map(p => (u, p._1, p._2)) }
      .toDF("user_id", "source", "lang"), dir, "prefs")
    // the serving table: events clustered by user_id with zone maps
    val root = s"$dir/events_tl"
    val (files, zm) = TableLog.stageWithZoneMap(Tables.events(spark, data), root, "base", "user_id", 16,
      statsCols = Seq("ts"))
    TableLog.commit(spark, root, files, Nil, zmap = zm)
    Log("serve: tables staged")
    // the reference answers from the plain parquet rows, held in memory
    val st = new State(dir, root, new Reference(Tables.events(spark, data).collect().toSeq, docs, prefs, users))
    Log("serve: reference built")
    st
  }

  /** Six requests of each type on `clients` threads, so the JIT has
    * compiled the request paths, contended ones included, before the
    * open loop starts. */
  def warmUp(spark: SparkSession, st: State): Unit = {
    val warm = new Requests(st.ref, new SplittableRandom(o.seed + 99))
    val off = new Tracer(spark, enabled = false)
    val qs = (1 to 6).flatMap(_ => Kinds.map(k => warm.next(k, 0L)))
    val pool = Executors.newFixedThreadPool(clients)
    qs.map(q => pool.submit(new Runnable { def run(): Unit = execute(spark, st, q, off) })).foreach(_.get())
    pool.shutdown()
  }

  /** One request through graft's public functions; the collected rows. */
  def execute(spark: SparkSession, st: State, q: Req, tr: Tracer): (Long, Seq[Seq[Any]]) = tr.op(q.kind) {
    def snap(): DataFrame = tr.span("TableLogRelation.snapshotDf", "graft.operators.TableLog") {
      TableLogRelation.snapshotDf(spark, st.eventsRoot)
    }
    def prefsJoin(): DataFrame = tr.span("Tables.load", "graft.sources") {
      val prefs = Tables.load(spark, st.dir, "prefs").filter(col("user_id") === q.user)
      Tables.load(spark, st.dir, "doc_index").join(prefs, Seq("source", "lang"), "left_semi")
    }
    val df = q.kind match {
      case "titles_by_prefs" =>
        prefsJoin().select("doc_id", "source", "lang").orderBy("doc_id").limit(100)
      case "recommend" =>
        prefsJoin().filter(col("rating") > 7).orderBy(col("rating").desc, col("doc_id")).limit(10)
          .select("doc_id", "rating")
      case "key_probe" =>
        snap().filter(col("user_id").isin(q.keys: _*))
          .select("event_id", "user_id", "ts", "event_type", "value").orderBy("event_id")
      case "page" =>
        val base = snap().filter(col("user_id") === q.user).select("event_id", "ts", "event_type", "value")
        tr.span("Pagination.page", "graft.operators.Pagination") {
          Pagination.page(base, Seq("ts", "event_id"), st.ref.cursor(q.user, q.pageNo), PageSize)
        }
      case "latest_k" =>
        snap().filter(col("user_id") === q.user && col("ts") >= lit(q.lo) && col("ts") <= lit(q.hi))
          .orderBy(col("ts").desc, col("event_id").desc).limit(10)
          .select("event_id", "ts", "user_id", "event_type", "value")
    }
    (tr.currentOp, tr.span("collect", "spark") { df.collect().toSeq.map(_.toSeq) })
  }

  def run(spark: SparkSession, st: State, tr: Tracer): RunResult = {
    val openSec = o.seconds * openShare
    val closedSec = o.seconds - openSec
    val rate = if (o.smoke) 4.0 else OfferedRate
    // open-loop schedule: Poisson arrivals over [0, openSec)
    // a Poisson process conditioned on its count: round(rate * openSec)
    // arrivals at uniform random times, so every run offers the same load
    val arr = new SplittableRandom(o.seed * 31 + 1)
    val gen = new Requests(st.ref, new SplittableRandom(o.seed * 31 + 2))
    val schedule = Seq.fill(math.round(rate * openSec).toInt)(arr.nextDouble() * openSec).sorted
      .map(t => gen.next(gen.kind(), (t * 1e9).toLong)).toIndexedSeq
    val results = new ConcurrentLinkedQueue[(Req, Double, Either[Throwable, (Long, Seq[Seq[Any]])])]()
    val lateness = new ConcurrentLinkedQueue[Double]()
    val pool = Executors.newFixedThreadPool(clients)
    val t0 = System.nanoTime() + 20000000L
    schedule.foreach { q =>
      val due = t0 + q.dueNs
      var now = System.nanoTime()
      while (now < due) { val ms = (due - now) / 1000000; if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait(); now = System.nanoTime() }
      lateness.add((now - due) / 1e6)
      pool.submit(new Runnable {
        def run(): Unit = {
          val res = try Right(execute(spark, st, q, tr)) catch { case e: Throwable => Left(e) }
          results.add((q, (System.nanoTime() - due) / 1e6, res))
        }
      })
    }
    pool.shutdown()
    val drained = pool.awaitTermination(math.max(5L, o.seconds.toLong), TimeUnit.SECONDS)
    if (!drained) { spark.sparkContext.cancelAllJobs(); pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }
    val open = results.asScala.toSeq
    // closed loop: `clients` threads back to back for closedSec
    // each client's rate is its completed requests over its own busy span,
    // so the estimate does not jump by whole requests at the deadline
    val closed = new ConcurrentLinkedQueue[(Req, Double, Either[Throwable, (Long, Seq[Seq[Any]])])]()
    val clientRates = new ConcurrentLinkedQueue[Double]()
    val c0 = System.nanoTime()
    val deadline = c0 + (closedSec * 1e9).toLong
    val g = new Requests(st.ref, new SplittableRandom(o.seed * 31 + 10))
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var n = 0; var last = c0
        while (System.nanoTime() < deadline) {
          val q = g.synchronized(g.next(g.kind(), 0L))
          val s = System.nanoTime()
          val res = try Right(execute(spark, st, q, tr)) catch { case e: Throwable => Left(e) }
          last = System.nanoTime(); n += 1
          closed.add((q, (last - s) / 1e6, res))
        }
        clientRates.add(n / ((last - c0) / 1e9))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // correctness: every response against the in-memory reference
    val all = open ++ closed.asScala.toSeq
    var injected = !o.inject
    val wrong = all.count {
      case (q, _, Right((_, rows))) =>
        val got = if (!injected) { injected = true; rows.drop(1) :+ Seq("injected") } else rows
        val want = st.ref.answer(q)
        if (got != want) System.err.println(s"serve: wrong answer to $q: got ${got.size} rows, want ${want.size}; " +
          s"first difference ${got.zipAll(want, Nil, Nil).find(p => p._1 != p._2)}")
        got != want
      case _ => false
    }
    val errors = all.count(_._3.isLeft)
    all.collectFirst { case (_, _, Left(e)) => e }.foreach(e => System.err.println(s"serve: request failed: $e"))
    val pending = schedule.size - open.size
    val byKind = open.groupBy(_._1.kind).map { case (k, xs) => s"serve.${k}_p50_ms" -> Stats.median(xs.map(_._2)) }
    val snapMs = tr.spans.asScala.filter(_.name == "TableLogRelation.snapshotDf").map(s => (s.endNs - s.startNs) / 1e6).toSeq
    val tlBytes = Fs.files(s"${st.eventsRoot}/data").map(_.length).sum
    RunResult(
      latencyMs = open.map(_._2),
      throughput = clientRates.asScala.sum,
      attempted = schedule.size + closed.size,
      failed = wrong + errors + pending,
      rowsOut = open.collect { case (_, _, Right((_, rows))) => rows.size.toLong }.sum,
      detail = byKind ++ Map(
        "offered_rate_per_s" -> rate, "open_requests" -> schedule.size, "closed_requests" -> closed.size,
        "gen.late_p95_ms" -> Stats.pct(lateness.asScala.toSeq, 95),
        "tablelog.snapshot_ms" -> Stats.median(snapMs)),
      layer = Layers.none ++ Map("tablelog.stored_bytes_per_event" -> tlBytes.toDouble / st.ref.events.size),
      countedOps = open.collect { case (_, _, Right((op, _))) => op }.filter(_ != 0L).toSet)
  }
}

object Serve {
  /** Requests per second offered by the open loop: about half of what
    * four closed-loop clients sustain on the reference machine. */
  val OfferedRate = 2.8
  val PageSize = 20
  val Kinds: Seq[String] = Seq("titles_by_prefs", "recommend", "key_probe", "page", "latest_k")
  /** The request mix: each block of 20 requests holds exactly these counts. */
  private val Mix = Seq(5, 4, 4, 4, 3)

  def micros(t: Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000

  final case class Req(kind: String, user: Long, keys: Seq[Long], pageNo: Int, lo: Timestamp, hi: Timestamp, dueNs: Long)

  /** Seeded request stream: Zipf(1.1) users, the fixed type mix, and
    * per-user page numbers that walk the LastEvaluatedKey loop. */
  final class Requests(ref: Serve#Reference, r: SplittableRandom) {
    private val users = ref.users
    private val zipf = new Seeded.Zipf(users, 1.1, r)
    private val pageNo = collection.mutable.Map[Long, Int]().withDefaultValue(0)
    private var block = List.empty[String]
    /** Next request type: a seeded shuffle of each block of the mix. */
    def kind(): String = {
      if (block.isEmpty) {
        block = Seeded.shuffle(Kinds.zip(Mix).flatMap { case (k, n) => Seq.fill(n)(k) }, r).toList
      }
      val k = block.head; block = block.tail; k
    }
    def next(kind: String, dueNs: Long): Req = {
      val u = zipf.next()
      val keys = u +: Seq.fill(4)(users(r.nextInt(users.size)))
      val n = math.max(1, ref.pages(u))
      val p = pageNo(u) % n
      if (kind == "page") pageNo(u) = p + 1
      val lo = 1704067200000L + r.nextInt(23) * 86400000L
      Req(kind, u, keys, p, new Timestamp(lo), new Timestamp(lo + 7 * 86400000L), dueNs)
    }
  }
}

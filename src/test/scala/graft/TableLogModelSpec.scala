package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TableLog, TableLogRelation}

/** MODEL-BASED check of the table format's replay semantics: seeded
  * random sequences of the mutating operations run against BOTH the
  * real log and a trivial in-memory model (a Map the operation's
  * documented semantics update directly). After every op the live
  * snapshot must equal the model; before each log expiry and at the
  * end, EVERY recorded version still retained must time-travel back
  * to exactly the state the model held when that version was
  * committed (so each version is compared before it can expire) —
  * one property covering the
  * interactions (deletes folded by compaction, restore resetting
  * sidecar state, truncate + time travel, schema widening over old
  * versions, zone-mapped vs plain appends, checkpoints and log expiry)
  * that example-based specs cover only pairwise. Every read goes
  * through both faces — [[TableLog.snapshot]] and the Catalyst
  * relation [[TableLogRelation.snapshotDf]] — and a version expired
  * below a checkpoint must refuse loudly on both. Seeds are FIXED:
  * failures reproduce. */
class TableLogModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runSequence(seed: Long, nOps: Int): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(seed)
    val root = Files.createTempDirectory(s"graft_model_$seed").toString + "/t"

    var cur = Map.empty[Long, Long] // id -> v (the model)
    var sidecars = false            // delete sidecars in force
    var nextId = 0L
    var nextCol = 0
    val histByVersion = mutable.Map.empty[Long, (Map[Long, Long], Boolean)]
    val opLog = mutable.ArrayBuffer.empty[String]
    // log retention: entries below `expiredBelow` are gone; a
    // checkpoint still serves its own exact version
    var expiredBelow = 0L
    val checkpointed = mutable.Set.empty[Long]
    def readable(v: Long) = v >= expiredBelow || checkpointed(v)

    def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "v").coalesce(1)
    def head: Long = TableLog.versions(spark, root).last
    def record(): Unit = { histByVersion(head) = (cur, sidecars) }
    // a read that throws names the op sequence that led to it
    def readOk(what: String, got: () => Map[Long, Long]): Map[Long, Long] =
      try got() catch { case e: RuntimeException =>
        fail(s"seed=$seed $what refused: ${e.getMessage}; ops: " +
          opLog.mkString(" -> "), e)
      }
    // both read faces, with delete sidecars applied on `id`
    def faces(asOf: Option[Long]): Seq[(String, () => Map[Long, Long])] =
      Seq("TableLog.snapshot" -> (() => TableLog.snapshot(spark, root, asOf,
          Some("id"))),
        "TableLogRelation.snapshotDf" -> (() => TableLogRelation.snapshotDf(
          spark, root, asOf, idCol = Some("id")))).map { case (n, read) =>
        n -> (() => read().select(col("id"), col("v")).as[(Long, Long)]
          .collect().toMap)
      }

    def appendOp(): Unit = {
      val n = 1 + rnd.nextInt(40)
      val rows = (nextId until nextId + n).map(i => (i, i * 7L))
      nextId += n
      if (rnd.nextBoolean()) {
        val (f, zm) = TableLog.stageWithZoneMap(df(rows), root,
          s"a$nextId", "id", 1 + rnd.nextInt(3))
        TableLog.commit(spark, root, f, Nil, zmap = zm)
      } else
        TableLog.commit(spark, root,
          TableLog.stageWrite(df(rows), root, s"a$nextId"), Nil)
      cur = cur ++ rows
      opLog += s"append($n)"
    }

    // TIME TRAVEL: a retained version must replay to the state the
    // model held when it was committed; an expired one must fail
    // loudly, never serve a neighbouring version's state
    def timeTravel(v: Long): Unit = faces(Some(v)).foreach { case (face, got) =>
      if (readable(v))
        assert(readOk(s"version $v $face", got) === histByVersion(v)._1,
          s"seed=$seed version $v $face time travel diverged; ops: " +
            opLog.mkString(" -> "))
      else {
        val e = intercept[IllegalArgumentException](got())
        assert(e.getMessage.contains("expire"),
          s"seed=$seed expired version $v via $face: ${e.getMessage}")
      }
    }
    def timeTravelAll(): Unit = histByVersion.keys.toSeq.sorted.foreach(timeTravel)

    // first op is always an append so every later op has a table
    appendOp(); record()

    (1 until nOps).foreach { i =>
      val choice = rnd.nextInt(100)
      if (choice < 30) appendOp()
      else if (choice < 45 && cur.nonEmpty) {
        // sidecar deletes of a random sample of live ids
        val ids = rnd.shuffle(cur.keys.toSeq).take(1 + rnd.nextInt(8))
        TableLog.commitDeletes(ids.toDF("id"), root, s"d$nextId")
        cur = cur -- ids
        sidecars = true
        opLog += s"commitDeletes(${ids.size})"
      } else if (choice < 60 && cur.nonEmpty) {
        TableLog.compactTable(spark, root, "id", s"c$nextId")
        sidecars = false
        opLog += "compact"
      } else if (choice < 75 && !sidecars) {
        // range purge; may be a NO-OP commit-wise when nothing
        // intersects (deleteWhere returns the current version)
        val lo = rnd.nextLong(math.max(1L, nextId))
        val hi = lo + rnd.nextInt(50)
        val before = head
        TableLog.deleteWhere(spark, root, "id", lo, hi,
          s"p$nextId", parts = 2)
        cur = cur.filter { case (id, _) => id < lo || id > hi }
        opLog += (if (head == before) s"deleteWhere($lo,$hi,noop)"
                  else s"deleteWhere($lo,$hi)")
      } else if (choice < 85) {
        TableLog.truncateTable(spark, root)
        cur = Map.empty
        sidecars = false
        opLog += "truncate"
      } else if (choice < 95 && histByVersion.keys.exists(readable)) {
        val v = rnd.shuffle(histByVersion.keys.filter(readable).toSeq).head
        TableLog.restoreTable(spark, root, v)
        val (st, sc) = histByVersion(v)
        cur = st; sidecars = sc
        opLog += s"restore($v)"
      } else {
        // metadata-only schema widening: must not disturb row reads,
        // at the head or via time travel below
        nextCol += 1
        TableLog.addColumns(spark, root,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              s"extra$nextCol", org.apache.spark.sql.types.StringType))))
        opLog += "addColumns"
      }
      record()

      faces(None).foreach { case (face, got) =>
        assert(readOk(s"live $face", got) === cur,
          s"seed=$seed live $face diverged after: " +
          opLog.mkString(" -> "))
      }

      if (i % 6 == 4) {
        // every sixth op also checkpoints the head; after the first
        // checkpoint, the log then expires below the new one — once
        // every version still readable has been time-travelled, so
        // each version is compared with the model before it expires
        val cp = TableLog.writeCheckpoint(spark, root)
        checkpointed += cp
        if (i > 6) {
          timeTravelAll()
          TableLog.expireLog(spark, root, cp)
          expiredBelow = cp
        }
        opLog += (if (i > 6) s"checkpoint+expire($cp)" else s"checkpoint($cp)")
      }
    }
    assert(expiredBelow > 0, s"seed=$seed never expired the log")

    // after the last expiry: checkpoints and the versions above the
    // newest one still replay; everything else refuses
    timeTravelAll()
  }

  test("a root with no log: activeFiles refuses; deletes, schema, " +
      "constraints and tags are empty; metadataDistinct answers") {
    val root = Files.createTempDirectory("graft_model_empty").toString + "/t"
    val e = intercept[IllegalArgumentException](TableLog.activeFiles(spark, root))
    assert(e.getMessage.contains("no committed version"), e.getMessage)
    assert(TableLog.activeDeletes(spark, root).isEmpty)
    assert(TableLog.logSchema(spark, root).isEmpty)
    assert(TableLog.constraintRefs(spark, root).isEmpty)
    assert(TableLog.committedTags(spark, root).isEmpty)
    // no file carries a bank, and none needs to: an all-zero bank
    // estimates zero distinct values per asked column
    val md = TableLog.metadataDistinct(spark, root, Seq("x"))
    assert(md.map(_.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
      === Some(Seq(("x", 0.0))))
  }

  test("a truncated table keeps its schema across checkpoint + log expiry") {
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_model_trunc").toString + "/t"
    TableLog.commit(spark, root, TableLog.stageWrite(
      Seq((1L, 7L)).toDF("id", "v").coalesce(1), root, "a"), Nil)
    TableLog.truncateTable(spark, root)
    // every non-empty version expires: only the checkpoint can still
    // say which columns the empty head has
    TableLog.expireLog(spark, root, TableLog.writeCheckpoint(spark, root))
    Seq(TableLog.snapshot(spark, root),
        TableLogRelation.snapshotDf(spark, root)).foreach { df =>
      assert(df.columns.toSeq === Seq("id", "v"))
      assert(df.count() === 0L)
    }
  }

  test("seeded random op sequences: live snapshot and every version's " +
      "time travel match the in-memory model (seed 41)") {
    runSequence(41L, 18)
  }
  test("seeded random op sequences: live snapshot and every version's " +
      "time travel match the in-memory model (seed 1337)") {
    runSequence(1337L, 18)
  }
  test("seeded random op sequences: live snapshot and every version's " +
      "time travel match the in-memory model (seed 20260816)") {
    runSequence(20260816L, 18)
  }
}

package graft

import java.sql.Timestamp

import graft.streaming.{EventStream, StreamingAnomaly, StreamingFunnel, StreamingTopK}
import graft.streaming.StreamingTopK.Scored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Checkpoint-restart recovery (ST6's effectively-once claim rests on
  * this, and no prior round exercised it): each case runs a stateful
  * query over HALF the input, stops it, feeds the remainder, restarts
  * from the SAME checkpoint, and asserts the final state equals the
  * whole-input answer. Every scenario is built so a silently-reset state
  * store yields a DIFFERENT (wrong) answer — continuity is what's
  * asserted, not just liveness:
  *
  *  - kill-count (hash-aggregation state): a count that must carry the
  *    pre-restart partials;
  *  - last-per-key (mapGroupsWithState): the post-restart batch carries
  *    only STALE rows, so the right answer exists only in restored state;
  *  - streaming top-k (transformWithState / RocksDB): the post-restart
  *    candidate displaces one slot of a ranking whose other slots were
  *    learned before the restart.
  */
class StreamingRestartSpec extends SparkSuite {

  import spark.implicits._

  private def ckDir(): String =
    java.nio.file.Files.createTempDirectory("graft-restart-ck").toString

  /** Runs `body` under the RocksDB state-store provider and RESTORES the
    * prior provider conf afterwards (try/finally): the session is shared
    * across suites, so a leaked provider would silently move every later
    * streaming test onto RocksDB and weaken what those tests verify. */
  private def withRocksDB[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** (event_id, ts, user_id, event_type, value, props) rows shaped like
    * the events table — what gameColumns expects. killer = u(props.k % 30),
    * victim = u(user_id), room = room(user_id % 8). */
  private type Ev = (Long, Timestamp, Long, String, Double, String)
  private def kill(id: Long, victimUid: Long, killerK: Long): Ev =
    (id, ts((id % 60).toInt), victimUid, "error", 1.0, s"""{"k": $killerK}""")

  private def eventsDF(input: MemoryStream[Ev]): DataFrame =
    input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("kill-count aggregation state survives a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    def start(name: String) =
      EventStream.killCounts(eventsDF(input))
        .writeStream.outputMode(OutputMode.Complete)
        .option("checkpointLocation", ck)
        .format("memory").queryName(name).start()

    // first half: 3 kills by u5 (props k=5) on victim u1 in room1
    val q1 = start("restart_kills_1")
    input.addData(kill(1, 1, 5), kill(2, 1, 5), kill(3, 1, 5))
    q1.processAllAvailable()
    assert(spark.table("restart_kills_1")
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet ===
      Set(("u5", 3L)))
    q1.stop()

    // fed while DOWN: 2 more by u5, plus a killer seen only post-restart
    input.addData(kill(4, 1, 5), kill(5, 1, 5), kill(6, 2, 7))
    val q2 = start("restart_kills_2")
    q2.processAllAvailable()
    q2.stop()
    val after = spark.table("restart_kills_2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // 3 (pre-restart state) + 2 = 5: a reset store would report 2
    assert(after === Set(("room1", "u5", 5L), ("room2", "u7", 1L)))
  }

  // ---- a checkpoint written by one file manager, resumed under another:
  // Spark's default manager leaves `.<name>.crc` sidecars, graft's none

  private val SparkManager =
    classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName
  private val GraftManager = classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Runs `body` under checkpoint file manager `cls`, restoring the prior
    * value afterwards (the session is shared across suites). */
  private def withManager[A](cls: String)(body: => A): A = {
    val key = graft.streaming.LocalCheckpointFileManager.ConfKey
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, cls)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Hadoop checksum sidecars (`.<name>.crc`) under `dir`; Spark's own
    * state-file checksums (`<name>.crc`) are data, written by either. */
  private def crcCount(dir: String): Long = {
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try all.map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc")).count()
    finally all.close()
  }

  Seq(("Spark's default", SparkManager, "graft's", GraftManager),
      ("graft's", GraftManager, "Spark's default", SparkManager)).foreach {
    case (fromName, from, toName, to) =>
      test(s"kill-count state written by $fromName manager resumes under $toName") {
        implicit val sqlCtx = spark.sqlContext
        val ck = ckDir()
        val input = MemoryStream[Ev]
        val tag = if (from == SparkManager) "s2g" else "g2s"
        def start(name: String) =
          EventStream.killCounts(eventsDF(input))
            .writeStream.outputMode(OutputMode.Complete)
            .option("checkpointLocation", ck)
            .format("memory").queryName(name).start()
        val firstHalf = Seq(kill(1, 1, 5), kill(2, 1, 5), kill(3, 1, 5), kill(4, 2, 7))
        val secondHalf = Seq(kill(5, 1, 5), kill(6, 2, 7), kill(7, 3, 9))

        withManager(from) {
          val q1 = start(s"mgr_kills_${tag}_1")
          input.addData(firstHalf: _*)
          q1.processAllAvailable()
          q1.stop()
        }
        // the old files carry sidecars exactly when Spark's manager wrote them
        assert((crcCount(ck) > 0) === (from == SparkManager), s"crc files: ${crcCount(ck)}")

        input.addData(secondHalf: _*)
        val after = withManager(to) {
          val q2 = start(s"mgr_kills_${tag}_2")
          q2.processAllAvailable()
          q2.stop()
          spark.table(s"mgr_kills_${tag}_2").collect().toSet
        }
        val whole = EventStream.killCounts(
          (firstHalf ++ secondHalf).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
          .collect().toSet
        assert(after === whole)
      }
  }

  // update-mode emissions land in a driver-side buffer via foreachBatch:
  // the memory sink refuses checkpoint recovery outside Complete mode,
  // and foreachBatch is exactly the recoverable sink shape a real
  // deployment uses for update-mode state (the kvSink pattern)
  private def collectRows(buf: scala.collection.mutable.Buffer[org.apache.spark.sql.Row])
  : (org.apache.spark.sql.DataFrame, Long) => Unit =
    (batch, _) => buf.synchronized { buf ++= batch.collect() }

  test("mapGroupsWithState last-per-key state survives a restart") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      EventStream.lastPerKey(eventsDF(input)).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    val q1 = start()
    input.addData((10L, ts(1), 1L, "click", 42.0, """{"k": 1}"""))
    q1.processAllAvailable()
    q1.stop()
    emitted.clear() // keep only post-restart emissions

    // post-restart batch carries ONLY a STALE row (seq 5 < 10): the
    // correct emission exists only if seq-10 state was restored
    input.addData((5L, ts(2), 1L, "click", 99.0, """{"k": 1}"""))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val rows = emitted.synchronized(
      emitted.map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq)
    assert(rows === Seq(("u1", 10L, 42.0)),
      s"stale row overrode restored state: $rows")
  }

  test("transformWithState top-k ranking survives a restart") { withRocksDB {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Scored]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      StreamingTopK.topkPerQuery(input.toDS(), k = 3).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    val q1 = start()
    input.addData(Scored(0L, 10L, 0.5), Scored(0L, 11L, 0.9), Scored(0L, 12L, 0.7))
    q1.processAllAvailable()
    q1.stop()
    emitted.clear() // keep only the post-restart changelog

    // one new candidate displaces only rank 3; ranks 1-2 must come back
    // from the restored state (a reset store would rank 13 first, alone)
    input.addData(Scored(0L, 13L, 0.8))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val ranking = emitted.synchronized(
      emitted.map(r => (r.getInt(3), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq)
    assert(ranking === Seq((1, 11L, 0.9), (2, 13L, 0.8), (3, 12L, 0.7)),
      s"restored ranking wrong: $ranking")
  }}

  test("flame-timer state survives a restart: suppression holds, one undo fires") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val ttlMs = 10000L // generous: the suppression assert below must
    //                    observe b2's explode well before any timer fires
    val input = MemoryStream[String]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    // paced trigger, NOT processAllAvailable: with a ProcessingTimeTimeout
    // pending, the default trigger runs a hot no-data batch loop and
    // processAllAvailable never stabilizes (see StreamingSpec's ST2 note)
    def start() =
      EventStream.flameTimers(input.toDS(), ttlMs).toDF()
        .writeStream.outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()
    def fired(): Seq[(String, String)] = emitted.synchronized(
      emitted.map(r => (r.getString(0), r.getString(1))).toSeq)
    def awaitUntil(deadlineMs: Long)(p: => Boolean): Unit = {
      val end = System.currentTimeMillis() + deadlineMs
      while (System.currentTimeMillis() < end && !p) Thread.sleep(200)
    }

    val q1 = start()
    input.addData("u1-b1")
    awaitUntil(30000)(fired().contains(("u1-b1", "ExplodeEvent")))
    // wait out the COMMIT, not just the output: foreachBatch runs before
    // the state store commits, so stopping on first sight of the row can
    // abort the batch — the restart would then REPLAY it (correct
    // effectively-once behavior, but this test asserts state continuity,
    // not sink idempotence). processAllAvailable cannot be used with a
    // pending ProcessingTimeTimeout (StreamingSpec's ST2 note), so wait
    // for two FURTHER completed trigger batches instead — the emitting
    // batch has necessarily committed by then.
    val b0 = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
    awaitUntil(30000)(
      Option(q1.lastProgress).exists(_.batchId >= b0 + 2))
    q1.stop()
    assert(fired() === Seq(("u1-b1", "ExplodeEvent")))
    emitted.clear()

    // fed while DOWN: the SAME bomb re-arrives plus a genuinely new one.
    // The existence guard lives in the state store — a silently-reset
    // store would re-emit ExplodeEvent for b1 (a duplicate explode/undo
    // pair downstream), so b2-without-b1 here proves the restore.
    input.addData("u1-b1", "u2-b2")
    val q2 = start()
    awaitUntil(30000)(fired().contains(("u2-b2", "ExplodeEvent")))
    assert(!fired().contains(("u1-b1", "ExplodeEvent")),
      s"restart must suppress the re-arrival of a bomb lit before the stop: ${fired()}")

    // timeout ACROSS the restart boundary: b1's litAtMs was persisted
    // pre-restart, so its TTL expires from that original light time (the
    // suppression branch re-armed the REMAINING ttl through the
    // recovery). Each undo must fire exactly once — b1 from restored
    // state, b2 from post-restart state.
    awaitUntil(60000)(
      fired().contains(("u1-b1", "UndoExplodeEvent")) &&
        fired().contains(("u2-b2", "UndoExplodeEvent")))
    q2.stop()
    val all = fired()
    assert(all.count(_ == ("u1-b1", "UndoExplodeEvent")) === 1,
      s"b1 undo must fire exactly once from restored state: $all")
    assert(all.count(_ == ("u2-b2", "UndoExplodeEvent")) === 1,
      s"b2 undo must fire exactly once: $all")
    assert(all.count(_ == ("u1-b1", "ExplodeEvent")) === 0,
      s"b1 explode must never re-fire after the restart: $all")
  }

  // ---- round 13: the remaining per-user state machines ---------------------
  // (funnel stages, transition chains, retention cohorts, burst changelog —
  // the most intricate keyed state in the repo, previously restart-untested)

  private def ev(id: Long, uid: Long, typ: String, when: Timestamp): Ev =
    (id, when, uid, typ, 1.0, """{"k": 1}""")

  test("funnel stage machine survives a restart: purchase gate needs restored click state") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      StreamingFunnel.stages(eventsDF(input)).toDF()
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    // pre-restart: view@t1 then click@t2 — u1 reaches stage 2
    val q1 = start()
    input.addData(ev(1, 1, "view", ts(1)), ev(2, 1, "click", ts(2)))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.synchronized(emitted.last.getInt(1)) === 2)
    emitted.clear()

    // post-restart batch carries ONLY the purchase: its gate
    // (clickT.exists(t > _)) passes only against RESTORED state — a
    // reset store folds it to stage 0
    input.addData(ev(3, 1, "purchase", ts(3)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val stages = emitted.synchronized(
      emitted.map(r => (r.getLong(0), r.getInt(1))).toSeq)
    assert(stages === Seq((1L, 3)),
      s"purchase must complete the RESTORED funnel, not restart it: $stages")
  }

  test("transition chain state survives a restart: the cross-boundary step is emitted") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      StreamingFunnel.transitions(eventsDF(input)).toDF()
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    // pre-restart: a single event — chain length 1, nothing emitted, but
    // the last-event row lands in state
    val q1 = start()
    input.addData(ev(1, 1, "view", ts(1)))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.isEmpty)

    // post-restart: the next event completes the (view → click) step.
    // The step's left end exists ONLY in restored state — a reset store
    // emits nothing at all.
    input.addData(ev(2, 1, "click", ts(2)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val steps = emitted.synchronized(
      emitted.map(r => (r.getString(0), r.getString(1))).toSeq)
    assert(steps === Seq(("view", "click")),
      s"restart must stitch the cross-boundary transition: $steps")
  }

  test("retention cohort state survives a restart: offsets stay anchored to the original cohort day") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      StreamingFunnel.retentionCells(eventsDF(input)).toDF()
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    def day(d: Int): Timestamp = Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")

    // pre-restart: first-ever event fixes the cohort at Jan 1 (offset 0)
    val q1 = start()
    input.addData(ev(1, 1, "click", day(1)))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.synchronized(emitted.map(r =>
      (r.getString(0), r.getLong(1))).toSeq) === Seq(("2024-01-01", 0L)))
    emitted.clear()

    // post-restart activity on Jan 3: offset 2 FROM THE RESTORED COHORT.
    // A reset store would re-anchor the cohort at Jan 3 and emit
    // ("2024-01-03", 0) — wrong day AND wrong offset.
    input.addData(ev(2, 1, "click", day(3)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val cells = emitted.synchronized(
      emitted.map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(cells === Seq(("2024-01-01", 2L)),
      s"cohort must stay anchored across the restart: $cells")
  }

  test("burst-detector moments survive a restart: the spike flags only against the restored baseline") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      StreamingAnomaly.bursts(eventsDF(input)).toDF()
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    def hour(h: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    // pre-restart baseline: 10 hours, one event each — all counts equal,
    // the all-integer 3σ test flags nothing (d = 0 per hour), so the
    // ONLY trace of these rows is the (hour → count) map in state
    val q1 = start()
    input.addData((1 to 10).map(h => ev(h.toLong, 1, "click", hour(h))): _*)
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.isEmpty, "an all-equal baseline must not flag")

    // post-restart: 2 events in an 11th hour. Against the restored
    // n=11 moments: d = (n-1)(x-1) = 10, d² = 100 > 9(n-1)(x-1)² = 90 →
    // flagged. Against a reset store the same batch is n=1, d=0 —
    // nothing is ever emitted, so the flag's existence proves the
    // restore.
    input.addData(ev(11, 1, "click", hour(11)), ev(12, 1, "click", hour(11)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val flags = emitted.synchronized(
      emitted.map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq)
    val hr11 = hour(11).getTime / 3600000L
    assert(flags === Seq((hr11, 2L, true)),
      s"spike must flag against the RESTORED baseline moments: $flags")
  }

  test("LSH bucket membership survives a restart: the cross-boundary pair is emitted") { withRocksDB {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      graft.streaming.StreamingDedup.candidatePairs(
        input.toDF().toDF("doc_id", "text")).toDF()
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    val text = "the quick brown fox jumps over the lazy dog again and again"
    // pre-restart: the bucket's FIRST member — no pair yet, but its id
    // lands in every band's ListState
    val q1 = start()
    input.addData((1L, text))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.isEmpty, "a single bucket member must not pair")

    // post-restart: an identical doc shares every band bucket. The pair
    // exists ONLY if doc 1's membership was restored — a reset store
    // sees doc 2 as each bucket's first member and emits nothing.
    input.addData((2L, text))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val pairs = emitted.synchronized(
      emitted.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(pairs.nonEmpty && pairs.distinct === Seq((1L, 2L)),
      s"restart must pair against restored bucket members: $pairs")
  }}

  test("stream-stream join buffer survives a restart: the cross-boundary pair is emitted") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    val emitted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    def start() =
      EventStream.followupJoin(eventsDF(input))
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .foreachBatch(collectRows(emitted)).start()

    // pre-restart: u1's purchase enters the join buffer with NO matching
    // error; u9's completed pair proves the join emits before the stop.
    val q1 = start()
    input.addData(
      ev(1, 1, "purchase", ts(0)), ev(2, 9, "purchase", ts(0)),
      ev(3, 9, "error", ts(5)))
    q1.processAllAvailable()
    q1.stop()
    assert(emitted.map(_.getLong(0)).toSet === Set(9L),
      s"pre-restart: only u9's pair is complete: $emitted")

    // fed while DOWN: the error matching u1's buffered purchase, inside
    // the 60-minute followup window. Its offset was never committed, so
    // the restart replays it — but the PURCHASE side is not replayed and
    // exists only in the checkpointed join buffer. A reset state store
    // emits nothing here.
    input.addData(ev(4, 1, "error", ts(10)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val pairs = emitted.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((9L, 2L), (1L, 1L)),
      s"restored join buffer must complete u1's cross-boundary pair: $pairs")
  }

  test("KMV sketch state survives a restart: the estimate covers pre-restart keys") {
    implicit val sqlCtx = spark.sqlContext
    val ck = ckDir()
    val input = MemoryStream[Ev]
    def start(name: String) =
      graft.streaming.StreamingSketch.distinctKmv(eventsDF(input))
        .writeStream.outputMode(OutputMode.Complete)
        .option("checkpointLocation", ck)
        .format("memory").queryName(name).start()

    // pre-restart: 20 distinct users (below KmvK=32, so every hash is
    // kept and n_kept IS the exact distinct count)
    val q1 = start("restart_kmv_1")
    input.addData((1L to 20L).map(u => ev(u, u, "click", ts((u % 60).toInt))): _*)
    q1.processAllAvailable()
    q1.stop()
    assert(spark.table("restart_kmv_1").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === Set(("click", 20L)))

    // fed while DOWN: 8 NEW users. 20 + 8 = 28 kept hashes requires the
    // pre-restart bottom-k buffer — a reset store reports 8.
    input.addData((21L to 28L).map(u => ev(u, u, "click", ts((u % 60).toInt))): _*)
    val q2 = start("restart_kmv_2")
    q2.processAllAvailable()
    q2.stop()
    val after = spark.table("restart_kmv_2").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after.map(t => (t._1, t._2)) === Set(("click", 28L)),
      s"restored KMV must keep all 28 distinct hashes: $after")
    // below k the estimate IS the kept size
    assert(after.head._3 === 28L, s"kmv_est below k must be exact: $after")
  }
}

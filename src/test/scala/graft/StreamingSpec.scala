package graft

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(ts: Timestamp, user_id: Long, event_type: String,
              value: Double, event_id: Long)

case class Doc(doc_id: Long, text: String)

/** Structured Streaming semantics via MemoryStream (SURVEY.md §5.2.4):
  * batch/stream equivalence on in-order data, session-window equivalence
  * with the lag+cumsum batch form, late-data drop, first-arrival dedup. */
class StreamingSpec extends SparkSpec {

  private def t(s: String) = Timestamp.valueOf(s)

  test("tumbling stream (complete mode) equals batch aggregation") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val evs = Seq(
      Ev(t("2024-01-01 10:05:00"), 1, "click", 1.50, 1),
      Ev(t("2024-01-01 10:35:00"), 2, "view", 2.25, 2),
      Ev(t("2024-01-01 11:10:00"), 1, "click", 3.00, 3),
      Ev(t("2024-01-01 12:59:59"), 3, "purchase", 10.00, 4))
    val ms = MemoryStream[Ev]
    ms.addData(evs)
    val q = Streaming.tumblingStream(ms.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("tum").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tum")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streaming.tumblingStream(evs.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch && streamed.size == 4)
  }

  test("late data beyond the watermark is dropped in append mode") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.tumblingStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    try {
      ms.addData(Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0, 1))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window (wm = 14:00 - 10min)
      ms.addData(Ev(t("2024-01-01 14:00:00"), 1, "click", 1.0, 2))
      q.processAllAvailable()
      // late arrival for the already-closed 10:00 window -> dropped
      ms.addData(Ev(t("2024-01-01 10:30:00"), 1, "click", 99.0, 3))
      q.processAllAvailable()
      // close the 14:00 window too
      ms.addData(Ev(t("2024-01-01 18:00:00"), 1, "click", 1.0, 4))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    assert(rows("2024-01-01 10:00:00.0") == 1L, s"late row not dropped: $rows")
  }

  test("session_window stream equals lag+cumsum batch sessionization") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val active = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
      Ev(t("2024-01-01 10:10:00"), 1, "view", 1.0, 2),
      Ev(t("2024-01-01 11:30:00"), 1, "click", 1.0, 3), // gap 80min -> new session
      Ev(t("2024-01-01 10:00:00"), 2, "view", 1.0, 4))
    val ms = MemoryStream[Ev]
    val q = Streaming.sessionStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      ms.addData(active)
      q.processAllAvailable()
      ms.addData(Ev(t("2024-01-02 10:00:00"), 9, "click", 1.0, 9)) // close all
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess")
      .filter(col("user_id") =!= 9)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // batch equivalent on the same static rows
    val batchDf = active.toDF()
    val tmp = tempDir("sess")
    batchDf.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = Streaming.streamSession(spark, tmp)
      .select(col("user_id"), col("session_start"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.size == 3)
  }

  test("streaming dropDuplicates keeps only the first (user, event_type) arrival") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.dedupStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      ms.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
        Ev(t("2024-01-01 10:01:00"), 1, "click", 1.0, 2))
      q.processAllAvailable()
      ms.addData(Ev(t("2024-01-01 10:02:00"), 1, "click", 1.0, 3))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup").collect().map(_.getLong(2)).toSet
    assert(ids == Set(1L))
  }

  test("dropDuplicatesWithinWatermark: dups inside the delay drop, state evicts, far-later keys re-emit") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermarkStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedupww").start()
    try {
      // two arrivals of (1, click) within the 10-minute delay -> one row
      ms.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
        Ev(t("2024-01-01 10:01:00"), 1, "click", 1.0, 2))
      q.processAllAvailable()
      // push the watermark hours past the key -> its state is evictable
      ms.addData(Ev(t("2024-01-01 14:00:00"), 9, "view", 1.0, 3))
      q.processAllAvailable()
      // the SAME key recurring far beyond the delay is a NEW event (this
      // is the bounded-state contract plain dropDuplicates doesn't have)
      ms.addData(Ev(t("2024-01-01 14:01:00"), 1, "click", 1.0, 4))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedupww")
      .filter(col("user_id") === 1).collect().map(_.getLong(2)).toSet
    assert(ids == Set(1L, 4L), s"got $ids")
  }

  test("transformWithState running stats: stream equals batch, state crosses a checkpoint restart") {
    val sp = spark
    import sp.implicits._
    val phase1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 3.0, 1),
      Ev(t("2024-01-01 10:05:00"), 1, "view", 1.0, 2),
      Ev(t("2024-01-01 10:00:00"), 2, "view", 7.0, 3))
    val phase2 = Seq(
      Ev(t("2024-01-01 10:10:00"), 1, "click", 5.0, 4),
      Ev(t("2024-01-01 10:20:00"), 2, "click", 2.0, 5))
    // streaming transformWithState requires the RocksDB provider; scope it
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val runs = runWithRestarts("tws", Streaming.runningStats,
        Seq(phase1.toDF(), phase2.toDF()))
      val streamed = runs.flatten
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      org.apache.spark.sql.graft.Bridge.ensureStateStoreCoordinator(spark)
      val batch = Streaming.runningStats((phase1 ++ phase2).toDF())
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
      // user 1 reaches run_cnt=3 and run_max carries 3.0 past the lower-value
      // phase-2 event only if ValueState round-tripped the restart
      assert(streamed.contains((1L, 4L, 3L, 5.0)))
      assert(streamed.contains((2L, 5L, 2L, 7.0)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState event-time timers: sessions close when the watermark passes the gap") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = Streaming.timerSessions(ms.toDF(), gapMs = 30 * 60 * 1000L)
        .writeStream.outputMode("append").format("memory").queryName("twstimer").start()
      try {
        // session 1 for user 1: two events ending 10:10 -> closes at 10:40
        ms.addData(
          Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
          Ev(t("2024-01-01 10:10:00"), 1, "view", 1.0, 2))
        q.processAllAvailable()
        // advance the watermark to 11:50 (12:00 - 10min) -> fires user 1's timer
        ms.addData(Ev(t("2024-01-01 12:00:00"), 9, "click", 1.0, 3))
        q.processAllAvailable()
        // new session for user 1; watermark push to 14:50 closes it AND user 9's
        ms.addData(Ev(t("2024-01-01 13:00:00"), 1, "click", 1.0, 4))
        q.processAllAvailable()
        ms.addData(Ev(t("2024-01-01 15:00:00"), 9, "view", 1.0, 5))
        q.processAllAvailable()
      } finally q.stop()
      val sessions = spark.table("twstimer")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // (1,2): first session; (1,1): second session closed by the 14:50
      // watermark; (9,1): user 9's 12:00 session. user 9's 15:00 session
      // is still open — push-based close emitted nothing for it.
      assert(sessions == Seq((1L, 1L), (1L, 2L), (9L, 1L)), s"got $sessions")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stream_session_timer: late close beats an unfired timer; flushed stream equals gap sessionization") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = Streaming.timerSessions(ms.toDF(), gapMs = 30 * 60 * 1000L)
        .writeStream.outputMode("append").format("memory").queryName("tses").start()
      try {
        ms.addData(
          Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
          Ev(t("2024-01-01 10:10:00"), 1, "view", 1.0, 2))
        q.processAllAvailable()
        // 40-min gap, but the watermark (10:00) has NOT passed the 10:40
        // close-out yet — without the inline late close this event would
        // silently merge into the previous session
        ms.addData(Ev(t("2024-01-01 10:50:00"), 1, "click", 1.0, 3))
        q.processAllAvailable()
        ms.addData(Ev(t("2024-01-01 11:00:00"), 2, "click", 1.0, 4))
        q.processAllAvailable()
        // far-future sentinel pushes the watermark past every open timer
        ms.addData(Ev(t("2024-01-02 10:00:00"), 99, "click", 1.0, 5))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tses")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // = ms-grain gap sessionization of users 1 and 2 (the declared
      // stream_session_timer batch form); the sentinel session stays open
      assert(got == Seq((1L, 1L), (1L, 2L), (2L, 1L)), s"got $got")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState list+map state: history feed stream equals batch across a restart") {
    val sp = spark
    import sp.implicits._
    val phase1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
      Ev(t("2024-01-01 10:05:00"), 1, "view", 1.0, 2),
      Ev(t("2024-01-01 10:06:00"), 1, "click", 1.0, 3))
    val phase2 = Seq( // ListState history and MapState counts must persist
      Ev(t("2024-01-01 10:10:00"), 1, "click", 1.0, 4),
      Ev(t("2024-01-01 10:20:00"), 1, "view", 1.0, 5))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val runs = runWithRestarts("twshist", Streaming.historyFeed,
        Seq(phase1.toDF(), phase2.toDF()))
      val streamed = runs.flatten
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSet
      org.apache.spark.sql.graft.Bridge.ensureStateStoreCoordinator(spark)
      val batch = Streaming.historyFeed((phase1 ++ phase2).toDF())
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSet
      assert(streamed == batch)
      // event 4: prev1=click(3), prev2=view(2), third click -> ListState
      // order and the MapState counter both crossed the restart
      assert(streamed.contains((1L, 4L, "click", "view", 3L)))
      assert(streamed.contains((1L, 5L, "click", "click", 2L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("flatMapGroupsWithState running seq: incremental stream equals batch") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val batch1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
      Ev(t("2024-01-01 10:05:00"), 1, "view", 1.0, 2),
      Ev(t("2024-01-01 10:00:00"), 2, "view", 1.0, 3))
    val batch2 = Seq(
      Ev(t("2024-01-01 10:10:00"), 1, "click", 1.0, 4),
      Ev(t("2024-01-01 10:20:00"), 2, "click", 1.0, 5))
    val ms = MemoryStream[Ev]
    val q = Streaming.runningSeq(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("seq").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable() // state carries across batches
    } finally q.stop()
    val streamed = spark.table("seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchRes = Streaming.runningSeq((batch1 ++ batch2).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batchRes)
    assert(streamed == Set((1L, 1L, 1L), (1L, 2L, 2L), (1L, 4L, 3L),
      (2L, 3L, 1L), (2L, 5L, 2L)))
  }

  test("flatMapGroupsWithState EWMA: incremental stream equals batch bit-for-bit") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val batch1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 3.0, 1),
      Ev(t("2024-01-01 10:05:00"), 1, "view", 5.0, 2),
      Ev(t("2024-01-01 10:00:00"), 2, "view", 7.0, 3))
    val batch2 = Seq( // user 1's state (ewma=4.0) must carry across batches
      Ev(t("2024-01-01 10:10:00"), 1, "click", 8.0, 4),
      Ev(t("2024-01-01 10:20:00"), 2, "click", 1.0, 5))
    val ms = MemoryStream[Ev]
    val q = Streaming.ewmaStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ewma").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchRes = Streaming.ewmaStream((batch1 ++ batch2).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batchRes) // exact ==: alpha=0.5 arithmetic is bit-stable
    assert(streamed == Set((1L, 1L, 3.0), (1L, 2L, 4.0), (1L, 4L, 6.0),
      (2L, 3L, 7.0), (2L, 5L, 4.0)))
  }

  test("flatMapGroupsWithState gap anomaly: stream equals batch, 2-sigma flag exact") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // user 1 gaps: 60, 120, 60, 600 s — only the 4th has >=2 prior gaps
    // AND |n·g−S|² > 4(nQ−S²): gap 60 vs prior {60,120} → (120−180)²=3600
    // ≤ 14400 (calm); gap 600 vs prior {60,120,60} → 1560² > 28800 (spike)
    val batch1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 0.0, 1),
      Ev(t("2024-01-01 10:01:00"), 1, "view", 0.0, 2),
      Ev(t("2024-01-01 10:03:00"), 1, "view", 0.0, 3))
    val batch2 = Seq( // moments (n=2,S=180,Q=18000) must carry across batches
      Ev(t("2024-01-01 10:04:00"), 1, "click", 0.0, 4),
      Ev(t("2024-01-01 10:14:00"), 1, "click", 0.0, 5))
    val ms = MemoryStream[Ev]
    val q = Streaming.anomalyStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("anom").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
    val streamed = spark.table("anom").collect().map(key).toSet
    val batchRes = Streaming.anomalyStream((batch1 ++ batch2).toDF())
      .collect().map(key).toSet
    assert(streamed == batchRes)
    assert(streamed == Set((1L, 4L, 60L, 2L, false), (1L, 5L, 600L, 3L, true)))
    // the declared window-form key agrees with the stateful form on the
    // full fixture (same rows, both engines' exact-integer test)
    val dir = "/root/testdata/sf0.001"
    val declared = Streaming.streamAnomaly(spark, dir).collect().map(key).toSet
    val stateful = Streaming.anomalyStream(
      graft.Tables.load(spark, dir, "events")).collect().map(key).toSet
    assert(declared == stateful && declared.nonEmpty)
  }

  test("stream_late_data: the declared drop report equals a real two-batch replay") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val fixture = graft.Tables.load(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("event_type"),
        col("value"), col("event_id"))
      .collect().map(r => Ev(r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4)))
    val (b1, b2) = fixture.partition(_.event_id % 3 != 0)
    val maxTs = fixture.map(_.ts.getTime).max
    // sentinel 2 h past the global max: its watermark closes EVERY real
    // window (window end <= max_hour+1h < max+2h-10min); its own window
    // never closes and is excluded below by event_type
    val sentinel = Ev(new Timestamp(maxTs + 2 * 3600 * 1000L), 0L,
      "zz_sentinel", 0.0, -1L)
    val ms = MemoryStream[Ev]
    val q = Streaming.tumblingStream(ms.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("late_report").start()
    try {
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
      ms.addData(sentinel); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("late_report")
      .filter(col("event_type") =!= "zz_sentinel")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val report = Streaming.streamLateData(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // emitted multiset: the report's cnt>0 cells, exactly
    val expected = report.filter(_._3 > 0).map(t => (t._1, t._2, t._3)).toSet
    assert(streamed == expected,
      s"stream vs report: only-stream=${streamed -- expected} " +
        s"only-report=${expected -- streamed}")
    // accounting: fed rows = emitted + dropped, and drops really occur
    val emitted = report.map(_._3).sum
    val dropped = report.map(_._4).sum
    assert(emitted + dropped == fixture.length.toLong,
      s"$emitted emitted + $dropped dropped != ${fixture.length} fed")
    assert(dropped > 0, "fixture produced no late drops - gate is vacuous")
  }

  test("watermarked stream-stream join equals batch interval join") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val clicks = Seq(
      (1L, t("2024-01-01 10:00:00"), 100L),
      (1L, t("2024-01-01 11:00:00"), 101L),
      (2L, t("2024-01-01 10:00:00"), 102L))
    val purchases = Seq(
      (1L, t("2024-01-01 10:20:00"), 200L), // 20 min after click 100 -> match
      (1L, t("2024-01-01 13:00:00"), 201L), // 2 h after click 101 -> no match
      (2L, t("2024-01-01 10:29:00"), 202L)) // 29 min after click 102 -> match
    val msC = MemoryStream[(Long, Timestamp, Long)]
    val msP = MemoryStream[(Long, Timestamp, Long)]
    val q = Streaming.attributionJoin(
        msC.toDF().toDF("user_id", "cts", "click_id"),
        msP.toDF().toDF("uid_p", "pts", "purchase_id"))
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      msC.addData(clicks: _*)
      msP.addData(purchases: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Streaming.attributionJoin(
        clicks.toDF("user_id", "cts", "click_id"),
        purchases.toDF("uid_p", "pts", "purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
    assert(batch == Set((1L, 100L, 200L), (2L, 102L, 202L)))
  }

  test("stream-static enrichment join: streamed events pick up dimension attributes") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val someUser = dim.select("c_custkey").head.getLong(0)
    val evs = Seq(
      Ev(t("2024-01-01 10:00:00"), someUser, "click", 1.5, 1),
      Ev(t("2024-01-01 10:05:00"), someUser, "view", 2.5, 2))
    val ms = MemoryStream[Ev]
    val q = Streaming.enrichJoin(ms.toDF(), dim)
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    try { ms.addData(evs); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("enrich").collect()
      .map(r => (r.getLong(1), r.getString(4))).toSet
    val batch = Streaming.enrichJoin(evs.toDF(), dim).collect()
      .map(r => (r.getLong(1), r.getString(4))).toSet
    assert(streamed == batch && streamed.size == 2)
    val seg = dim.filter(col("c_custkey") === someUser).head.getString(1)
    assert(streamed.forall(_._2 == seg))
  }

  test("running seq handles a pathologically hot single user (per-batch buffering bound)") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // one user owns ALL events: the group buffer is the whole batch.
    // 20k events across 2 micro-batches pins (a) correctness of the
    // cross-batch sequence and (b) that buffering is per-batch, not
    // per-stream (state carried between batches is one long).
    val batch1 = (1L to 10000L).map(i =>
      Ev(t("2024-01-01 10:00:00"), 7, "click", 1.0, i))
    val batch2 = (10001L to 20000L).map(i =>
      Ev(t("2024-01-01 11:00:00"), 7, "click", 1.0, i))
    val ms = MemoryStream[Ev]
    val q = Streaming.runningSeq(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("hotseq").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hotseq")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(rows.size == 20000)
    // seq must equal event_id: ts ties break on event_id within a batch,
    // and batch 2 continues from the carried state (10000)
    assert((1L to 20000L).forall(i => rows(i) == i))
  }

  test("foreachBatch sink: tumbling aggregation lands in parquet per micro-batch") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val out = tempDir("fb")
    val ms = MemoryStream[Ev]
    val q = Streaming.tumblingStream(ms.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    try {
      ms.addData(
        Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0, 1),
        Ev(t("2024-01-01 10:15:00"), 2, "view", 2.0, 2))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 2)
    assert(rows.columns.sorted.sameElements(
      Array("cnt", "event_type", "val_sum", "window_start")))
  }

  test("window topk: streaming windowed counts + per-batch rank reproduce the declared key") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    import org.apache.spark.sql.functions._
    // stream the real events table through the windowed-count aggregate
    // (complete mode), then rank in the sink — the foreachBatch topk shape
    val events = Tables.load(spark, sf, "events")
      .select("ts", "user_id", "event_type", "value", "event_id")
      .as[(Timestamp, Long, String, Double, Long)].collect()
    val ms = MemoryStream[(Timestamp, Long, String, Double, Long)]
    val counts = ms.toDF().toDF("ts", "user_id", "event_type", "value", "event_id")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("wtk").start()
    try {
      ms.addData(events.take(events.length / 2): _*)
      q.processAllAvailable()
      ms.addData(events.drop(events.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("cnt").desc, col("event_type"))
    val streamed = spark.table("wtk")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("window_start"), col("rnk").cast("long").as("rnk"),
        col("event_type"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    val declared = Streaming.streamWindowTopk(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(streamed == declared && declared.nonEmpty)
  }

  test("batch-equivalent declared queries are consistent with stream transforms") {
    // tumbling declared query == tumblingStream applied to the static table
    val declared = Streaming.streamTumbling(spark, sf).collect()
    val transformed = Streaming.tumblingStream(Tables.load(spark, sf, "events"))
      .orderBy("window_start", "event_type").collect()
    assert(declared.sameElements(transformed))
  }

  test("stateful streaming near-dup: multi-batch stream == batch == ground truth") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => Doc(r.getLong(0), r.getString(1)))
    val ms = MemoryStream[Doc]
    val q = Streaming.neardupStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ndup").start()
    try {
      // three doc_id-ordered micro-batches: state must carry across them
      docs.grouped(200).foreach { chunk =>
        ms.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("ndup").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = Streaming.streamNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed == batch)
    // driver-side ground truth from the per-row signatures: for each
    // (doc, band), the smallest prior doc sharing the band key within
    // hamming <= 3 of the full signature
    val sigs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr(Streaming.SimhashExprSql).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (db, sb) <- sigs.toSeq
      band <- 0 until 4
      prior = sigs.filter { case (da, sa) => da < db &&
        ((sa >> (band * 16)) & 0xFFFFL) == ((sb >> (band * 16)) & 0xFFFFL) &&
        java.lang.Long.bitCount(sa ^ sb) <= 3 }
      if prior.nonEmpty
    } yield (db, band, prior.map(_._1).min)).toSet
    assert(batch == expected)
    assert(batch.nonEmpty, "fixture has no near-dups at hamming <= 3 — vacuous test")
    // the streaming-safe per-row projection simhash == the fused batch form
    val fused = operators.LlmOps.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigs.toSet == fused)
  }

  test("streaming transition feed: multi-batch emissions equal the static run and a driver recompute") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // per-user chains crossing batch boundaries: u1 click->view->purchase,
    // u2 view->view->click; batch 2 continues both chains from carried state
    val batch1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
      Ev(t("2024-01-01 10:05:00"), 1, "view", 1.0, 2),
      Ev(t("2024-01-01 10:00:00"), 2, "view", 1.0, 3),
      Ev(t("2024-01-01 10:06:00"), 2, "view", 1.0, 4))
    val batch2 = Seq(
      Ev(t("2024-01-01 10:10:00"), 1, "purchase", 1.0, 5),
      Ev(t("2024-01-01 10:11:00"), 2, "click", 1.0, 6))
    val ms = MemoryStream[Ev]
    val q = Streaming.transitionStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("trans").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val static = Streaming.transitionStream((batch1 ++ batch2).toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val expected = Seq(
      (1L, "click", "view"), (1L, "view", "purchase"),
      (2L, "view", "view"), (2L, "view", "click")).sorted
    assert(streamed == expected && static == expected)
    // the declared batch key over the real events table equals the
    // window-rank mining key row for row
    val viaStream = Streaming.streamMarkov(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val viaLead = operators.Mining.fpmMarkovTransition(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(viaStream == viaLead)
  }

  test("streaming CDC apply: latest-wins state across batches, tombstones hold against late changes") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val batch1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
      Ev(t("2024-01-01 10:05:00"), 1, "view", 2.0, 2),  // user 1 current
      Ev(t("2024-01-01 10:00:00"), 2, "click", 3.0, 3),
      Ev(t("2024-01-01 10:00:00"), 3, "view", 4.0, 4))
    val batch2 = Seq(
      Ev(t("2024-01-01 10:10:00"), 2, "error", 0.0, 5), // tombstones user 2
      Ev(t("2024-01-01 09:55:00"), 1, "purchase", 9.0, 6)) // LATE: older than user 1's state — must not win
    val batch3 = Seq(
      Ev(t("2024-01-01 10:01:00"), 2, "view", 7.0, 7))  // LATE pre-tombstone change — must not resurrect user 2
    val ms = MemoryStream[Ev]
    val q = Streaming.cdcApplyStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("cdc").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      ms.addData(batch3); q.processAllAvailable()
    } finally q.stop()
    // update-style emission: the sink's LAST row per key is the key's
    // current state; a delete is OBSERVABLE as a tombstone marker row
    // (last_op='error') — a last-emission-per-key consumer drops the key
    val perBatch = spark.table("cdc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // user 1: batch1 emitted (1,2,view,2.0); batch2's late event re-emitted
    // the UNCHANGED current row
    assert(perBatch.count(_._1 == 1L) == 2)
    assert(perBatch.filter(_._1 == 1L).toSet == Set((1L, 2L, "view", 2.0)))
    // user 2: batch1 emitted live state, batch2 emitted the tombstone
    // MARKER (not silence), batch3's late pre-tombstone change re-emitted
    // the held tombstone — so the last row per key shows the delete
    assert(perBatch.filter(_._1 == 2L) sameElements Array(
      (2L, 3L, "click", 3.0), (2L, 5L, "error", 0.0), (2L, 5L, "error", 0.0)))
    // batch run over the concatenated log: per-key latest event INCLUDING
    // the tombstone marker (the feed contract; rel_cdc_apply filters it)
    val all = batch1 ++ batch2 ++ batch3
    val streamedFinal = Streaming.cdcApplyStream(all.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(streamedFinal == Set(
      (1L, 2L, "view", 2.0), (2L, 5L, "error", 0.0), (3L, 4L, "view", 4.0)))
  }

  test("streaming gap-pair feed: cross-batch window pairs emit, beyond-gap pairs do not") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // u1: click 10:00, view 10:30 (same batch, in gap), purchase 11:15
    //     (batch 2 — pairs with view@10:30 across the batch boundary but
    //      NOT with click@10:00, which is 75 min earlier AND pruned)
    // u2: view 10:00, click 12:00 (beyond gap — must emit nothing)
    val batch1 = Seq(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
      Ev(t("2024-01-01 10:30:00"), 1, "view", 1.0, 2),
      Ev(t("2024-01-01 10:00:00"), 2, "view", 1.0, 3))
    val batch2 = Seq(
      Ev(t("2024-01-01 11:15:00"), 1, "purchase", 1.0, 4),
      Ev(t("2024-01-01 12:00:00"), 2, "click", 1.0, 5))
    val ms = MemoryStream[Ev]
    val q = Streaming.seqGapStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("gappairs").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("gappairs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    val expected = Seq(
      (1L, "click", "view"),      // 10:00 → 10:30, in gap
      (1L, "view", "purchase")).sorted // 10:30 → 11:15 ACROSS batches
    assert(streamed == expected)
    // single-batch static run agrees
    val static = Streaming.seqGapStream((batch1 ++ batch2).toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(static == expected)
    // the declared batch key over the real events table equals the
    // hour-bin range-join mining key row for row
    val viaStream = Streaming.streamSeqGap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val viaBin = operators.Mining.fpmSeqGap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaStream == viaBin)
  }

  test("chaos: seq_gap buffer is gap-TTL'd — evicted history never pairs, re-arrival is clean") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // user 1: an in-gap pair, then >1h silence, then fresh activity —
    // the fresh events must pair only among themselves (the silence
    // evicted the old buffer). user 2: one event, 4h of silence, then
    // re-arrival — the re-arrived key starts clean AND keeps working
    // (a later in-gap event pairs with it).
    val b1 = Seq(Ev(t("2024-01-01 10:00:00"), 1, "A", 1.0, 1),
                 Ev(t("2024-01-01 10:30:00"), 1, "B", 1.0, 2),
                 Ev(t("2024-01-01 09:00:00"), 2, "A", 1.0, 3))
    val b2 = Seq(Ev(t("2024-01-01 12:30:00"), 1, "C", 1.0, 4))
    val b3 = Seq(Ev(t("2024-01-01 12:45:00"), 1, "D", 1.0, 5),
                 Ev(t("2024-01-01 13:00:00"), 2, "B", 1.0, 6))
    val b4 = Seq(Ev(t("2024-01-01 13:20:00"), 2, "C", 1.0, 7))
    val ms = MemoryStream[Ev]
    val q = Streaming.seqGapStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("gapchaos").start()
    def emitted(): Seq[(Long, String, String)] =
      spark.table("gapchaos").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    try {
      ms.addData(b1); q.processAllAvailable()
      assert(emitted().sorted == Seq((1L, "A", "B")))
      ms.addData(b2); q.processAllAvailable()
      // C is >1h after A and B: state must NOT pair across the silence
      assert(emitted().sorted == Seq((1L, "A", "B")))
      ms.addData(b3); q.processAllAvailable()
      // D pairs with C only (both post-silence); user 2's re-arrival
      // after 4h pairs with nothing
      assert(emitted().sorted == Seq((1L, "A", "B"), (1L, "C", "D")))
      ms.addData(b4); q.processAllAvailable()
      // the re-arrived key keeps functioning: 13:20 pairs with 13:00
      assert(emitted().sorted ==
        Seq((1L, "A", "B"), (1L, "C", "D"), (2L, "B", "C")))
    } finally q.stop()
    // multi-batch ≡ single static run on the concatenated feed
    val static = Streaming.seqGapStream((b1 ++ b2 ++ b3 ++ b4).toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(static == emitted().sorted)
  }

  test("chaos: cdc tombstone retained — late pre-tombstone change cannot resurrect the key") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.cdcApplyStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("cdcchaos").start()
    def rows(): Seq[(Long, Long, String, Double)] =
      spark.table("cdcchaos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    try {
      ms.addData(Seq(Ev(t("2024-01-01 10:00:00"), 1, "click", 5.0, 1)))
      q.processAllAvailable()
      assert(rows().last == ((1L, 1L, "click", 5.0)))
      // tombstone: the delete MUST be observable downstream
      ms.addData(Seq(Ev(t("2024-01-01 11:00:00"), 1, "error", 0.0, 2)))
      q.processAllAvailable()
      assert(rows().last == ((1L, 2L, "error", 0.0)))
      // LATE out-of-order pre-tombstone change: the retained tombstone
      // wins — the key is NOT resurrected, the emission re-states the
      // marker (sink's last-row-per-key contract stays the delete)
      ms.addData(Seq(Ev(t("2024-01-01 10:30:00"), 1, "view", 9.0, 3)))
      q.processAllAvailable()
      assert(rows().size == 3 && rows().last == ((1L, 2L, "error", 0.0)),
        s"late pre-tombstone change resurrected the key: ${rows()}")
      // a genuinely NEWER change re-creates the key (CDC latest-wins)
      ms.addData(Seq(Ev(t("2024-01-01 12:00:00"), 1, "purchase", 7.0, 4)))
      q.processAllAvailable()
      assert(rows().last == ((1L, 4L, "purchase", 7.0)))
    } finally q.stop()
    // multi-batch end state ≡ one-shot batch run over the same feed —
    // and state per key stayed ONE tuple throughout (the retention
    // bound: the tombstone lives in the same fixed-size slot)
    val batchEnd = Streaming.cdcApplyStream(Seq(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 5.0, 1),
        Ev(t("2024-01-01 11:00:00"), 1, "error", 0.0, 2),
        Ev(t("2024-01-01 10:30:00"), 1, "view", 9.0, 3),
        Ev(t("2024-01-01 12:00:00"), 1, "purchase", 7.0, 4)).toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    assert(batchEnd == Seq((1L, 4L, "purchase", 7.0)))
  }

  test("SpaceSaving heavy hitters: multi-batch last-emission state equals batch; shrunk capacity evicts by the book") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    def ev(uid: Long, id: Long) = Ev(t("2024-01-01 10:00:00"), uid, "click", 1.0, id)
    // --- multi-batch equivalence at un-evicted capacity: the sink's
    // last emission per user must be the exact cross-batch count
    val batch1 = Seq(ev(1, 1), ev(1, 2), ev(2, 3))
    val batch2 = Seq(ev(1, 4), ev(2, 5), ev(3, 6))
    val ms = MemoryStream[Ev]
    val q = Streaming.heavyHittersStream(ms.toDF())
      .writeStream.outputMode("append").format("memory").queryName("hh").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val lastPerUser = spark.table("hh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).zipWithIndex
      .groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1).values.toSet
    assert(lastPerUser == Set((1L, 3L, 0L), (2L, 2L, 0L), (3L, 1L, 0L)))
    val oneShot = Streaming.heavyHittersStream((batch1 ++ batch2).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(oneShot == lastPerUser)
    // --- shrunk capacity (1 shard, 2 counters): the SpaceSaving
    // replacement bookkeeping must be live — a novel key beyond
    // capacity evicts the min counter and inherits its count as err
    val skew = Seq(ev(1, 1), ev(1, 2), ev(1, 3), ev(1, 4), // u1 x4
      ev(2, 5), ev(2, 6),                                  // u2 x2
      ev(3, 7))                                            // u3 x1 -> evicts u2
    val summary = Streaming.heavyHittersStream(skew.toDF(), shards = 1, capacity = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(summary == Set((1L, 4L, 0L), (3L, 3L, 2L)),
      s"SpaceSaving replacement diverged: $summary")
    // the guarantee: true count <= est <= true + err, and every key with
    // count > N/capacity (7/2) is retained (u1)
    assert(summary.exists(_._1 == 1L))
    summary.foreach { case (u, est, err) =>
      val truth = skew.count(_.user_id == u)
      assert(truth <= est && est <= truth + err, s"u$u est=$est err=$err truth=$truth")
    }
  }

  test("chaos: SpaceSaving eviction works across batch boundaries — carried counters evict and inherit err") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    def ev(uid: Long, id: Long) = Ev(t("2024-01-01 10:00:00"), uid, "click", 1.0, id)
    // batch 1 fills the 2-counter summary; batch 2's novel key must evict
    // the carried min counter (u2, count 2) and inherit its count as err —
    // the replacement has to work against STATE, not just in-batch data
    val b1 = Seq(ev(1, 1), ev(1, 2), ev(1, 3), ev(2, 4), ev(2, 5))
    val b2 = Seq(ev(3, 6), ev(3, 7))
    val ms = MemoryStream[Ev]
    val q = Streaming.heavyHittersStream(ms.toDF(), shards = 1, capacity = 2)
      .writeStream.outputMode("append").format("memory").queryName("hhx").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val all = spark.table("hhx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // batch-1 emission: exact fill
    assert(all.take(2).toSet == Set((1L, 3L, 0L), (2L, 2L, 0L)), all.mkString(","))
    // batch-2 emission: u3 evicted u2 (min carried counter), est = 2+1
    // then +1 for its second event, err = the evicted count
    assert(all.drop(2).toSet == Set((1L, 3L, 0L), (3L, 4L, 2L)), all.mkString(","))
    // and the multi-batch end state equals the one-shot run of the feed
    val oneShot = Streaming.heavyHittersStream((b1 ++ b2).toDF(), 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(oneShot == all.drop(2).toSet)
  }

  test("chaos: neardup per-bucket cap drops the past-cap signature but still checks arrivals against retained state") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // find two texts whose simhashes collide in EXACTLY one 16-bit band
    // while sitting hamming > 3 apart — the pigeonhole near-miss that
    // lands in one shared bucket without being near-dups
    val cand = (0 until 1500).map(i =>
      Doc(i.toLong, (0 until 12).map(j => s"w${(i * 37 + j * 11) % 997}x$j").mkString(" ")))
    val sigs = cand.toDF().select(col("doc_id"), expr(Streaming.SimhashExprSql).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def keys(s: Long) = (0 until 4).map(b => (s >> (b * 16)) & 0xFFFFL)
    val pair = (for {
      (da, sa) <- sigs.iterator; (db, sb) <- sigs.iterator
      if da < db && java.lang.Long.bitCount(sa ^ sb) > 3
      shared = (0 until 4).filter(b => keys(sa)(b) == keys(sb)(b))
      if shared.size == 1
    } yield (da, db, shared.head)).take(1).toList
    assert(pair.nonEmpty, "no single-band 16-bit collision in 1500 candidates")
    val (ia, ib, band) = pair.head
    val textA = cand(ia.toInt).text
    val textB = cand(ib.toInt).text
    // cap = 2: A(1), A(2) fill the shared bucket; B(3) must be checked
    // (silently — hamming > 3) but NOT retained there; B(4) then finds
    // B(3) only in the three uncapped bands; A(5) is still checked
    // against the retained pair in the capped bucket
    val feed = Seq(Doc(1, textA), Doc(2, textA), Doc(3, textB),
      Doc(4, textB), Doc(5, textA))
    val out = Streaming.neardupStreamCapped(feed.toDF(), 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.filter(_._1 == 2L).toSet ==
      (0 until 4).map(b => (2L, b, 1L)).toSet, s"doc2 (below cap): $out")
    assert(out.count(_._1 == 3L) == 0, s"doc3 must be silent: $out")
    assert(out.filter(_._1 == 4L).toSet ==
      (0 until 4).filter(_ != band).map(b => (4L, b, 3L)).toSet,
      s"doc4 must miss band $band (doc3's signature dropped at cap) " +
        s"and hit the rest: $out")
    assert(out.filter(_._1 == 5L).toSet ==
      (0 until 4).map(b => (5L, b, 1L)).toSet,
      s"doc5 (past cap) must still be CHECKED everywhere: $out")
  }

  test("chaos: cross-batch out-of-order events take ARRIVAL-ORDER semantics in running seq and transition feeds") {
    val sp = spark
    import sp.implicits._
    implicit val ctx = sp.sqlContext
    // The documented envelope (scaladoc on transitionStream/runningSeq):
    // in-batch disorder is repaired by the (ts, event_id) sort; a
    // CROSS-BATCH late event cannot retroactively renumber or re-chain
    // what already emitted — it appends in arrival order. Pin both the
    // streamed arrival-order result AND its divergence from the one-shot
    // ts-order run, so the envelope is explicit, not accidental.
    val b1 = Seq(Ev(t("2024-01-01 10:00:00"), 1, "A", 1.0, 1),
      Ev(t("2024-01-01 10:10:00"), 1, "B", 1.0, 2))
    val late = Ev(t("2024-01-01 09:50:00"), 1, "C", 1.0, 3) // older than both
    val b3 = Seq(Ev(t("2024-01-01 10:20:00"), 1, "D", 1.0, 4))

    val msS = MemoryStream[Ev]
    val qS = Streaming.runningSeq(msS.toDF())
      .writeStream.outputMode("append").format("memory").queryName("oosseq").start()
    try {
      msS.addData(b1); qS.processAllAvailable()
      msS.addData(Seq(late)); qS.processAllAvailable()
      msS.addData(b3); qS.processAllAvailable()
    } finally qS.stop()
    val seqStreamed = spark.table("oosseq").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(seqStreamed == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)),
      s"late arrival must APPEND, not renumber: $seqStreamed")
    val seqBatch = Streaming.runningSeq((b1 ++ Seq(late) ++ b3).toDF())
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(seqBatch == Set((3L, 1L), (1L, 2L), (2L, 3L), (4L, 4L)),
      s"one-shot run must be ts-ordered: $seqBatch")

    val msT = MemoryStream[Ev]
    val qT = Streaming.transitionStream(msT.toDF())
      .writeStream.outputMode("append").format("memory").queryName("oostr").start()
    try {
      msT.addData(b1); qT.processAllAvailable()
      msT.addData(Seq(late)); qT.processAllAvailable()
      msT.addData(b3); qT.processAllAvailable()
    } finally qT.stop()
    val trStreamed = spark.table("oostr").collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(trStreamed == Set(("A", "B"), ("B", "C"), ("C", "D")),
      s"late arrival must chain from the carried state: $trStreamed")
    val trBatch = Streaming.transitionStream((b1 ++ Seq(late) ++ b3).toDF())
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(trBatch == Set(("C", "A"), ("A", "B"), ("B", "D")),
      s"one-shot run must chain in ts order: $trBatch")
  }

  // ------------------------------------------ checkpoint recovery (restart)

  /** Drive `transform` over a FILE-source stream with a real checkpoint
    * dir: each phase appends one parquet file to the source dir, starts
    * a FRESH query from the SAME checkpoint, drains, and stops. From
    * phase 1 on, per-group state reaches the new query only by loading
    * the state store's checkpoint files (a restarted run has a new
    * runId, so the provider's in-memory cache cannot serve it) — the
    * recovery path MemoryStream tests never exercise, and the only
    * place the state types round-trip through the store's serializer
    * across query lifetimes. Returns each phase's emissions separately
    * (the memory sink is not recovered across restarts, so phase i's
    * table captures exactly run i's output — which also proves the
    * restarted source did NOT reprocess committed files). */
  private def runWithRestarts(tag: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      phases: Seq[org.apache.spark.sql.DataFrame]): Seq[Seq[org.apache.spark.sql.Row]] = {
    val base = tempDir(s"ck-$tag")
    val schema = phases.head.schema
    phases.zipWithIndex.map { case (df, i) =>
      df.coalesce(1).write.mode("append").parquet(s"$base/src")
      // foreachBatch, not the memory sink: memory is not fault-tolerant
      // and Spark refuses to restart it from a checkpoint. The per-run
      // driver-side buffer captures exactly run i's emissions.
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val q = transform(spark.readStream.schema(schema).parquet(s"$base/src"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ck")
        .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = bdf.collect()
          buf.synchronized { buf ++= rows }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.synchronized { buf.toSeq }
    }
  }

  /** Shared two-phase events fixture: per-user in-order across phases
    * (the documented envelope), with a cross-restart adjacency (u1
    * event 2→5), a beyond-gap step (u2 event 4→6, 100 min), a
    * tombstone arriving after restart (u2 event 8), and a user first
    * seen after restart (u3). */
  private def ckPhase1 = Seq(
    Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0, 1),
    Ev(t("2024-01-01 10:05:00"), 1, "view", 2.0, 2),
    Ev(t("2024-01-01 10:00:00"), 2, "view", 4.0, 3),
    Ev(t("2024-01-01 10:20:00"), 2, "click", 8.0, 4))
  private def ckPhase2 = Seq(
    Ev(t("2024-01-01 10:30:00"), 1, "purchase", 16.0, 5),
    Ev(t("2024-01-01 12:00:00"), 2, "view", 32.0, 6),
    Ev(t("2024-01-01 10:40:00"), 3, "click", 64.0, 7),
    Ev(t("2024-01-01 12:10:00"), 2, "error", 0.0, 8))

  private def ckRecoverySeq(): Unit = {
    val sp = spark
    import sp.implicits._
    val out = runWithRestarts("seq", Streaming.runningSeq,
      Seq(ckPhase1.toDF(), ckPhase2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = trip(Streaming.runningSeq((ckPhase1 ++ ckPhase2).toDF()).collect().toSeq)
    assert(trip(out.flatten).sorted == batch.sorted,
      s"restarted run diverged from batch: ${trip(out.flatten).sorted}")
    // the recovered run processed ONLY the new file (no offset replay)...
    assert(trip(out(1)).map(_._2).toSet == ckPhase2.map(_.event_id).toSet)
    // ...yet numbered u1's event 5 as seq=3: state really was recovered
    assert(trip(out(1)).contains((1L, 5L, 3L)),
      s"u1 did not resume at 3 — state lost on restart: ${trip(out(1))}")
  }

  private def ckRecoveryEwma(): Unit = {
    val sp = spark
    import sp.implicits._
    val out = runWithRestarts("ewma", Streaming.ewmaStream,
      Seq(ckPhase1.toDF(), ckPhase2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = trip(Streaming.ewmaStream((ckPhase1 ++ ckPhase2).toDF()).collect().toSeq)
    assert(trip(out.flatten).sorted == batch.sorted)
    // u1 across the restart: 1.0, then 1.5, then 0.5*1.5 + 0.5*16 = 8.75
    assert(trip(out(1)).contains((1L, 5L, 8.75)),
      s"u1's smoothed value did not chain across restart: ${trip(out(1))}")
  }

  private def ckRecoveryTrans(): Unit = {
    val sp = spark
    import sp.implicits._
    val out = runWithRestarts("trans", Streaming.transitionStream,
      Seq(ckPhase1.toDF(), ckPhase2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batch = trip(Streaming.transitionStream((ckPhase1 ++ ckPhase2).toDF()).collect().toSeq)
    assert(trip(out.flatten).sorted == batch.sorted)
    // the adjacency whose FROM side committed before the stop
    assert(trip(out(1)).contains((1L, "view", "purchase")),
      s"cross-restart adjacency missing — TransState lost: ${trip(out(1))}")
  }

  private def ckRecoveryGap(): Unit = {
    val sp = spark
    import sp.implicits._
    val out = runWithRestarts("gap", Streaming.seqGapStream,
      Seq(ckPhase1.toDF(), ckPhase2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batch = trip(Streaming.seqGapStream((ckPhase1 ++ ckPhase2).toDF()).collect().toSeq)
    assert(trip(out.flatten).sorted == batch.sorted)
    val run2 = trip(out(1))
    // pairs whose LEFT endpoint committed before the stop: the recovered
    // GapPairState buffer is live
    assert(run2.contains((1L, "click", "purchase")) &&
      run2.contains((1L, "view", "purchase")),
      s"cross-restart pairs missing — buffer lost: $run2")
    // u2's 12:00 event is 100 min past both buffered events: the
    // recovered buffer must TTL them out, not pair against them
    assert(!run2.exists(p => p._1 == 2L && p._3 == "view"),
      s"beyond-gap pair emitted from stale recovered buffer: $run2")
  }

  private def ckRecoveryCdc(): Unit = {
    val sp = spark
    import sp.implicits._
    val out = runWithRestarts("cdc", Streaming.cdcApplyStream,
      Seq(ckPhase1.toDF(), ckPhase2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // sink contract: last emission per key = current state
    def lastPerKey(rs: Seq[(Long, Long, String, Double)]) =
      rs.foldLeft(Map.empty[Long, (Long, Long, String, Double)]) {
        (m, r) => m + (r._1 -> r) }.values.toSet
    val batch = trip(Streaming.cdcApplyStream((ckPhase1 ++ ckPhase2).toDF()).collect().toSeq)
    assert(lastPerKey(trip(out.flatten)) == lastPerKey(batch),
      s"recovered CDC state diverged: ${lastPerKey(trip(out.flatten))}")
    // u2's tombstone arrived AFTER the restart and must win over the
    // recovered pre-stop state
    assert(lastPerKey(trip(out.flatten)).contains((2L, 8L, "error", 0.0)))
  }

  private def ckRecoveryHh(): Unit = {
    val sp = spark
    import sp.implicits._
    val out = runWithRestarts("hh",
      (df: org.apache.spark.sql.DataFrame) => Streaming.heavyHittersStream(df),
      Seq(ckPhase1.toDF(), ckPhase2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def lastPerKey(rs: Seq[(Long, Long, Long)]) =
      rs.foldLeft(Map.empty[Long, (Long, Long, Long)]) {
        (m, r) => m + (r._1 -> r) }.values.toSet
    val batch = trip(Streaming.heavyHittersStream(
      (ckPhase1 ++ ckPhase2).toDF()).collect().toSeq)
    assert(lastPerKey(trip(out.flatten)) == lastPerKey(batch),
      s"recovered summaries diverged: ${lastPerKey(trip(out.flatten))}")
    // u2 had 2 events before the stop and 2 after: est=4 only if the
    // recovered counter carried the pre-stop count
    assert(lastPerKey(trip(out.flatten)).contains((2L, 4L, 0L)),
      s"u2's counter did not resume: ${lastPerKey(trip(out.flatten))}")
  }

  private def ckRecoveryNdup(): Unit = {
    val sp = spark
    import sp.implicits._
    val p1 = Seq(Doc(1, "alpha beta gamma"), Doc(2, "alpha beta gamma"),
      Doc(3, "totally different words here"))
    val p2 = Seq(Doc(4, "alpha beta gamma"), Doc(5, "unrelated brand new text"))
    val out = runWithRestarts("ndup", Streaming.neardupStream,
      Seq(p1.toDF(), p2.toDF()))
    def trip(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val batch = trip(Streaming.neardupStream((p1 ++ p2).toDF()).collect().toSeq)
    assert(trip(out.flatten).sorted == batch.sorted)
    // doc4's duplicate emission exists ONLY if doc1/doc2's signatures
    // were recovered from the checkpointed List state
    assert(trip(out(1)).toSet == (0 until 4).map(b => (4L, b, 1L)).toSet,
      s"doc4 must dup against recovered doc1 in all 4 bands: ${trip(out(1))}")
  }

  /** The seven flatMapGroupsWithState recovery shapes, each restarting a
    * real checkpoint (see [[runWithRestarts]]); run under BOTH state
    * store providers — per-shape tests on the default HDFS-backed
    * provider, one sweep on RocksDB (checkpoint layout, serializer
    * round-trip, and snapshot/changelog recovery all differ there). */
  private val ckRecoveryShapes = Seq(
    "running seq resumes numbering from the recovered Long state" -> (() => ckRecoverySeq()),
    "EWMA resumes bit-for-bit from the recovered (Boolean, Double) state" -> (() => ckRecoveryEwma()),
    "transition feed chains the cross-restart adjacency from recovered state" -> (() => ckRecoveryTrans()),
    "gap-pair buffer survives restart, beyond-gap history stays pruned" -> (() => ckRecoveryGap()),
    "CDC latest-wins state and tombstones hold across restart" -> (() => ckRecoveryCdc()),
    "SpaceSaving summaries resume counting from recovered counters" -> (() => ckRecoveryHh()),
    "near-dup signatures recovered — a post-restart arrival dups against a pre-stop doc" -> (() => ckRecoveryNdup()))

  ckRecoveryShapes.foreach { case (name, body) =>
    test(s"checkpoint recovery: $name")(body())
  }

  test("checkpoint recovery under RocksDB: all seven state shapes restart from RocksDB checkpoints") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try ckRecoveryShapes.foreach(_._2())
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("foreachBatch exactly-once: a replayed batch duplicates an append sink but not an overwrite-by-batchId sink") {
    val sp = spark
    import sp.implicits._
    // The documented sink contract (Streaming object scaladoc): recovery
    // replays an uncommitted micro-batch with the SAME batchId, so
    // append-only feeds are exactly-once iff the sink writes
    // overwrite-by-batchId. Simulate the crash window — stop after the
    // batch's offset+commit are written, then DELETE the commit record,
    // so the restart believes batch 0 never finished and re-runs it.
    val base = tempDir("replay")
    val schema = ckPhase1.toDF().schema
    val appendLog = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def start() = Streaming.runningSeq(
        spark.readStream.schema(schema).parquet(s"$base/src"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ck")
      .foreachBatch { (bdf: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        bdf.persist()
        try {
          // naive append sink: at-least-once (duplicates on replay)
          val rows = bdf.collect().map(r =>
            (bid, r.getLong(0), r.getLong(1), r.getLong(2)))
          appendLog.synchronized { appendLog ++= rows }
          // idempotent sink: overwrite the batch's own location
          bdf.write.mode("overwrite").parquet(s"$base/sink/batch=$bid")
        } finally bdf.unpersist()
        ()
      }
      .start()
    ckPhase1.toDF().coalesce(1).write.mode("append").parquet(s"$base/src")
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    val commits = new java.io.File(s"$base/ck/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    val lastCommit = commits.sortBy(_.getName.toInt).last
    // remove the checksum sibling too or the local FS refuses the
    // replayed batch's commit rename
    new java.io.File(lastCommit.getParent, s".${lastCommit.getName}.crc").delete()
    lastCommit.delete()
    val q2 = start(); try q2.processAllAvailable() finally q2.stop() // replays batch 0
    ckPhase2.toDF().coalesce(1).write.mode("append").parquet(s"$base/src")
    val q3 = start(); try q3.processAllAvailable() finally q3.stop() // batch 1
    val log = appendLog.synchronized { appendLog.toList }
    // the replay REALLY happened: batch 0's emissions landed twice in
    // the append sink, once per (identical, deterministic) execution
    val b0 = log.filter(_._1 == 0L)
    assert(b0.size == 2 * ckPhase1.size && b0.toSet.size == ckPhase1.size,
      s"expected batch 0 exactly twice with identical rows: $log")
    // the overwrite-by-batchId sink holds each row exactly once and
    // equals the uninterrupted batch run
    val sink = spark.read.parquet(s"$base/sink")
      .select("user_id", "event_id", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = Streaming.runningSeq((ckPhase1 ++ ckPhase2).toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sink.sorted == batch.sorted,
      s"idempotent sink diverged: ${sink.sorted} vs ${batch.sorted}")
  }
}

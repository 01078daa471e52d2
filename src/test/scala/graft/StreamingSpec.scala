package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{StreamCdc, StreamSessionize, StreamingOps}

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = TestSession.sf

  test("streaming tumbling-window agg equals the batch operator (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = streamDf.writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"))
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
      val batch = StreamingOps.tumbling(spark, sf)
        .select(col("window_start"), col("event_type"), col("n_events"))
        .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming zscore alerts equal the batch operator (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val ev = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
    val q = StreamingOps.zscoreAlertsImpl(ev, Tables.events(spark, sf))
      .writeStream.format("memory").queryName("zalert_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_outliers"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val streamed = key(spark.table("zalert_out"))
      assert(streamed.nonEmpty, "no outlier windows in the stream output")
      assert(streamed == key(StreamingOps.zscoreAlerts(spark, sf)))
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp"), col("user_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val ev = mem.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "1 hour")
    val q = StreamingOps.enrichFromEvents(ev, spark, sf)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("window_start").cast("string"), col("nation"),
          col("n_events"), col("sum_value").cast("string"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(key(spark.table("enrich_out")) == key(StreamingOps.enrich(spark, sf)))
    } finally q.stop()
  }

  test("append mode with watermark emits exactly the closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-02-01 $h%02d:30:00")
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq((ts(1), 1.0), (ts(2), 2.0), (ts(7), 3.0)))
      q.processAllAvailable() // watermark -> 06:30: closes ONLY 00-06
      val early = spark.table("wm_out")
        .select(col("window.start").cast("string"), col("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      mem.addData(Seq((ts(20), 4.0)))
      q.processAllAvailable() // watermark -> 19:30: closes 06-12 too
      val rows = spark.table("wm_out")
        .select(col("window.start").cast("string"), col("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(early == Set(("2024-02-01 00:00:00", 2L)),
        s"expected only the 00-06 window after the first watermark: $early")
      assert(rows == Set(("2024-02-01 00:00:00", 2L), ("2024-02-01 06:00:00", 1L)), rows)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"),
        col("event_type"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("e_id"), col("ts").as("e_ts"))

    val memP = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val memE = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sp = memP.toDF().toDF("p_user", "p_id", "p_ts").withWatermark("p_ts", "1 hour")
    val se = memE.toDF().toDF("e_user", "e_id", "e_ts").withWatermark("e_ts", "1 hour")
    val joined = sp.join(se,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("e_ts") <= col("p_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      memP.addData(purch.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq)
      memE.addData(errs.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").select("p_id", "e_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = purch.join(errs,
        col("p_user") === col("e_user") &&
          col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("e_ts") <= col("p_ts"))
        .select("p_id", "e_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming sliding-window agg equals the batch operator (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "24 hours", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("sliding_out")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .select(col("w.start").cast("timestamp_ntz").cast("string"),
          col("event_type"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = StreamingOps.sliding(spark, sf)
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch && batch.nonEmpty)
      // every event lands in exactly 4 overlapping windows
      val nEvents = Tables.events(spark, sf).count()
      val totalAcrossWindows = StreamingOps.sliding(spark, sf)
        .agg(sum(col("n_events"))).collect()(0).getLong(0)
      assert(totalAcrossWindows == 4 * nEvents)
    } finally q.stop()
  }

  test("stream_topk: ranking the streamed window counts equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp"), col("event_type"))
      .as[(java.sql.Timestamp, String)].collect().toSeq
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("topk_counts")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      // per-epoch evaluation: the SAME rank stage the batch operator
      // uses, applied to the streamed aggregate state
      val streamed = StreamingOps.rankWindows(
        spark.table("topk_counts")
          .select(col("w.start").cast("timestamp_ntz").as("window_start"),
            col("event_type"), col("n_events")))
        .collect()
        .map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getInt(3)))
        .toSet
      val batch = StreamingOps.topkPerWindow(spark, sf)
        .collect()
        .map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getInt(3)))
        .toSet
      assert(streamed == batch && batch.nonEmpty)
      // rank never exceeds k and is dense from 1 within a window
      val byWindow = batch.groupBy(_._1)
      byWindow.values.foreach { rs =>
        val ranks = rs.map(_._4).toSeq.sorted
        assert(ranks == (1 to ranks.size), s"ranks not dense: $ranks")
        assert(ranks.size <= 3)
      }
    } finally q.stop()
  }

  test("stream_cdc: stateful apply equals batch; tombstones delete and revive") {
    implicit val sqlCtx = spark.sqlContext
    // 1) one-batch equivalence on the real table
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"),
        col("event_type"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, String, Option[Double])]
      .collect().map(t => StreamCdc.ChangeIn(t._1, t._2, t._3, t._4, t._5)).toSeq
    val mem = MemoryStream[StreamCdc.ChangeIn]
    val q = StreamCdc(mem.toDS()).writeStream.format("memory")
      .queryName("cdc_out").outputMode(OutputMode.Update).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      // updated_at compares too: the streamed state must carry full
      // microseconds, exactly like the batch pass-through
      val streamed = spark.table("cdc_out")
        .select(col("user_id"), col("last_op"), col("current_value"),
          col("updated_at").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.toString), r.getString(3))).toSet
      val batch = StreamingOps.cdcApply(spark, sf)
        .select(col("user_id"), col("last_op"), col("current_value"),
          col("updated_at").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.toString), r.getString(3))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()

    // 2) delete/revive semantics across micro-batches
    def ch(u: Long, id: Long, t: String, sec: Int, v: Double) =
      StreamCdc.ChangeIn(u, id, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"),
        t, Some(v))
    val mem2 = MemoryStream[StreamCdc.ChangeIn]
    val q2 = StreamCdc(mem2.toDS()).writeStream.format("memory")
      .queryName("cdc_tomb").outputMode(OutputMode.Update).start()
    try {
      mem2.addData(Seq(ch(1, 1, "purchase", 1, 1.0), ch(2, 2, "view", 2, 2.0)))
      q2.processAllAvailable()
      mem2.addData(Seq(ch(1, 3, "error", 3, 0.0), ch(2, 4, "purchase", 4, 5.0)))
      q2.processAllAvailable()
      val afterDelete = spark.table("cdc_tomb")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      // u1's delete emits nothing; u2 re-emits with the new value
      assert(afterDelete.count(_._1 == 1L) == 1, "tombstone must not emit")
      assert(afterDelete.filter(_._1 == 2L).map(_._3).toSet == Set(2.0, 5.0))
      mem2.addData(Seq(ch(1, 5, "view", 5, 9.0)))
      q2.processAllAvailable()
      val revived = spark.table("cdc_tomb")
        .collect().filter(r => r.getLong(0) == 1L).map(_.getString(1))
      assert(revived.toSeq.sorted == Seq("purchase", "view"),
        "a newer change must revive a tombstoned key")
    } finally q2.stop()
  }

  test("stream_join operator: two watermarked streams equal its batch evaluation") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp"),
        col("event_type"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, String, Double)].collect().toSeq
    val memE = MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
    val memP = MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
    def side(m: MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]) =
      m.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
        .withWatermark("ts", "1 hour")
    val q = StreamingOps.intervalJoinImpl(side(memE), side(memP))
      .writeStream.format("memory").queryName("sj_out")
      .outputMode(OutputMode.Append).start()
    try {
      memE.addData(rows); memP.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("sj_out").select("err_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = StreamingOps.intervalJoin(spark, sf).select("err_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("native session_window works under streaming with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 10:${m}%02d:00")
      mem.addData(Seq((1L, t(0), 1.0), (1L, t(10), 1.0), (1L, t(55), 1.0)))
      q.processAllAvailable()
      mem.addData(Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 14:00:00"), 1.0)))
      q.processAllAvailable() // watermark passes both earlier sessions
      val rows = spark.table("sw_out").select("n").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1L, 2L), rows.mkString(","))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedup matches the batch keyed dedup") {
    implicit val sqlCtx = spark.sqlContext
    // feed events in ts order so "first arrival" == "earliest ts" ==
    // the batch operator's keep-first semantics
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts").cast("timestamp"),
        col("event_id"))
      .orderBy("ts", "event_id")
      .as[(Long, String, java.sql.Timestamp, Long)].collect().toSeq
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val deduped = mem.toDF().toDF("user_id", "event_type", "ts", "event_id")
      .withColumn("hour_ts", date_trunc("hour", col("ts")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_ts")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).toSet
      val batch = StreamingOps.streamDedup(spark, sf).select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  // ---- RocksDB state-store durability: stop the query mid-state,
  // ---- restart from the checkpoint, and prove the recovered state
  // ---- (not a lucky re-read) produced the answer.

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def stateFiles(ckpt: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Paths.get(ckpt, "state")
    if (!java.nio.file.Files.exists(st)) Nil
    else java.nio.file.Files.walk(st).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq
  }

  test("stream_sessionize: RocksDB state survives stop + restart") {
    implicit val sqlCtx = spark.sqlContext
    import StreamSessionize.{EvIn, SessionOut}
    val ckpt = tempDir("graft_sess_ckpt")
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Double)]
    val mem = MemoryStream[EvIn]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def start() = StreamSessionize(mem.toDS(), gapMinutes = 30)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
        val rows = b.collect().map(r =>
          (r.user_id, r.session_id, r.n_events, r.sum_value))
        out.synchronized { out ++= rows }; ()
      }.start()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    try {
      val q1 = start()
      // phase 1: u1 opens a session (2 events), u2 opens one (1 event)
      mem.addData(Seq(EvIn(1, 1, t("2024-03-01 10:00:00"), 1.0),
        EvIn(1, 2, t("2024-03-01 10:10:00"), 2.0),
        EvIn(2, 3, t("2024-03-01 10:00:00"), 5.0)))
      q1.processAllAvailable()
      assert(out.isEmpty, "no session is closed yet — all state is open")
      q1.stop()
      // the state that must survive lives in RocksDB artifacts (zip
      // snapshots / changelogs), not the HDFS provider's .delta files
      val files = stateFiles(ckpt)
      assert(files.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"expected RocksDB snapshot files in the checkpoint, got $files")
      assert(!files.exists(_.endsWith(".delta")),
        s"HDFS-provider files present — RocksDB was not in effect: $files")
      // phase 2 (fresh query, same checkpoint): u1 CONTINUES the same
      // session (10:20 is within the gap), then 14:00 closes it; u2's
      // 14:00 closes theirs. If the open-session state had been lost,
      // u1's session would re-open at 10:20 and emit n_events=2.
      val q2 = start()
      mem.addData(Seq(EvIn(1, 4, t("2024-03-01 10:20:00"), 3.0),
        EvIn(1, 5, t("2024-03-01 14:00:00"), 1.0),
        EvIn(2, 6, t("2024-03-01 14:00:00"), 1.0)))
      q2.processAllAvailable()
      q2.stop()
      val got = out.synchronized(out.toSet)
      assert(got == Set((1L, 1L, 3L, 6.0), (2L, 1L, 1L, 5.0)),
        s"restarted query must resume from recovered open sessions: $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream_cdc: RocksDB state survives stop + restart (stale changes stay dead)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamCdc.{ChangeIn, CurrentOut}
    val ckpt = tempDir("graft_cdc_ckpt")
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, Option[Double])]
    val mem = MemoryStream[ChangeIn]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def start() = StreamCdc(mem.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[CurrentOut], _: Long) =>
        val rows = b.collect().map(r => (r.user_id, r.last_op, r.current_value))
        out.synchronized { out ++= rows }; ()
      }.start()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksProvider)
    try {
      val q1 = start()
      // phase 1: u1 upserted at 10:00, u2 tombstoned at 10:00
      mem.addData(Seq(ChangeIn(1, 1, t("2024-03-01 10:00:00"), "purchase", Some(7.0)),
        ChangeIn(2, 2, t("2024-03-01 10:00:00"), StreamCdc.DeleteOp, None)))
      q1.processAllAvailable()
      assert(out.synchronized(out.toSet) == Set((1L, "purchase", Some(7.0))))
      q1.stop()
      out.synchronized(out.clear())
      // phase 2 after restart: STALE changes (older ts) for both keys.
      // Last-writer-wins needs the recovered per-key (ts, id) state to
      // reject them: u1 must re-emit 10:00/purchase/7.0 (not the stale
      // view), u2 must stay tombstoned (emit nothing).
      val q2 = start()
      mem.addData(Seq(ChangeIn(1, 3, t("2024-03-01 09:00:00"), "view", Some(99.0)),
        ChangeIn(2, 4, t("2024-03-01 09:30:00"), "purchase", Some(55.0))))
      q2.processAllAvailable()
      q2.stop()
      val got = out.synchronized(out.toSet)
      assert(got == Set((1L, "purchase", Some(7.0))),
        s"stale pre-restart changes must lose against recovered state: $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("flatMapGroupsWithState sessionization matches the batch window-function form") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"), col("value"))
      .as[StreamSessionize.EvIn].collect().toSeq
    val mem = MemoryStream[StreamSessionize.EvIn]
    val sessions = StreamSessionize(mem.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .select("user_id", "session_id", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      // the stream emits CLOSED sessions; batch ground truth = all
      // sessions minus each user's final (still-open) one
      val batch = StreamingOps.sessionize(spark, sf)
      val lastPerUser = batch.groupBy("user_id")
        .agg(max("session_id").as("last_sid"))
      val closedBatch = batch.join(lastPerUser, "user_id")
        .filter(col("session_id") < col("last_sid"))
        .select("user_id", "session_id", "n_events", "sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == closedBatch)
    } finally q.stop()
  }

  test("streaming ingest dedup == store batch replay, cross-batch " +
      "near-dup found, per-batch plan never scans base text") {
    implicit val sqlCtx = spark.sqlContext
    def words(seed: Int, n: Int) =
      (0 until n).map(i => s"w${(seed * 31 + i * 7) % 97}tok$i").mkString(" ")
    val base0Rows = Seq(
      (1L, words(1, 30)), (2L, words(2, 30)), (3L, words(3, 30)))
    // batch A: 100 near-dups base doc 2 (two words swapped), 101 new
    val nearOf2 = words(2, 30).replace("tok5", "edit5").replace("tok9", "edit9")
    val batchA = Seq((100L, nearOf2), (101L, words(7, 30)))
    // batch B: 200 exact-dups base doc 1; 201 near-dups 101 — a doc
    // that arrived in the PRIOR batch and was folded into the store
    // (the cross-batch case); 202 new
    val nearOf101 = words(7, 30).replace("tok3", "edit3")
    val batchB = Seq((200L, words(1, 30)), (201L, nearOf101),
      (202L, words(11, 30)))

    // base text lives ON DISK so the no-base-text-scan assertion has
    // a real path to catch: a regression back to re-shingling
    // batch ∪ base would put docsPath in the per-batch plan
    val docsPath = tempDir("graft_spec_ingest_docs")
    base0Rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docsPath)
    val storePath = tempDir("graft_spec_ingest_store")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, String, Long)]]
    val plans = scala.collection.mutable.Map.empty[Long, String]
    val q = StreamingOps.ingestDedup(
        mem.toDF().toDF("doc_id", "text"),
        spark.read.parquet(docsPath), storePath) { (id, verdict) =>
      got(id) = verdict.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      plans(id) = verdict.queryExecution.executedPlan.toString
    }
    try {
      mem.addData(batchA); q.processAllAvailable()
      mem.addData(batchB); q.processAllAvailable()
    } finally q.stop()

    // batch replay through a SECOND store: fold per batch, no stream
    val store2 = graft.operators.DedupFeatureStore.build(
      spark.read.parquet(docsPath), tempDir("graft_spec_ingest_store2"))
    val want = Seq(batchA, batchB).zipWithIndex.map { case (b, i) =>
      store2.fold(b.toDF("doc_id", "text"), i.toLong)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    assert(got.size == 2, s"two micro-batches expected, got ${got.keySet}")
    val gotOrdered = got.toSeq.sortBy(_._1).map(_._2)
    assert(gotOrdered == want, "stream verdicts == store batch replay")
    val all = gotOrdered.flatten.map(t => t._1 -> (t._2, t._3)).toMap
    assert(all(100L) == ("near_dup", 2L), "in-batch near-dup vs seed base")
    assert(all(101L) == ("new", -1L))
    assert(all(200L) == ("exact_dup", 1L))
    assert(all(201L) == ("near_dup", 101L),
      "cross-batch near-dup: twin of a PRIOR batch's doc")
    assert(all(202L) == ("new", -1L))

    // the scale guarantee, asserted on the EXECUTED per-batch plans:
    // every file scan reads the feature store; the base corpus'
    // text parquet appears in no micro-batch plan
    plans.foreach { case (id, p) =>
      assert(!p.contains(docsPath),
        s"batch $id plan scans base TEXT:\n$p")
      assert(p.contains(storePath),
        s"batch $id plan reads no store relations:\n$p")
    }
  }
}

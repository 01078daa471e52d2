package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EtlOps, Upsert}

/** The reference's write-path semantics (etl_job.py:224-274):
  * check-then-insert keyed on the hour — a re-run of the same data
  * must insert ZERO duplicate hour keys. */
class UpsertSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("upsertByKey inserts only absent hour keys; re-runs are no-ops") {
    val target = tempDir("graft_upsert") + "/telemetry"
    val full = EtlOps.dedupHour(spark, sf)
    val batch1 = full.filter(hour(col("hour_ts")) < 12)

    val n1 = Upsert.upsertByKey(spark, batch1, target, Seq("hour_ts"))
    assert(n1 == batch1.count())
    // the reference's exact skip behavior: same batch again → nothing
    assert(Upsert.upsertByKey(spark, batch1, target, Seq("hour_ts")) == 0L)
    // the full feed lands only the hours batch1 didn't cover
    val n2 = Upsert.upsertByKey(spark, full, target, Seq("hour_ts"))
    assert(n1 + n2 == full.count())
    assert(Upsert.upsertByKey(spark, full, target, Seq("hour_ts")) == 0L)
    // zero duplicate hour keys in the landed table
    val tgt = spark.read.parquet(target)
    assert(tgt.count() == tgt.select("hour_ts").distinct().count())
    assert(tgt.count() == full.count())
  }

  test("foreachBatch upsert sink lands overlapping micro-batches exactly once per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = tempDir("graft_stream_upsert")
    val target = base + "/t"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v")
      .writeStream
      .foreachBatch(Upsert.foreachBatchUpsert(target, Seq("k")))
      .option("checkpointLocation", base + "/ckpt")
      .start()
    try {
      mem.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      // second micro-batch REPLAYS key 2 (at-least-once delivery) and
      // adds key 3: the keyed sink must land each key exactly once
      mem.addData(Seq((2L, "b"), (3L, "c")))
      q.processAllAvailable()
      val rows = spark.read.parquet(target).as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("upsertByKeyLogged records inserted counts per run") {
    val base = tempDir("graft_upsert_log")
    val target = base + "/telemetry"
    val logDir = base + "/runs"
    val full = EtlOps.dedupHour(spark, sf)
    val n1 = Upsert.upsertByKeyLogged(spark, full, target, Seq("hour_ts"),
      logDir, "land_hourly")
    val n2 = Upsert.upsertByKeyLogged(spark, full, target, Seq("hour_ts"),
      logDir, "land_hourly")
    assert(n1 == full.count() && n2 == 0L)
    val log = spark.read.parquet(logDir)
      .select("status", "rows_inserted").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(log.toSeq == Seq(("success", 0L), ("success", n1)))
  }
}

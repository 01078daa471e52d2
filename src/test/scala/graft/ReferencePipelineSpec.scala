package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{ReferencePipeline, RunLog}

/** End-to-end parity with the reference's run() loop: one call lands
  * the validated hour-deduped batch idempotently and logs the run. */
class ReferencePipelineSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("pipeline cycle lands the batch once (all-valid feed => success); re-run => skipped") {
    val base = tempDir("graft_pipeline")
    val target = base + "/grid_telemetry"
    val logDir = base + "/etl_runs"
    val expected = ReferencePipeline.insertBatch(spark, sf).count()

    val n1 = ReferencePipeline.run(spark, sf, target, logDir)
    assert(n1 == expected && n1 > 0)
    // the reference's duplicate-prevention: a second cycle over the
    // same feed inserts nothing and the table keeps unique hour keys
    val n2 = ReferencePipeline.run(spark, sf, target, logDir)
    assert(n2 == 0L)
    val landed = spark.read.parquet(target)
    assert(landed.count() == expected)
    assert(landed.select("hour_ts").distinct().count() == expected)

    // run log: the stock feed passes every gate => success, and the
    // idempotent re-run records `skipped` (etl_job.py:236-238), not a
    // second success; the monitoring report counts only true successes
    val log = spark.read.parquet(logDir)
      .orderBy("run_timestamp", "name").collect()
    assert(log.map(_.getAs[String]("status")).toSeq == Seq("success", "skipped"))
    val report = RunLog.successReport(spark, logDir).collect()
    assert(report.map(_.getAs[Long]("total_runs")).sum == 2)
    assert(report.forall(_.getAs[Double]("success_rate_pct") == 50.0))
  }

  test("validation failures => partial run record, valid subset still lands") {
    val base = tempDir("graft_pipeline_part")
    // a feed with PLANTED quality failures — the reference's `partial`
    // trigger (etl_job.py:213-218): out-of-range values + unknown type
    val corrupted = Tables.events(spark, sf)
      .withColumn("value",
        when(col("event_id") % 50 === 0, lit(-5.0)).otherwise(col("value")))
      .withColumn("event_type",
        when(col("event_id") % 97 === 0, lit("mystery")).otherwise(col("event_type")))
    corrupted.write.parquet(base + "/feed/events.parquet")
    val feed = base + "/feed"
    val nInvalid = graft.operators.EtlOps.validate(spark, feed)
      .filter(!col("is_valid")).count()
    assert(nInvalid > 0)
    val expected = ReferencePipeline.insertBatch(spark, feed).count()

    val n = ReferencePipeline.run(spark, feed, base + "/t", base + "/runs")
    assert(n == expected && n > 0)
    val log = spark.read.parquet(base + "/runs").collect()
    assert(log.map(_.getAs[String]("status")).toSeq == Seq("partial"))
    assert(log.head.getAs[String]("error_message").contains(s"$nInvalid rows"))
    assert(log.head.getAs[Long]("rows_inserted") == expected)
    // only validated rows landed — known-bad telemetry stays out
    val landedIds = spark.read.parquet(base + "/t").select("event_id")
    val badLanded = landedIds.join(
      graft.operators.EtlOps.validate(spark, feed).filter(!col("is_valid")),
      "event_id").count()
    assert(badLanded == 0L)
  }

  test("terminal failure is logged before propagating") {
    val base = tempDir("graft_pipeline_fail")
    intercept[Throwable] {
      ReferencePipeline.run(spark, "/nonexistent_sf_dir", base + "/t",
        base + "/runs", maxAttempts = 2, baseDelayMs = 1)
    }
    val log = spark.read.parquet(base + "/runs").collect()
    assert(log.length == 2 && log.forall(_.getAs[String]("status") == "failure"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.RunLog

class RunLogSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("timed records success and failure runs; report aggregates them") {
    val dir = tempDir("graft_runlog") + "/runs"
    val n = RunLog.timed(spark, dir, "daily_rollup") {
      graft.operators.EtlOps.dailyCleanliness(spark, sf)
    }
    assert(n > 0)
    intercept[Throwable] {
      RunLog.timed(spark, dir, "broken_stage") {
        Tables.table(spark, "/nonexistent", "nope")
      }
    }
    val log = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("status"))).toSet
    assert(log == Set(("daily_rollup", "success"), ("broken_stage", "failure")))
    val report = RunLog.successReport(spark, dir).collect()
    assert(report.length == 1)
    assert(report(0).getAs[Long]("total_runs") == 2)
    assert(report(0).getAs[Long]("successful_runs") == 1)
    assert(report(0).getAs[Double]("success_rate_pct") == 50.0)
  }

  test("timedWithRetries retries transient failures and logs every attempt") {
    val dir = tempDir("graft_retry") + "/runs"
    var calls = 0
    val expected = Tables.region(spark, sf).count()
    val n = RunLog.timedWithRetries(spark, dir, "flaky", maxAttempts = 3,
      baseDelayMs = 1) {
      calls += 1
      if (calls < 3) sys.error("transient fetch failure")
      Tables.region(spark, sf)
    }
    assert(calls == 3 && n == expected)
    val statuses = spark.read.parquet(dir)
      .filter(col("name").startsWith("flaky"))
      .collect().map(r => (r.getAs[String]("name"), r.getAs[String]("status")))
      .toSet
    assert(statuses == Set(
      ("flaky attempt=1", "failure"),
      ("flaky attempt=2", "failure"),
      ("flaky attempt=3", "success")))
    // a permanent failure exhausts the attempts and propagates
    var deadCalls = 0
    intercept[RuntimeException] {
      RunLog.timedWithRetries(spark, dir, "dead", maxAttempts = 2, baseDelayMs = 1) {
        deadCalls += 1
        sys.error("permanent")
      }
    }
    assert(deadCalls == 2)
  }
}

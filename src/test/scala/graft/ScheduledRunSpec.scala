package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IncrementalRollup
import graft.tools.ScheduledRun

/** The scheduled-run composition (reference: hourly cron →
  * run_pipeline()) over two simulated cycles: cycle 1 lands the
  * batch and builds rollup state v=1; cycle 2 over the SAME input is
  * a no-op end to end (zero inserts, `skipped` run record, state v=2
  * bit-identical to v=1) — the idempotence the reference gets from
  * its per-hour existence check, proven through the whole fetch →
  * upsert → rollup chain. */
class ScheduledRunSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("hour_ts"), col("event_type"), col("n_events"),
        col("n_vals"), col("sum_scaled"), col("min_value"), col("max_value"))
      .collect().map(_.toString).sorted.toSeq

  test("two identical cycles: second is a logged no-op, state stable, maintained ≡ recomputed") {
    val wh = tempDir("graft_schedrun")

    val r1 = ScheduledRun.cycle(spark, sf, wh)
    assert(r1.inserted > 0, "first cycle lands the batch")
    assert(r1.stateVersion == 1)
    val telemetry = spark.read.parquet(s"$wh/grid_telemetry")
    assert(telemetry.count() == r1.inserted)
    // maintained state ≡ from-scratch recompute over what landed
    val v1 = spark.read.parquet(s"$wh/rollup_state/v=1")
    assert(canon(v1) == canon(IncrementalRollup.state(telemetry)))

    val r2 = ScheduledRun.cycle(spark, sf, wh)
    assert(r2.inserted == 0, "identical re-run inserts nothing")
    assert(r2.stateVersion == 2)
    assert(spark.read.parquet(s"$wh/grid_telemetry").count() == r1.inserted,
      "telemetry table unchanged by the re-run")
    val v2 = spark.read.parquet(s"$wh/rollup_state/v=2")
    assert(canon(v2) == canon(v1), "empty delta is a rollup identity")

    // run log carries the reference status domain for both cycles
    val statuses = spark.read.parquet(s"$wh/etl_runs")
      .select("status").collect().map(_.getString(0)).toSeq
    assert(statuses.count(s => s == "success" || s == "partial") == 1)
    assert(statuses.count(_ == "skipped") == 1)
  }

  test("live leg: the fetched feed document lands in the feed log") {
    val feedJson =
      """{"from": "2024-05-21T19:00Z", "intensity": {"actual": 212, "forecast": 205}}"""
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", (ex: HttpExchange) => {
      val b = feedJson.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val wh = tempDir("graft_schedrun_live")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/feed"
      val r = ScheduledRun.cycle(spark, sf, wh, Some(url))
      assert(r.fetched == 1)
      val log = spark.read.parquet(s"$wh/feed_log").collect()
      assert(log.length == 1)
      assert(log.head.getAs[Long]("intensity") == 212L)
      assert(log.head.getAs[String]("payload") == feedJson)
    } finally server.stop(0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Compaction

class CompactionSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("compaction merges a many-file directory preserving content exactly") {
    val dir = tempDir("graft_compact") + "/events"
    // simulate a streaming sink: 20 tiny appends
    val ev = Tables.events(spark, sf).select("event_id", "value")
    (0 until 20).foreach { i =>
      ev.filter(col("event_id") % 20 === i).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir)
    val filesBefore = before.inputFiles.length
    val checksumBefore = before
      .agg(sum(col("event_id")), sum(round(col("value") * 100).cast("long")))
      .first
    assert(filesBefore >= 20)

    Compaction.compact(spark, dir)

    val after = spark.read.parquet(dir)
    assert(after.inputFiles.length < filesBefore / 2,
      s"${after.inputFiles.length} files after compaction")
    val checksumAfter = after
      .agg(sum(col("event_id")), sum(round(col("value") * 100).cast("long")))
      .first
    assert(checksumAfter == checksumBefore)
  }

  test("file sink with checkpoint: stop/resume is exactly-once") {
    val base = tempDir("graft_sink")
    val (in, out, cp) = (s"$base/in", s"$base/out", s"$base/cp")
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "value")
    ev.filter(col("event_id") < 200).write.mode("append").parquet(in)
    def start() = spark.readStream
      .schema(spark.read.parquet(in).schema).parquet(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 200)
    // new data lands while the query is DOWN; resume must pick up
    // exactly the delta (checkpoint prevents reprocessing)
    ev.filter(col("event_id") >= 200 && col("event_id") < 350)
      .write.mode("append").parquet(in)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val outDf = spark.read.parquet(out)
    assert(outDf.count() == 350)
    assert(outDf.select("event_id").distinct().count() == 350, "duplicates after resume")
  }

  test("file-based streaming source processes new files incrementally") {
    val dir = tempDir("graft_filestream") + "/in"
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "value")
    ev.filter(col("event_id") < 100).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("file_stream_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("file_stream_out")
        .agg(sum("n")).first.getLong(0)
      assert(n1 == 100)
      // drop more files into the directory: the source must pick them up
      ev.filter(col("event_id") >= 100 && col("event_id") < 250)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val n2 = spark.table("file_stream_out").agg(sum("n")).first.getLong(0)
      assert(n2 == 250)
    } finally q.stop()
  }
}

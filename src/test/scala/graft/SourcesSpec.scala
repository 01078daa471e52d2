package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** §2.H — source/sink coverage: parquet (primary), csv, json,
  * partitioned writes. Round-trips preserve row counts and values. */
class SourcesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def tmp(name: String): String =
    tempDir(s"graft_$name")

  test("csv round-trip preserves orders") {
    val o = Tables.orders(spark, sf)
    val dir = tmp("csv")
    o.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == o.count())
    val sumA = o.agg(sum(round(col("o_totalprice") * 100).cast("long"))).first.getLong(0)
    val sumB = back.agg(sum(round(col("o_totalprice") * 100).cast("long"))).first.getLong(0)
    assert(sumA == sumB)
  }

  test("json round-trip preserves documents") {
    val d = Tables.documents(spark, sf)
    val dir = tmp("json")
    d.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == d.count())
    assert(back.agg(sum("n_chars")).first.getLong(0) ==
      d.agg(sum("n_chars")).first.getLong(0))
  }

  test("partitioned parquet write prunes partitions on read") {
    val e = Tables.events(spark, sf).withColumn("etype", col("event_type"))
    val dir = tmp("part")
    e.write.mode("overwrite").partitionBy("etype").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("etype") === "error")
    assert(one.count() == e.filter(col("event_type") === "error").count())
    // partition pruning visible in the plan: no other partitions scanned
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || one.inputFiles.forall(_.contains("etype=error")))
  }

  test("orc round-trip preserves lineitem aggregates") {
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val dir = tmp("orc")
    l.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == l.count())
    assert(back.agg(sum(round(col("l_quantity") * 100).cast("long"))).first.getLong(0) ==
      l.agg(sum(round(col("l_quantity") * 100).cast("long"))).first.getLong(0))
  }

  test("schema evolution: mergeSchema unions old and new columns") {
    val dir = tmp("evolve")
    val o = Tables.orders(spark, sf)
    o.select("o_orderkey", "o_totalprice").write.mode("append").parquet(dir)
    o.select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("o_orderkey", "o_totalprice", "o_orderstatus"))
    assert(merged.count() == 2 * o.count())
    // rows from the old schema surface the new column as null
    assert(merged.filter(col("o_orderstatus").isNull).count() == o.count())
  }

  test("parquet writes round-trip timestamps losslessly") {
    val e = Tables.events(spark, sf).select("event_id", "ts")
    val dir = tmp("ts")
    e.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.join(e.withColumnRenamed("ts", "ts0"), "event_id")
      .filter(col("ts") =!= col("ts0")).count() == 0)
  }

  private def seqDf(opts: (String, String)*) = {
    val r = spark.read.format("graft.sources.SeqSourceProvider")
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("DSv2 source: values, slicing, and filter pushdown narrow the scan") {
    val df = seqDf("start" -> "0", "end" -> "1000", "slices" -> "8")
    assert(df.count() == 1000)
    assert(df.agg(sum("id")).head().getLong(0) == (0L until 1000L).sum)
    // pushed range filters narrow the generated range BEFORE
    // partition planning — visible in the scan description
    val filtered = df.filter(col("id") >= 900 && col("id") < 950)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("[900, 950)"), s"bounds not pushed:\n$plan")
    assert(filtered.count() == 50)
    assert(filtered.agg(min("id"), max("id")).head().toSeq == Seq(900L, 949L))
    // equality pushes to a single-value range
    val one = df.filter(col("id") === 123L)
    assert(one.queryExecution.executedPlan.toString.contains("[123, 124)"))
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(123L))
  }

  test("DSv2 source: Long boundary filters neither wrap nor over-match") {
    val df = seqDf("start" -> "0", "end" -> "100", "slices" -> "2")
    // > MaxValue matches nothing (and must NOT silently match all)
    assert(df.filter(col("id") > Long.MaxValue).count() == 0)
    // = MaxValue matches nothing (domain end is exclusive)
    assert(df.filter(col("id") === Long.MaxValue).count() == 0)
    // <= MaxValue matches everything (v+1 would wrap; must be a no-op)
    assert(df.filter(col("id") <= Long.MaxValue).count() == 100)
    assert(df.filter(col("id") >= Long.MinValue).count() == 100)
  }

  test("DSv2 source: column pruning makes count-only scans emit empty rows") {
    val df = seqDf("start" -> "0", "end" -> "5000", "slices" -> "4")
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("emitId=false"), s"id not pruned:\n$plan")
    assert(counted.head().getLong(0) == 5000)
    // a contradictory pushed range yields an empty scan, not an error
    assert(df.filter(col("id") > 10000L).count() == 0)
  }
}

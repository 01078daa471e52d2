package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Range-sorted layout: files must cover pairwise-disjoint ranges of
  * the layout column (the property footer-stats pruning relies on). */
class LayoutSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("writeRangeSorted produces files with disjoint l_shipdate ranges") {
    val dir = tempDir("graft_layout") + "/li"
    Layout.writeRangeSorted(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_shipdate"),
      dir, "l_shipdate", 8)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("lo"),
        r.getAs[java.time.LocalDateTime]("hi")))
      .sortBy(_._1)
    assert(perFile.length > 1, "expected multiple range files")
    perFile.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(!hiA.isAfter(loB), s"overlapping file ranges: $hiA > $loB")
      case _ =>
    }
    // row count preserved
    assert(spark.read.parquet(dir).count() ==
      Tables.lineitem(spark, sf).count())
  }

  test("generated day-partition layout preserves results and prunes date scans") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = tempDir("graft_partlayout")
    graft.tools.GenScale.generate(spark, sf, dir, 1, partitioned = true)
    // the generated layout column is invisible: readers see the flat
    // layout's exact logical schema
    assert(Tables.lineitem(spark, dir).schema == Tables.lineitem(spark, sf).schema)
    assert(Tables.events(spark, dir).schema == Tables.events(spark, sf).schema)
    assert(Tables.lineitem(spark, dir).count() == Tables.lineitem(spark, sf).count())
    // a date-filtered query returns identical (exact-sum) results on
    // both layouts
    val flat = SparkEntry.queries("q6_forecast_revenue")(spark, sf).collect()
    val part = SparkEntry.queries("q6_forecast_revenue")(spark, dir)
    assert(flat.head.getLong(1) > 0, "q6 must be non-vacuous at this sf")
    // the injected generated-column predicate must land in the scan's
    // PartitionFilters (plans.PartitionDatePruning)
    val planStr = part.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(planStr.contains("gpart_l_shipdate_day"),
      s"no generated-column partition filter in plan:\n${planStr.take(1500)}")
    assert("PartitionFilters: \\[[^\\]]*gpart_l_shipdate_day".r
      .findFirstIn(planStr).isDefined, "filter must be a PARTITION filter")
    // quantitative: the scan must read a strict subset of the day
    // directories (q6 covers ~1 of ~7 ship years)
    part.queryExecution.toRdd.count()
    assert(part.collect().toSeq == flat.toSeq)
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case q: QueryStageExec        => q +: allNodes(q.plan)
      case o                        => o +: o.children.flatMap(allNodes)
    }
    val scan = allNodes(part.queryExecution.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains("lineitem")) => s
    }
    assert(scan.isDefined, "lineitem file scan not found in executed plan")
    val partsRead = scan.get.metrics("numPartitions").value
    val totalDays = new java.io.File(dir + "/lineitem.parquet")
      .listFiles.count(_.getName.startsWith("gpart_"))
    assert(totalDays > 1000, s"expected ~2.5k day dirs, got $totalDays")
    assert(partsRead > 0 && partsRead < totalDays / 2,
      s"pruning ineffective: read $partsRead of $totalDays day dirs")
    // the events layout path (ts-derived days) holds up end-to-end too
    val wFlat = SparkEntry.queries("etl_weekly_trend")(spark, sf).collect()
    val wPart = SparkEntry.queries("etl_weekly_trend")(spark, dir).collect()
    assert(wFlat.toSeq == wPart.toSeq)
    // IN-list date predicates derive an IN partition filter too
    val inQ = Tables.orders(spark, dir).filter(
      col("o_orderdate").isin(
        java.sql.Timestamp.valueOf("1996-03-13 00:00:00"),
        java.sql.Timestamp.valueOf("1997-06-01 00:00:00")))
    val inPlan = inQ.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*gpart_o_orderdate_day#\\d+ IN".r
      .findFirstIn(inPlan).isDefined,
      s"IN-list did not derive a partition filter:\n${inPlan.take(1200)}")
    assert(inQ.count() ==
      Tables.orders(spark, sf).filter(
        col("o_orderdate").isin(
          java.sql.Timestamp.valueOf("1996-03-13 00:00:00"),
          java.sql.Timestamp.valueOf("1997-06-01 00:00:00"))).count())
  }

  test("zValue matches a reference bit interleave") {
    import spark.implicits._
    def refZ(xs: Seq[Long], bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits; j <- xs.indices)
        if (((xs(j) >> i) & 1L) != 0L) z |= 1L << (i * xs.size + j)
      z
    }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (12345L, 54321L))
    val got = pts.toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 16).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pts.map(p => refZ(Seq(p._1, p._2), 16)))
  }

  test("z-order keeps both dimensions prunable; single-column sort only one") {
    val base = tempDir("graft_zorder")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        (col("value") * 100).cast("long").as("v100"))
    val nFiles = 16
    Layout.writeZOrdered(ev, s"$base/z", Seq("user_id", "v100"), nFiles)
    Layout.writeRangeSorted(ev, s"$base/x", "user_id", nFiles)

    def boxes(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("user_id"), max("user_id"), min("v100"), max("v100"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    // band predicate on the SECOND dimension: middle 10% of v100
    val (vLo, vHi) = {
      val r = ev.agg(min("v100"), max("v100")).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val mid = (mn + mx) / 2; val w = (mx - mn) / 20
      (mid - w, mid + w)
    }
    def overlapping(bs: Array[(Long, Long, Long, Long)]): Int =
      bs.count { case (_, _, lo, hi) => hi >= vLo && lo <= vHi }

    val zB = boxes(s"$base/z"); val xB = boxes(s"$base/x")
    assert(zB.length > 1 && xB.length > 1)
    // x-sorted layout: every file spans the full v100 range -> no pruning
    assert(overlapping(xB) == xB.length,
      s"expected the v100 band to hit every x-sorted file: ${overlapping(xB)}/${xB.length}")
    // z-ordered layout: the band prunes a real fraction of the files
    assert(overlapping(zB) < zB.length,
      s"z-order should prune some files: ${overlapping(zB)}/${zB.length}")
    // and rows are preserved
    assert(spark.read.parquet(s"$base/z").count() == ev.count())
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.RelationalOps

class RelationalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("approx sketches land within tolerance of exact answers") {
    // the published surface: every certification flag must read 1
    // (the query computes sketch and exact in one pass and certifies
    // the sketch in-bound; the oracle mirrors literal-true flags)
    val out = RelationalOps.approxStats(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      Seq("orders_in_bound", "parts_in_bound", "median_in_bound",
        "p95_in_bound").foreach { c =>
        assert(r.getAs[Long](c) == 1L,
          s"${r.getString(0)}: $c must certify the sketch, got $r")
      }
    }
    // and the raw estimates themselves (not published — engine-
    // specific values) stay within the documented tolerances
    val both = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n"),
        expr("percentile(l_extendedprice, 0.5)").as("med"),
        approx_count_distinct(col("l_orderkey")).as("an"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("amed"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val nExact = r.getAs[Long]("n").toDouble
      // HLL++ default rsd is 0.05 (typical, not a bound) — allow 3 sigma
      assert(math.abs(r.getAs[Long]("an") - nExact) / nExact < 0.15,
        s"${r.getString(0)} approx distinct off by >15%")
      val medExact = r.getAs[Double]("med")
      assert(math.abs(r.getAs[Double]("amed") - medExact) / medExact < 0.05,
        s"${r.getString(0)} approx median off by >5%")
    }
  }

  test("asof join: every purchase row appears once; matches are at-or-before") {
    val out = RelationalOps.asofJoin(spark, sf)
    val nPurch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(out.count() == nPurch)
    assert(out.filter(col("last_error_ts") > col("ts")).count() == 0)
  }

  test("topk plan is a TakeOrdered, not a global sort") {
    val plan = RelationalOps.topkOrders(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q5 plan adapts to broadcast being disabled; result is invariant") {
    val before = RelationalOps.q5LocalSupplier(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = RelationalOps.q5LocalSupplier(spark, sf)
      // exact sums make the answer identical under ANY join strategy
      val after = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(after == before)
      val plan = df.queryExecution.executedPlan.toString
      // explicit broadcast() hints still broadcast dims; the fact-fact
      // joins must have fallen back to shuffle joins
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q_skew_join: AQE splits the planted skewed partition at runtime") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val before = rows(RelationalOps.skewJoin(spark, sf))
    assert(before.nonEmpty)
    // AQE splits a skewed reduce partition at MAPPER-range granularity
    // — a single-row-group test file means one mapper and nothing to
    // split, so rewrite the two tables as multi-file copies first (at
    // 100 TB there are thousands of mappers; this is the test-scale
    // stand-in, not a query change)
    val multi = tempDir("graft_skew")
    Tables.lineitem(spark, sf).repartition(8)
      .write.parquet(multi + "/lineitem.parquet")
    Tables.orders(spark, sf).repartition(4)
      .write.parquet(multi + "/orders.parquet")
    // force the shuffle path and scale the skew thresholds down to
    // test data size — the production analog: a 100 TB Zipf head
    // crosses the DEFAULT thresholds the same way
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k")
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = RelationalOps.skewJoin(spark, multi)
      val after = rows(df)
      assert(after == before,
        "answer must be invariant to join strategy and file layout")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join split must have fired on the planted Zipf head:\n$plan")
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("concurrent queries on the shared session are safe and correct") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = Seq(
      Future(RelationalOps.q1PricingSummary(spark, sf).count()),
      Future(RelationalOps.topkOrders(spark, sf).count()),
      Future(graft.operators.EtlOps.hourlyRollup(spark, sf).count()),
      Future(graft.operators.TextOps.tokenCount(spark, sf).count()))
    val counts = Await.result(Future.sequence(futures), 120.seconds)
    assert(counts == Seq(
      RelationalOps.q1PricingSummary(spark, sf).count(),
      RelationalOps.topkOrders(spark, sf).count(),
      graft.operators.EtlOps.hourlyRollup(spark, sf).count(),
      graft.operators.TextOps.tokenCount(spark, sf).count()))
  }

  test("q5 pushes the region filter into the scan") {
    val plan = RelationalOps.q5LocalSupplier(spark, sf)
      .queryExecution.toString
    assert(plan.contains("PushedFilters") || plan.contains("ASIA"))
  }

  test("q7 emits only the two nation pairs; q10 is a bounded ordered top-20") {
    // sf0.001's 50-customer slice has no NATION_1<->NATION_2 trade;
    // use the next SF up for a non-vacuous pair check
    val q7 = RelationalOps.q7VolumeShipping(spark, "/root/testdata/sf0.01").collect()
    assert(q7.nonEmpty)
    val pairs = q7.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))))
    val q10 = RelationalOps.q10ReturnedItems(spark, "/root/testdata/sf0.01").collect()
    assert(q10.length <= 20 && q10.nonEmpty)
    val revs = q10.map(r => (-r.getDouble(4), r.getLong(0))).toSeq
    assert(revs == revs.sorted, "q10 not ordered by (revenue desc, custkey)")
  }

  test("q4/q13/q15/q17/q19/q22 semantic invariants") {
    // q4: one row per priority; counts bounded by total orders
    val nOrders = Tables.orders(spark, sf).count()
    val q4 = RelationalOps.q4OrderPriority(spark, sf).collect()
    assert(q4.nonEmpty && q4.map(_.getLong(1)).forall(n => n > 0 && n <= nOrders))
    // q13: the zero-order bucket exists iff some customer has no orders,
    // and the distribution's total equals the customer count
    val q13 = RelationalOps.q13CustDistribution(spark, sf).collect()
    assert(q13.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    // q15: all returned suppliers share the one maximal revenue
    val q15 = RelationalOps.q15TopSupplier(spark, sf).collect()
    assert(q15.nonEmpty && q15.map(_.getDouble(2)).distinct.length == 1)
    // q17: single aggregate row; n_lines never exceeds the brand's lines
    val q17 = RelationalOps.q17SmallQtyRevenue(spark, sf).collect()
    assert(q17.length == 1)
    // q19: single row; revenue null only when no line matches any band
    val q19 = RelationalOps.q19DisjunctiveRevenue(spark, sf).collect()
    assert(q19.length == 1)
    // q22: every counted customer is above-average-funded & order-less,
    // so total counted never exceeds the customer population
    val q22 = RelationalOps.q22IdleCustomers(spark, sf).collect()
    assert(q22.map(_.getLong(1)).sum <= Tables.customer(spark, sf).count())
  }

  test("semi and anti join partition customer on the completed-order test") {
    // q_semi_join = customers WITH a completed ('F') order,
    // q_anti_join = customers WITHOUT one: disjoint, union = customer,
    // and both sides nonempty at the test SF (the anti side being
    // nonempty is the round-11 de-vacuation guarantee — an empty
    // result would make the driver's hash gate prove nothing)
    val semi = RelationalOps.semiJoin(spark, sf).select("c_custkey")
    val anti = RelationalOps.antiJoin(spark, sf).select("c_custkey")
    val nSemi = semi.count()
    val nAnti = anti.count()
    assert(nAnti > 0, "anti join must be non-vacuous at the test SF")
    assert(nSemi > 0)
    assert(nSemi + nAnti == Tables.customer(spark, sf).count())
    assert(semi.intersect(anti).count() == 0)
    // q22 restricts the same anti side to above-average balances, so
    // its counted customers are a subset of the anti side
    val q22 = RelationalOps.q22IdleCustomers(spark, sf).collect()
    assert(q22.map(_.getLong(1)).sum <= nAnti)
  }

  test("q2/q9/q11/q12/q16/q20/q21 semantic invariants (sf0.01)") {
    val d = "/root/testdata/sf0.01"
    // q2: every returned (part, supplier) price IS that part's min
    val q2 = RelationalOps.q2MinCostSupplier(spark, d).collect()
    assert(q2.nonEmpty)
    val minByPart = q2.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(6)).min)
    assert(q2.forall(r => r.getDouble(6) == minByPart(r.getLong(0))))
    // q12: exactly the two buckets, counts positive
    val q12 = RelationalOps.q12ShipDelay(spark, d).collect()
    assert(q12.map(_.getString(0)).toSet == Set("LATE", "ONTIME"))
    // q16: the excluded brand never appears
    val q16 = RelationalOps.q16SupplierCnt(spark, d).collect()
    assert(q16.nonEmpty && q16.forall(_.getString(0) != "Brand#1"))
    // q11/q9/q20/q21 are non-vacuous at this SF
    assert(RelationalOps.q11ImportantStock(spark, d).count() > 0)
    assert(RelationalOps.q9ProductProfit(spark, d).count() > 0)
    assert(RelationalOps.q20PartPromotion(spark, d).count() > 0)
    val q21 = RelationalOps.q21WaitingSupplier(spark, d).collect()
    assert(q21.nonEmpty && q21.forall(_.getLong(2) > 0))
  }

  test("range window: week_spend covers exactly the trailing 7 days") {
    val rows = RelationalOps.windowRange(spark, sf).collect()
      .map { r =>
        val epoch = r.getAs[java.time.LocalDateTime](2)
          .toEpochSecond(java.time.ZoneOffset.UTC)
        (r.getLong(0), epoch, r.getDouble(3), r.getDouble(4))
      }
    // driver recompute for one busy customer
    val byCust = rows.groupBy(_._1)
    val (cust, orders) = byCust.maxBy(_._2.length)
    orders.foreach { case (_, ts, _, spend) =>
      val lo = ts - 6L * 86400
      val expect = orders.filter { case (_, t2, _, _) =>
        t2 >= lo && t2 <= ts
      }.map { case (_, _, p, _) => math.round(p * 100) }.sum / 100.0
      assert(math.abs(expect - spend) < 1e-9,
        s"customer $cust at epoch $ts: expected $expect got $spend")
    }
  }

  test("q8 market share stays within [0,1]") {
    val q8 = RelationalOps.q8MarketShare(spark, "/root/testdata/sf0.01").collect()
    assert(q8.nonEmpty)
    assert(q8.forall { r =>
      val s = r.getDouble(1); s >= 0.0 && s <= 1.0
    })
  }

  test("funnel keeps users whose purchases all precede signup (converted=false)") {
    import spark.implicits._
    // user 1: purchase BEFORE signup (must appear, unconverted);
    // user 2: purchase after signup (converted)
    val ev = Seq(
      (1L, "purchase", "2024-01-01 00:00:00"),
      (1L, "signup", "2024-01-02 00:00:00"),
      (2L, "signup", "2024-01-01 00:00:00"),
      (2L, "purchase", "2024-01-03 00:00:00"))
      .toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = RelationalOps.funnelImpl(ev).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("converted")).toMap
    assert(out == Map(1L -> false, 2L -> true),
      "a user with only pre-signup purchases must still appear")
  }

  test("fuzzy join: pairs share the block token, respect tau, and find known near-names") {
    val rows = RelationalOps.fuzzyJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, d) =>
      assert(a < b, s"pair order: $a !< $b")
      assert(a.split(' ').last == b.split(' ').last, s"blocked pair ($a,$b)")
      assert(d >= 1 && d <= 2, s"distance out of range: ($a,$b,$d)")
    }
    // 'cold X' vs 'old X' is edit distance 1 and shares every noun block
    assert(rows.exists { case (a, b, d) =>
      a.startsWith("cold ") && b.startsWith("old ") && d == 1 })
  }

  test("bitmap distinct equals count(DISTINCT) per event type") {
    val bitmap = RelationalOps.bitmapDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bitmap == exact && bitmap.nonEmpty)
  }

  test("variant and regexp JSON extraction see the same rows") {
    val nVariant = RelationalOps.variantExtract(spark, sf)
      .agg(sum("n")).head().getLong(0)
    val nRegexp = RelationalOps.jsonExtract(spark, sf)
      .agg(sum("n")).head().getLong(0)
    assert(nVariant == nRegexp && nVariant > 0,
      s"variant path found $nVariant rows, regexp $nRegexp")
  }

  test("exact median equals Spark's percentile; selection avoids a full-table sort") {
    val out = RelationalOps.exactMedian(spark, sf).head()
    val n = out.getLong(0)
    val med = out.getDouble(1)
    assert(n == Tables.lineitem(spark, sf).count())
    val ref = Tables.lineitem(spark, sf)
      .agg(expr("percentile(l_extendedprice, 0.5)")).head().getDouble(0)
    assert(math.abs(med - ref) < 1e-6, s"median $med vs percentile $ref")
    // the second pass filters to the middle bucket(s): the sorted
    // subset is a small fraction of the table
    val width = 100.0
    val b = math.floor(ref / width)
    val subset = Tables.lineitem(spark, sf)
      .filter(floor(col("l_extendedprice") / width) === b).count()
    assert(subset.toDouble / n < 0.05,
      s"selection bucket holds $subset of $n rows — not selective")
  }

  test("sessionize: gaps split at 30 min, events are conserved, one shuffle family") {
    val sessions = RelationalOps.sessionize(spark, sf)
    val nEvents = Tables.events(spark, sf).count()
    val agg = sessions.agg(sum("n_events"), count(lit(1))).head()
    assert(agg.getLong(0) == nEvents, "every event lands in exactly one session")
    // session spans: start <= end always; consecutive sessions of one
    // user are separated by MORE than the gap (else they'd have merged)
    assert(sessions.filter(col("session_start") > col("session_end")).count() == 0)
    val byUser = sessions.orderBy("user_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime]("session_start"),
        r.getAs[java.time.LocalDateTime]("session_end")))
    byUser.sliding(2).foreach {
      case Array((u1, _, e1), (u2, s2, _)) if u1 == u2 =>
        assert(java.time.Duration.between(e1, s2).toNanos > 1800L * 1000000000L,
          s"user $u1 sessions closer than the gap")
      case _ =>
    }
  }

  test("scd2: per-user history is contiguous with exactly one open interval") {
    val hist = RelationalOps.scd2(spark, sf)
    val nEvents = Tables.events(spark, sf).count()
    assert(hist.agg(sum("n_events")).head().getLong(0) == nEvents)
    val open = hist.filter(col("is_current")).groupBy("user_id").count()
      .filter(col("count") =!= 1)
    assert(open.count() == 0, "each user must have exactly one current row")
    // intervals chain: valid_to of a row equals valid_from of the next
    val rows = hist.orderBy("user_id", "valid_from", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime]("valid_from"),
        Option(r.getAs[java.time.LocalDateTime]("valid_to"))))
    rows.sliding(2).foreach {
      case Array((u1, _, Some(t1)), (u2, f2, _)) if u1 == u2 =>
        assert(t1 == f2, s"user $u1 history has a hole at $t1")
      case _ =>
    }
  }

  test("q_mode: one row per month carrying that month's max count") {
    val out = RelationalOps.modePerGroup(spark, sf).collect()
    val maxByMonth = Tables.orders(spark, sf)
      .groupBy(trunc(col("o_orderdate"), "month").as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy("month").agg(max("n").as("mx"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(out.length == maxByMonth.size, "exactly one mode row per month")
    out.foreach { r =>
      assert(r.getLong(2) == maxByMonth(r.get(0)),
        s"mode count ${r.getLong(2)} is not the month's max")
    }
  }

  test("range join: banding covers window edges, bucket crossings, and empty windows") {
    import spark.implicits._
    // error window = [ts, ts+600s); bucket width is also 600s, so a
    // window almost always straddles two buckets — every case below
    // targets one edge of that banding
    val ev = Seq(
      (100L, 1L, "error", "2024-01-01 00:05:00"),
      (101L, 1L, "click", "2024-01-01 00:05:00"), // == start: counted
      (102L, 1L, "click", "2024-01-01 00:09:59"), // same bucket, inside
      (103L, 1L, "click", "2024-01-01 00:12:00"), // NEXT bucket, inside
      (104L, 1L, "click", "2024-01-01 00:15:00"), // == end: excluded
      (105L, 1L, "click", "2024-01-01 00:04:59"), // same bucket, before start
      (106L, 2L, "error", "2024-01-01 01:00:00"), // no clicks at all
      (107L, 3L, "click", "2024-01-01 00:06:00")) // other user, inside window
      .toDF("event_id", "user_id", "event_type", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val out = RelationalOps.rangeJoinImpl(ev).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_clicks")).toMap
    assert(out == Map(100L -> 3L, 106L -> 0L))
  }

  test("skyline: exactly the undominated (quantity, min price) levels survive") {
    val levels = Tables.lineitem(spark, sf)
      .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
      .groupBy("l_quantity").agg(min("l_extendedprice").as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1))
    def dominated(q: Double, p: Double) =
      levels.exists { case (q2, p2) => q2 > q && p2 <= p }
    val expected = levels.filterNot((dominated _).tupled).toMap
    val got = RelationalOps.skyline(spark, sf).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got == expected)
    assert(got.size >= 2 && got.size < levels.length,
      "frontier should prune some levels but keep the max-quantity one")
  }

  test("cube covers the full grouping lattice with consistent totals") {
    val out = RelationalOps.cubeOrders(spark, sf).collect()
    assert(out.map(_.getLong(2)).toSet == Set(0L, 1L, 2L, 3L))
    val nOrders = Tables.orders(spark, sf).count()
    val grand = out.filter(_.getLong(2) == 3L)
    assert(grand.length == 1 && grand.head.getLong(3) == nOrders)
    // every lattice level re-partitions the same grand total
    Seq(0L, 1L, 2L).foreach { g =>
      assert(out.filter(_.getLong(2) == g).map(_.getLong(3)).sum == nOrders,
        s"level $g row counts must sum to the table size")
    }
  }

  test("bloom prune: zero false negatives; pass = premium + false positives") {
    val out = RelationalOps.bloomPrune(spark, sf).collect()
    val premOrders = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf).filter(col("c_acctbal") > 9500.0),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (prio, pass, prem, fp) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(prem == premOrders.getOrElse(prio, 0L),
        s"$prio: a Bloom filter must never drop a real member")
      assert(pass == prem + fp, s"$prio: pass must decompose exactly")
    }
    assert(out.map(_.getLong(2)).sum == premOrders.values.sum)
  }

  test("count-min estimates dominate exact counts on the top users") {
    val out = RelationalOps.cmsFreq(spark, sf).collect()
    val nUsers = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull).select("user_id").distinct().count()
    assert(out.length == math.min(25L, nUsers) && out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"user ${r.getLong(0)}: CMS estimate below exact count") }
  }

  test("rfm: segments partition the customer base into balanced quintiles") {
    val out = RelationalOps.rfmSegments(spark, sf).collect()
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(out.map(_.getLong(3)).sum == nCust,
      "every ordering customer lands in exactly one segment")
    // each quintile of each dimension holds n/5 customers ±1 (the
    // formula q = (5·rank) div n + 1 splits any n into parts of size
    // floor/ceil(n/5))
    Seq(0, 1, 2).foreach { dim =>
      val byQ = out.groupBy(_.getInt(dim)).view
        .mapValues(_.map(_.getLong(3)).sum)
      assert(byQ.keys.toSet.subsetOf(Set(1, 2, 3, 4, 5)))
      byQ.foreach { case (q, n) =>
        assert(math.abs(n - nCust / 5.0) <= 1.0,
          s"dim $dim quintile $q holds $n of $nCust") }
    }
    // spend conservation: segment spends sum to the corpus total
    val totSpend = Tables.orders(spark, sf)
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))).collect()
      .head.getLong(0)
    assert(out.map(_.getLong(4)).sum == totSpend)
  }

  test("rfm is invariant to shuffle partitioning") {
    val a = RelationalOps.rfmSegments(spark, sf).collect()
      .map(_.toSeq).sortBy(_.toString)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = RelationalOps.rfmSegments(spark, sf).collect()
        .map(_.toSeq).sortBy(_.toString)
      assert(a.toSeq == b.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("changepoint: cusum telescopes to total mod days; exactly one peak magnitude") {
    val out = RelationalOps.changepoint(spark, sf).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1.toString)
    assert(out.nonEmpty)
    val total = out.map(_._2).sum
    val n = out.length.toLong
    // cusum_k = sum(rev_1..k) - k*(total div n): the last value must
    // telescope to total - n*(total div n) = total mod n
    assert(out.last._3 == total - n * (total / n))
    val mean = total / n
    var acc = 0L
    out.foreach { case (_, rev, cusum, _) =>
      acc += rev - mean
      assert(cusum == acc, "cusum must be the exact running deviation sum")
    }
    val peak = out.map(t => math.abs(t._3)).max
    assert(out.filter(_._4).forall(t => math.abs(t._3) == peak))
    assert(out.count(_._4) >= 1, "at least one day marks the peak")
  }

  test("running distinct: cumulative curve ends at the true distinct count") {
    val out = RelationalOps.runningDistinct(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nUsers = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull).select("user_id").distinct().count()
    assert(out.map(_._2).sum == nUsers, "new-user counts partition the users")
    assert(out.last._3 == nUsers, "curve must end at the distinct total")
    var cum = 0L
    out.foreach { case (_, nNew, c) => cum += nNew; assert(c == cum) }
  }

  test("transitions: per-source probabilities sum to 1, pairs match a replay") {
    val out = RelationalOps.transitions(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    out.groupBy(_._1._1).foreach { case (from, cells) =>
      assert(math.abs(cells.map(_._2._2).sum - 1.0) < 1e-4,
        s"$from: outgoing probabilities must sum to ~1")
    }
    // driver replay of consecutive pairs
    val ev = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getLong(2), r.getString(3)))
    val expect = ev.groupBy(_._1).values.flatMap { grp =>
      val types = grp.sortBy(t => (t._2, t._3)).map(_._4)
      types.zip(types.drop(1))
    }.toSeq.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    assert(out.map(t => t._1 -> t._2._1).toMap == expect)
  }

  test("yoy growth: revenue conserves; growth matches the lag formula") {
    val out = RelationalOps.yoyGrowth(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    val totRev = Tables.lineitem(spark, sf)
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))).collect()
      .head.getLong(0)
    assert(out.values.map(_._1).sum == totRev,
      "every lineitem lands in exactly one (nation, year) cell")
    out.foreach { case ((nation, yr), (rev, growth)) =>
      out.get((nation, yr - 1)) match {
        case Some((prev, _)) =>
          assert(growth.contains((rev - prev) * 10000 / prev),
            s"$nation $yr growth formula")
        case None =>
          assert(growth.isEmpty, s"$nation $yr: first year must be NULL")
      }
    }
  }

  test("basket lift: values match a driver recount; ordering respects lift") {
    val out = RelationalOps.basketLift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty && out.length <= 50)
    val op = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = op.map(_._1).distinct.length.toLong
    val margs = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCounts = op.groupBy(_._1).values.flatMap { grp =>
      val pks = grp.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.length)
        yield (pks(i), pks(j))
    }.toSeq.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    out.foreach { case (pa, pb, nab, na, nb, lift) =>
      assert(pairCounts((pa, pb)) == nab && nab >= 3)
      assert(margs(pa) == na && margs(pb) == nb)
      val want = BigDecimal(nab.toDouble * nOrders / (na.toDouble * nb.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(lift - want) < 1e-9)
    }
    assert(out.map(_._6).sameElements(out.map(_._6).sortBy(-_)),
      "rows must come back in descending lift order")
  }

  test("abc analysis: classes partition parts and revenue, A dominates") {
    val out = RelationalOps.abcAnalysis(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rev = Tables.lineitem(spark, sf)
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.values.map(_._1).sum == rev.length.toLong)
    val tot = rev.map(_._2).sum
    assert(out.values.map(_._2).sum == tot)
    // driver replay of the pareto walk
    var cum = 0L
    val classes = rev.sortBy(t => (-t._2, t._1)).map { case (_, c) =>
      cum += c
      if (cum * 100 <= tot * 70) "A" else if (cum * 100 <= tot * 90) "B" else "C"
    }
    val expect = classes.groupBy(p => p).view.mapValues(_.length.toLong).toMap
    assert(out.view.mapValues(_._1).toMap == expect)
    // the 70/20/10 cut means revenue must order A > B > C regardless
    // of how skewed the part distribution is (this synthetic corpus
    // is near-uniform, so PART counts follow revenue share too)
    assert(out("A")._2 > out("B")._2 && out("B")._2 > out("C")._2)
  }

  test("gini: matches the rank-formula recomputation, lands in [0,1)") {
    val row = RelationalOps.giniRevenue(spark, sf).collect().head
    val (n, tot, gini) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    val xs = Tables.lineitem(spark, sf)
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._2, t._1)).map(_._2)
    assert(n == xs.length.toLong && tot == xs.sum)
    val s1 = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val want = BigDecimal((2.0 * s1 - (n + 1) * tot) / (n * tot).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(gini - want) < 1e-9)
    assert(gini >= 0.0 && gini < 1.0)
  }

  test("attribution: totals conserve, agrees with a driver-side replay") {
    val out = RelationalOps.attribution(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver-side replay over the (tiny at test sf) event log
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("string").as("ts"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      // ISO timestamp strings sort chronologically
      val sorted = rows.sortBy(t => (t._2, t._3)).toList
      var lastSrc = "none"
      val attributed = scala.collection.mutable.ListBuffer.empty[String]
      sorted.foreach { t =>
        if (t._4 == "purchase") attributed += lastSrc
        else lastSrc = t._4
      }
      attributed.toList
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out.view.mapValues(_._1).toMap == want)
    val total = want.values.sum
    out.foreach { case (_, (n, ppm)) => assert(ppm == n * 1000000L / total) }
    assert(out.values.map(_._1).sum == total)
  }

  test("winsorize: clamped mean sits inside bounds, matches a driver replay") {
    val got = RelationalOps.winsorize(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val raw = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    raw.foreach { case (flag, vals) =>
      val (n, meanRaw, meanWin, lo, hi) = got(flag)
      assert(n == vals.length.toLong, s"$flag n")
      assert(lo <= hi, s"$flag bounds ordered")
      // winsorized mean of clamped values must lie inside the bounds
      assert(meanWin >= lo && meanWin <= hi, s"$flag winsor mean in bounds")
      // driver replay with the same scaled-integer discipline
      val expRaw = vals.map(v => math.round(v * 100)).sum.toDouble / 100 / vals.length
      val expWin = vals.map(v => math.round(math.min(math.max(v, lo), hi) * 10000))
        .sum.toDouble / 10000 / vals.length
      assert(meanRaw == expRaw, s"$flag raw mean")
      assert(meanWin == expWin, s"$flag winsor mean")
    }
  }

  test("k-anonymity: groups conserve events, flags recounted from raw rows") {
    val rows = RelationalOps.kanon(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getBoolean(5))))
    assert(rows.map(_._1).distinct.length == rows.length, "QI groups unique")
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), hour(col("ts")).cast("int"),
        floor(col("value") / 10).cast("long"), col("user_id"))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1), r.getLong(2)), r.getLong(3)))
    assert(rows.map(_._2._2).sum == ev.length.toLong,
      "every event lands in exactly one QI group")
    val byQi = ev.groupBy(_._1)
    rows.foreach { case (qi, (nUsers, nEvents, flag)) =>
      val grp = byQi(qi)
      assert(nEvents == grp.length.toLong, s"$qi event count")
      assert(nUsers == grp.map(_._2).distinct.length.toLong, s"$qi user count")
      assert(flag == (nUsers >= 5), s"$qi flag")
    }
    // both regimes present: rare QI combos exist, common ones clear k
    assert(rows.exists(!_._2._3) && rows.exists(_._2._3),
      "test data exercises both suppressed and released groups")
  }

  test("skew metrics: percentiles bracket, totals conserve") {
    val row = RelationalOps.skewMetrics(spark, sf).collect().head
    val sizes = Tables.orders(spark, sf).groupBy("o_custkey").count()
      .collect().map(_.getLong(1)).sorted
    assert(row.getAs[Long]("n_keys") == sizes.length.toLong)
    assert(row.getAs[Long]("n_rows") == sizes.sum)
    assert(row.getAs[Long]("max_key_rows") == sizes.last)
    // exact order-statistic recomputation: smallest size with
    // cum-key-count covering the quantile
    def q(p: Double): Long = sizes((math.ceil(sizes.length * p) - 1).toInt.max(0))
    assert(row.getAs[Long]("p50_key_rows") == q(0.5))
    assert(row.getAs[Long]("p99_key_rows") == q(0.99))
    assert(row.getAs[Long]("p50_key_rows") <= row.getAs[Long]("p99_key_rows"))
    assert(row.getAs[Long]("p99_key_rows") <= row.getAs[Long]("max_key_rows"))
    assert(row.getAs[Long]("max_key_share_ppm") ==
      sizes.last * 1000000L / sizes.sum)
  }

  test("regression slopes agree with a driver-side OLS recount") {
    val rows = Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderpriority"),
        org.apache.spark.sql.functions.expr(
          "cast(datediff(to_date(o_orderdate), date'1970-01-01') as long)"),
        org.apache.spark.sql.functions.expr(
          "cast(round(o_totalprice) as long)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = RelationalOps.regression(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    rows.groupBy(_._1).foreach { case (prio, g) =>
      val n = g.size.toDouble
      val (sx, sy) = (g.map(_._2).sum.toDouble, g.map(_._3).sum.toDouble)
      val sxy = g.map(t => t._2 * t._3).sum.toDouble
      val sxx = g.map(t => t._2 * t._2).sum.toDouble
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = sy / n - slope * (sx / n)
      val (gn, gs, gi, gr2) = got(prio)
      assert(gn == g.size)
      assert(math.abs(gs - slope) < 1e-4, s"$prio slope $gs vs $slope")
      assert(math.abs(gi - intercept) < 1e-2, s"$prio intercept")
      assert(gr2 >= 0 && gr2 <= 1, s"$prio r2 in range")
      // random TPC-H prices carry no real time trend
      assert(gr2 < 0.05, s"$prio r2 should be near zero, was $gr2")
    }
  }

  test("new/returning split agrees with a driver-side recount") {
    val daily = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("user_id").isNotNull &&
        org.apache.spark.sql.functions.col("ts").isNotNull)
      .selectExpr("cast(ts as date) as day", "user_id").distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val first = daily.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val got = RelationalOps.newUsers(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val byDay = daily.groupBy(_._1)
    assert(got.keySet == byDay.keySet)
    byDay.foreach { case (day, g) =>
      val dau = g.size.toLong
      val nu = g.count(p => first(p._2) == day).toLong
      assert(got(day) == ((dau, nu, dau - nu, nu * 1000000L / dau)), s"$day")
    }
    // day one is all-new; every user is new exactly once overall
    assert(got(byDay.keySet.min)._2 == got(byDay.keySet.min)._1)
    assert(got.values.map(_._2).sum == first.size.toLong)
  }

  test("lag features agree with a driver-side per-user replay") {
    val rows = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.expr(
        "user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL"))
      .selectExpr("event_id", "user_id", "ts",
        "cast(round(value * 100) as bigint) as cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2), r.getLong(3)))
    val got = RelationalOps.lagFeatures(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getLong(5))).toMap
    assert(got.size == rows.length)
    rows.groupBy(_._2).foreach { case (_, g) =>
      val ordered = g.sortBy(t => (t._3, t._1))
      ordered.zipWithIndex.foreach { case ((eid, _, _, cents), i) =>
        val win = ordered.slice(math.max(0, i - 2), i + 1).map(_._4)
        val prev = if (i == 0) None else Some(ordered(i - 1)._4)
        val (gp, gd, gm) = got(eid)
        assert(gp == prev, s"event $eid prev")
        assert(gd == prev.map(cents - _), s"event $eid delta")
        assert(gm == win.sum * 10000L / win.length, s"event $eid roll3")
      }
    }
  }

  test("activity grid reconciles with a driver-side recount") {
    val rows = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("ts").isNotNull)
      .selectExpr("dayofweek(ts) - 1 as dow", "hour(ts) as hod").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val want = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = RelationalOps.activityGrid(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == want.keySet)
    val total = rows.length.toLong
    got.foreach { case (cell, (n, ppm)) =>
      assert(n == want(cell), s"cell $cell")
      assert(ppm == n * 1000000L / total, s"cell $cell share")
      assert(cell._1 >= 0 && cell._1 <= 6 && cell._2 >= 0 && cell._2 <= 23)
    }
    assert(got.values.map(_._1).sum == total, "cells partition the events")
  }

  test("cycle time percentiles agree with a driver-side recount") {
    val deltas = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .selectExpr("o_orderpriority",
        "datediff(to_date(l_shipdate), to_date(o_orderdate)) as days")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val got = RelationalOps.cycleTime(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4))).toMap
    val byP = deltas.groupBy(_._1)
    assert(got.keySet == byP.keySet)
    byP.foreach { case (p, g) =>
      val xs = g.map(_._2).sorted
      def q(f: Double): Double = {
        val pos = f * (xs.length - 1)
        val (lo, hi) = (xs(pos.toInt), xs(math.ceil(pos).toInt))
        lo + (hi - lo) * (pos - math.floor(pos))
      }
      val (n, p50, p90, mx) = got(p)
      assert(n == g.size && mx == xs.last, s"$p counts")
      assert(math.abs(p50 - q(0.5)) < 1e-3, s"$p p50")
      assert(math.abs(p90 - q(0.9)) < 1e-3, s"$p p90")
      assert(p50 <= p90 && p90 <= mx.toDouble, s"$p monotone")
    }
  }

  test("basket cap: a mega-basket emits O(cap²) pairs, small baskets exact") {
    import spark.implicits._
    // pathological basket: one order with 500 distinct parts would be
    // C(500,2)=124,750 pairs uncapped; the cap bounds it at C(64,2)
    val mega = (1L to 500L).map(pk => (1L, pk)) ++
      Seq((2L, 7L), (2L, 9L), (3L, 7L), (3L, 9L), (3L, 11L))
    val op = mega.toDF("okey", "pk")
    val capped = RelationalOps.cappedBasketRows(op)
    val rows = capped.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rows(1L).size == 64, "mega-basket sampled to the cap")
    assert(rows(2L).size == 2 && rows(3L).size == 3,
      "baskets under the cap keep every part")
    // small baskets are pair-complete (the cap is the identity there)
    assert(rows(2L) == Set(7L, 9L) && rows(3L) == Set(7L, 9L, 11L))
    // the sampled set is the bottom-64 of the (quad(pk), pk) total
    // order — the same set the r12 sketch array picked
    val want = (1L to 500L)
      .sortBy(pk => (graft.functions.ihash.quadLong(pk), pk)).take(64).toSet
    assert(rows(1L) == want, "mega-basket keeps the bottom-64 by hash order")
    // and the pair fan-out is the capped bound, not the quadratic one
    val nPairs = capped.select(col("okey"), col("pk").as("pa"))
      .join(capped.select(col("okey"), col("pk").as("pb")), Seq("okey"))
      .filter(col("pa") < col("pb")).count()
    assert(nPairs == 64L * 63 / 2 + 1 + 3,
      s"pair count O(B·cap): got $nPairs")
  }
}

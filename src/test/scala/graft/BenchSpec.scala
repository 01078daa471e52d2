package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures Bench stdout through a bounded tail window:
  * rounds 1 and 2 both ended with `parsed: null` because the single
  * stdout line carried the 68-entry per-query map (~3.6 KB) and the
  * window truncated its head. The contract under test: the stdout
  * line is COMPACT (total only, hard size bound) and the per-query
  * detail lives only in the BENCH_OUT.json file copy. */
class BenchSpec extends AnyFunSuite with TempDirs {

  private val manyQueries =
    (1 to 100).map(i => s"some_quite_long_query_name_$i" -> i * 0.123456789)

  test("stdout line stays under 500 bytes regardless of query count") {
    val line = Bench.compactLine(71.87667452500001, "/root/testdata/sf0.1")
    assert(line.getBytes("UTF-8").length < 500, s"line too long: $line")
    assert(!line.contains("queries"), "per-query map must not ride on stdout")
    // shape the driver parses: one JSON object, metric/value/unit/sf
    assert(line.startsWith("""{"metric":"total","value":71.876674525"""))
    assert(line.contains(""""unit":"sec""""))
    assert(line.endsWith(""""sf":0.1}"""))
  }

  test("stdout line with per-query results keeps only the top-20 and " +
    "stays inside the driver's 2000-char tail window") {
    val cal = Bench.Calib(0.12345678, 3.87654321, 31.72, 32,
      "Some Vendor(R) Model CPU @ 9.99GHz")
    // 300 queries, worst-case long names — more than the real 238
    val wide = (1 to 300).map(i =>
      f"a_rather_long_query_name_number_$i%03d" -> (1000.0 - i) / 7.0)
    val line = Bench.compactLine(159.2, "/x/sf0.1", Some(cal),
      Some(98.5), wide)
    val n = """"a_rather_long_query_name_number_""".r
      .findAllIn(line).length
    assert(n == 20, s"expected exactly the 20 slowest, got $n")
    // slowest first: entry 001 (largest value) must lead the map
    assert(line.contains(""""queries":{"a_rather_long_query_name_number_001":"""))
    assert(!line.contains("number_021"), "21st slowest must not ride")
    assert(line.endsWith(""""sf":0.1}"""), "sf must stay the final field")
    // hard bound: comfortably below the 2000-char window even with
    // calib + oracle + the sbt [success] trailer sharing the tail
    assert(line.getBytes("UTF-8").length < 1500, s"line too long: $line")
    // no results → field absent entirely (back-compat shape)
    assert(!Bench.compactLine(1.0, "/x/sf0.1").contains("queries"))
  }

  test("calibrated stdout line carries calib fields and stays bounded") {
    val cal = Bench.Calib(0.12345678, 3.87654321, 31.72, 32,
      "Some Vendor(R) Model CPU @ 9.99GHz with an absurdly long suffix")
    val line = Bench.compactLine(71.8766, "/root/testdata/sf0.1", Some(cal))
    assert(line.getBytes("UTF-8").length < 500, s"line too long: $line")
    assert(line.contains(""""calib":{"st":0.1235,"mt":3.8765,"load":31.72,"cores":32,"cpu":"""))
    assert(line.endsWith(""""sf":0.1}"""), "sf must stay the final field")
    assert(!line.contains("absurdly"), "cpu model must be truncated")
    // a real probe on this machine: sane, positive, mt >= roughly st
    val real = Bench.calibrate()
    assert(real.st > 0 && real.mt > 0 && real.cores > 0)
    assert(real.mt >= real.st * 0.5,
      s"full-load probe should not beat single-thread: $real")
  }

  test("oracle denominator rides both lines as oracle_total + ratio") {
    val line = Bench.compactLine(159.2, "/x/sf0.1", None, Some(98.5))
    assert(line.contains(""""oracle_total":98.5,"ratio":1.616,"""))
    assert(line.endsWith(""""sf":0.1}"""), "sf must stay the final field")
    assert(line.getBytes("UTF-8").length < 500)
    val detail = Bench.detailLine(159.2, manyQueries, "/x/sf0.1",
      oracle = Some(98.5))
    assert(detail.contains(""""oracle_total":98.5,"ratio":1.616,"""))
    // no oracle → fields absent, shape unchanged (None and ≤0 alike)
    assert(!Bench.compactLine(1.0, "/x/sf0.1").contains("oracle"))
    assert(!Bench.compactLine(1.0, "/x/sf0.1", None, Some(0.0)).contains("oracle"))
  }

  test("sf parses to a number for sfN dirs and degrades to a string") {
    assert(Bench.compactLine(1.0, "/x/sf0.001").endsWith(""""sf":0.001}"""))
    assert(Bench.compactLine(1.0, "weird-dir").endsWith(""""sf":"weird-dir"}"""))
  }

  test("detail line carries the full per-query map for the file copy") {
    val line = Bench.detailLine(12.3, manyQueries, "/root/testdata/sf0.1")
    assert(line.contains(""""queries":{"""))
    assert(manyQueries.forall { case (k, _) => line.contains("\"" + k + "\":") })
  }

  test("detail line separates memo-fill timings from query timings") {
    val fills = Seq("shingle_sets" -> 1.25, "ann_cents" -> 0.5)
    val line = Bench.detailLine(10.0, manyQueries, "/x/sf0.1", fills)
    assert(line.contains(""""fills":{"shingle_sets":1.25,"ann_cents":0.5}"""))
    // no fills -> empty map, still valid JSON (the driver json.loads it)
    assert(Bench.detailLine(1.0, manyQueries, "/x/sf0.1")
      .contains(""""fills":{}"""))
  }

  test("detail line publishes fill root causes and calib") {
    val errs = Map("ann_cents" -> "java.lang.RuntimeException: boom\"x")
    val cal = Bench.Calib(0.1, 3.2, 1.5, 32, "cpu")
    val line = Bench.detailLine(10.0, manyQueries, "/x/sf0.1",
      Seq("ann_cents" -> -0.7), Some(cal), errs)
    assert(line.contains(""""fill_errors":{"ann_cents":"java.lang.RuntimeException: boom\"x"}"""))
    assert(line.contains(""""calib":{"st":0.1,"""))
    // default: empty error map, no calib — still the same parseable shape
    val bare = Bench.detailLine(1.0, manyQueries, "/x/sf0.1")
    assert(bare.contains(""""fill_errors":{}""") && !bare.contains("calib"))
  }

  test("delta map against a synthetic prior artifact flags regressions") {
    // a synthetic prior BENCH_OUT: one faster query, one slower, one
    // removed; current adds one brand-new query
    val prior = java.nio.file.Paths.get(tempDir("bench_prev"), "prev.json")
    java.nio.file.Files.writeString(prior,
      """{"metric":"total","value":9.9,"unit":"sec",""" +
        """"queries":{"q_a":1.0,"q_b":2.5,"q_gone":3.0},"sf":"/x/sf0.1"}""" + "\n")
    val prev = Bench.prevQueries(prior.toString)
    assert(prev == Map("q_a" -> 1.0, "q_b" -> 2.5, "q_gone" -> 3.0))
    val current = Seq("q_a" -> 1.75, "q_b" -> 2.0, "q_new" -> 0.4)
    val deltas = Bench.deltaMap(current, prev)
    // regression visible (+0.75), improvement visible (−0.5), queries
    // without a baseline (new) or a current run (removed) are absent
    assert(deltas == Seq("q_a" -> 0.75, "q_b" -> -0.5))
    val line = Bench.detailLine(4.15, current, "/x/sf0.1", deltas = deltas)
    assert(line.contains(""""delta":{"q_a":0.75,"q_b":-0.5}"""))
    // missing/corrupt prior file degrades to no deltas, never an error
    assert(Bench.prevQueries("/nonexistent/path.json").isEmpty)
    java.nio.file.Files.writeString(prior, "{not json")
    assert(Bench.prevQueries(prior.toString).isEmpty)
    assert(Bench.detailLine(1.0, current, "/x/sf0.1")
      .contains(""""delta":{}"""))
  }

  test("detail line publishes suite-wide spill bytes when provided") {
    val line = Bench.detailLine(1.0, manyQueries, "/x/sf0.1",
      spill = Some((123456789L, 42L)))
    assert(line.contains(""""spill":{"mem":123456789,"disk":42}"""))
    assert(!Bench.detailLine(1.0, manyQueries, "/x/sf0.1").contains("spill"))
  }

  test("fill-overlapped queries are named on both lines and bounded") {
    val cal = Bench.Calib(0.12345678, 3.87654321, 31.72, 32,
      "Some Vendor(R) Model CPU @ 9.99GHz")
    val wide = (1 to 300).map(i =>
      f"a_rather_long_query_name_number_$i%03d" -> (1000.0 - i) / 7.0)
    // worst case: EVERY query overlapped the fill phase
    val all = wide.map(_._1).toSet
    val line = Bench.compactLine(159.2, "/x/sf0.1", Some(cal),
      Some(98.5), wide, fillOverlap = all)
    // restricted to top-20 names, capped at 10, slowest first
    val ov = """"fill_overlap":\[([^\]]*)\]""".r
      .findFirstMatchIn(line).map(_.group(1)).getOrElse("")
    val names = ov.split(",").filter(_.nonEmpty)
    assert(names.length == 10, s"expected 10 capped names: $ov")
    assert(names.head.contains("number_001"), "slowest overlapped first")
    assert(line.getBytes("UTF-8").length < 1900,
      s"line too long (${line.length}): $line")
    // no overlap -> field absent (back-compat shape)
    assert(!Bench.compactLine(1.0, "/x/sf0.1", results = wide)
      .contains("fill_overlap"))
    // detail line carries the FULL list plus per-query oracle walls
    val detail = Bench.detailLine(159.2, manyQueries, "/x/sf0.1",
      fillOverlap = Seq("q_a", "q_b"),
      oracleQueries = Seq("q_a" -> 0.25, "q_b" -> 1.5))
    assert(detail.contains(""""fill_overlap":["q_a","q_b"]"""))
    assert(detail.contains(""""oracle_queries":{"q_a":0.25,"q_b":1.5}"""))
    // defaults: empty but present, still parseable JSON
    val bare = Bench.detailLine(1.0, manyQueries, "/x/sf0.1")
    assert(bare.contains(""""fill_overlap":[]"""))
    assert(bare.contains(""""oracle_queries":{}"""))
  }

  test("detail line decomposes spill by job label when provided") {
    val line = Bench.detailLine(1.0, manyQueries, "/x/sf0.1",
      spillBy = Seq("fill:minhash_banded" -> (1024L, 2048L),
        "q:q_basket_lift" -> (10L, 0L)))
    assert(line.contains(
      """"spill_by":{"fill:minhash_banded":{"mem":1024,"disk":2048},""" +
        """"q:q_basket_lift":{"mem":10,"disk":0}}"""))
    assert(!Bench.detailLine(1.0, manyQueries, "/x/sf0.1")
      .contains("spill_by"))
  }

  test("per-query oracle walls parse from the tool's progress lines") {
    val text =
      """     0.03  ann_binary
        |    12.50  dedup_embedding
        |garbled 0.5 line with extra tokens
        |ORACLE_TOTAL=115.3 N=240 sf=/x lanes=1
        |""".stripMargin
    val parsed = Bench.parseOraclePerQuery(text)
    assert(parsed == Seq("ann_binary" -> 0.03, "dedup_embedding" -> 12.5))
  }

  test("a failed query is named with its root cause and leaves no timing") {
    val spark = TestSession.spark
    val (timed, errors) = Bench.timeQueries(spark, TestSession.sf, Seq(
      "ok_query" -> ((s, _) => s.range(3).toDF("x")),
      "build_fails" -> ((_, _) =>
        throw new IllegalStateException("planted build error")),
      "exec_fails" -> ((s, _) =>
        s.range(1).selectExpr("raise_error('planted exec error') AS y"))))
    assert(timed.map(_.name) == Seq("ok_query"),
      "a failed query's wall must not be published as a timing")
    assert(errors.keySet == Set("build_fails", "exec_fails"))
    assert(errors("build_fails").startsWith(
      "java.lang.IllegalStateException: planted build error at "),
      s"class, message and top frame expected: ${errors("build_fails")}")
    assert(errors("exec_fails").contains("planted exec error"))
    val results = timed.map(t => t.name -> t.wall)
    val detail = Bench.detailLine(1.0, results, "/x/sf0.1",
      queryErrors = errors)
    assert(detail.contains(""""query_errors":{"build_fails":"java.lang.IllegalStateException: planted build error"""))
    assert(Bench.detailLine(1.0, results, "/x/sf0.1")
      .contains(""""query_errors":{}"""))
    // stdout: the count plus a bounded sample, whatever fails
    val many = (1 to 50).map(i => f"failed_query_$i%02d" -> ("x" * 500)).toMap
    val line = Bench.compactLine(1.0, "/x/sf0.1", results = results,
      queryErrors = many)
    assert(line.contains(""""failed":50,"query_errors":{"failed_query_01":"""))
    assert(!line.contains("failed_query_04"), "at most 3 names ride stdout")
    assert(line.getBytes("UTF-8").length < 600, s"line too long: $line")
    assert(line.endsWith(""""sf":0.1}"""))
    assert(!Bench.compactLine(1.0, "/x/sf0.1").contains("failed"))
  }

  test("each timed query carries its codegen compiles; a rerun compiles none") {
    val spark = TestSession.spark
    // a literal unseen in this JVM makes the generated source new
    val salt = System.nanoTime()
    val q: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (s, _) => s.range(100).selectExpr(s"id * $salt + 1 AS y").where("y % 7 = 0")
    val (first, _) = Bench.timeQueries(spark, TestSession.sf, Seq("q" -> q))
    val (again, _) = Bench.timeQueries(spark, TestSession.sf, Seq("q" -> q))
    assert(first.head.compiles > 0, "a new plan must compile")
    assert(again.head.compiles == 0, "a cached plan must not recompile")
    val detail = Bench.detailLine(1.0, Seq("q" -> 0.5), "/x/sf0.1",
      compiles = Seq("q" -> 3L), compilesTotal = 7L)
    assert(detail.contains(""""codegen_compiles":{"q":3},"codegen_compiles_total":7,"""))
  }

  test("light queries construct without creating a memo cell") {
    // the fill runs concurrently with the light queries: a light
    // query that reads a memo key would time a fill wait, not itself
    val spark = TestSession.spark
    Memo.clear(spark)
    val light = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => Bench.lightQueries(n) }
    assert(light.size == Bench.lightQueries.size && light.size > 100)
    val owners = light.collect { case (n, build)
        if { build(spark, TestSession.sf); Memo.keys(spark).nonEmpty } =>
      Memo.clear(spark); n }
    assert(owners.isEmpty, s"light queries that own memo cells: $owners")
  }

  test("strings with quotes/backslashes/control chars stay valid JSON") {
    val nasty = "a\"b\\c\nd\te"
    assert(Bench.jsonStr(nasty) == "\"a\\\"b\\\\c\\nd\\te\"")
    val line = Bench.compactLine(1.0, s"/data/$nasty")
    // the fallback sf string must be escaped, not embedded raw
    assert(line.contains("\\\"b\\\\c"), s"unescaped: $line")
    val detail = Bench.detailLine(1.0, Seq(nasty -> 0.5), nasty)
    assert(detail.contains(Bench.jsonStr(nasty) + ":0.5"))
  }
}

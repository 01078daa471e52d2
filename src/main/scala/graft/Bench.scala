package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE COMPACT JSON line for the driver.
  *
  * The driver captures stdout through a bounded tail window, so the
  * per-query timing map (68 entries, ~3.6 KB) must NOT ride on the
  * stdout line — it head-truncates and the driver parses nothing
  * (BENCH_r01/r02 `parsed: null`). Split:
  *   - stdout (LAST line): compact total-only JSON, <500 bytes
  *     (BenchSpec asserts the bound);
  *   - SPARK_GRAFT_BENCH_OUT file (default BENCH_OUT.json): the full
  *     line with the per-query map, for profiling and the judge.
  *
  * A warmup action runs first so JVM/classloader/codegen startup cost
  * isn't attributed to the first query; each query is then timed as a
  * full plan → action pass into the `noop` sink, which runs the whole
  * projection (a `count()` lets Catalyst prune the output columns)
  * without collecting rows to the driver. */
object Bench {

  /** JSON string literal with full escaping (quote, backslash, control
    * chars) — a path or query name containing `"` or `\` must not
    * produce an unparseable line for the driver. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Host calibration published with every bench line so a consumer
    * can tell a slow RUN from a slow/contended HOST without a re-run
    * (round 6: a host migration made an unchanged tree read as a 2×
    * regression). `st`/`mt` are seconds for a FIXED deterministic CPU
    * probe (same instruction stream every run) on 1 thread and on
    * `cores` threads; `load` is the 1-minute load average sampled
    * BEFORE the probe (so the probe's own load doesn't pollute it);
    * `cpu` is the /proc/cpuinfo model string. Normalizing any two
    * bench totals by their `st` ratio (or spotting `load` ≫ `cores`)
    * makes cross-boot comparisons meaningful. */
  final case class Calib(st: Double, mt: Double, load: Double,
                         cores: Int, cpu: String) {
    /** Compact JSON fragment; cpu model truncated so the stdout line
      * stays inside the driver's tail window. */
    def json: String =
      s"""{"st":${f(st)},"mt":${f(mt)},"load":${f(load)},"cores":$cores,"cpu":${jsonStr(cpu.take(48))}}"""
    private def f(d: Double) = BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble.toString
  }

  /** One pass of a xxhash-style 64-bit mix over a constant buffer —
    * fixed work, no allocation, no memory-bandwidth sensitivity
    * beyond L1; wall time depends only on clock speed and how much
    * CPU the scheduler actually gives the thread. */
  private def mixPasses(passes: Int): Long = {
    var h = 0x9E3779B185EBCA87L
    var p = 0
    while (p < passes) {
      var i = 0
      while (i < 65536) {
        h = java.lang.Long.rotateLeft(h ^ (i * 0xC2B2AE3D27D4EB4FL), 31) *
          0x165667B19E3779F9L
        i += 1
      }
      p += 1
    }
    h
  }
  @volatile private var sink = 0L // defeat dead-code elimination

  /** Measure the fixed probe single-threaded and on `cores` threads
    * (each thread runs the FULL single-thread workload, so on an idle
    * host mt ≈ st and on a contended/oversubscribed host mt ≫ st). */
  def calibrate(): Calib = {
    val cores = Runtime.getRuntime.availableProcessors()
    val load =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val cpu =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get("/proc/cpuinfo")).asScala
          .collectFirst { case l if l.startsWith("model name") =>
            l.split(":", 2)(1).trim }
          .getOrElse("unknown")
      } catch { case _: Throwable => "unknown" }
    val passes = 2000 // ~130M mixes, ~0.1–0.3 s on one modern core
    sink ^= mixPasses(passes / 10) // JIT warmup, excluded from timing
    val t0 = System.nanoTime()
    sink ^= mixPasses(passes)
    val st = (System.nanoTime() - t0) / 1e9
    val threads = (1 to cores).map { _ =>
      new Thread(() => { sink ^= mixPasses(passes) })
    }
    val t1 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e9
    Calib(st, mt, load, cores, cpu)
  }

  /** How many of the slowest per-query timings ride the stdout line.
    * The driver's tail window is 2,000 chars and HEAD-truncates an
    * over-long line into an unparseable artifact (the r01/r02
    * failure), so the full 238-entry map cannot ride stdout — but a
    * regression diff needs per-query numbers in the driver-shape
    * artifact (round-11 verdict item 7). Compromise: the top-N
    * slowest (where regressions live), 2 dp, sorted descending; the
    * FULL map stays in the committed BENCH_OUT.json detail artifact.
    * 20 entries ≈ 700 bytes; BenchSpec bounds the whole line. */
  private val TopQueriesOnStdout = 20

  /** How many fill-overlapped names ride the stdout line (the full
    * list lives in the detail artifact) — bounded so the line stays
    * inside the driver's tail window. */
  private val MaxOverlapOnStdout = 10

  /** How many failed queries (and how many chars of each root cause)
    * ride the stdout line; the full map lives in the detail artifact. */
  private val MaxErrorsOnStdout = 3
  private val MaxErrorCharsOnStdout = 80

  /** The driver-facing stdout line: total, host calibration, oracle
    * ratio, and the [[TopQueriesOnStdout]] slowest queries. Queries
    * whose wall overlapped the concurrent memo-fill phase are NAMED
    * in `fill_overlap` (restricted to names in the top-20 map,
    * slowest first, capped) — their walls absorb fill contention, so
    * a per-query diff against them is noise, not a plan regression
    * (the round-12 sf10 artifact read +84 s on etl_zscore_outliers
    * for exactly this reason). Failed queries are counted in `failed`
    * and the first few (by name) named in `query_errors` with a
    * truncated root cause. Kept a pure function so BenchSpec can
    * bound its size. */
  def compactLine(total: Double, sfDir: String,
                  calib: Option[Calib] = None,
                  oracle: Option[Double] = None,
                  results: Seq[(String, Double)] = Nil,
                  fillOverlap: Set[String] = Set.empty,
                  queryErrors: Map[String, String] = Map.empty): String = {
    // "sf0.1" → 0.1; anything unparseable becomes an ESCAPED string
    val base = sfDir.split('/').last
    val sf = base.stripPrefix("sf")
    val sfJson = sf.toDoubleOption.map(_.toString).getOrElse(jsonStr(base))
    val cal = calib.map(c => s""""calib":${c.json},""").getOrElse("")
    val top = results.sortBy(-_._2).take(TopQueriesOnStdout)
    val qs =
      if (top.isEmpty) ""
      else top
        .map { case (k, v) =>
          jsonStr(k) + ":" + BigDecimal(v)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble }
        .mkString(""""queries":{""", ",", "},")
    val ov = top.collect { case (k, _) if fillOverlap(k) => jsonStr(k) }
      .take(MaxOverlapOnStdout)
    val ovJson =
      if (ov.isEmpty) "" else ov.mkString(""""fill_overlap":[""", ",", "],")
    val errJson =
      if (queryErrors.isEmpty) ""
      else s""""failed":${queryErrors.size},""" +
        errorsJson(queryErrors.toSeq.sortBy(_._1).take(MaxErrorsOnStdout)
          .map { case (k, v) => k -> v.take(MaxErrorCharsOnStdout) }) + ","
    s"""{"metric":"total","value":$total,"unit":"sec",$cal${oracleJson(total, oracle)}$qs$ovJson$errJson"sf":$sfJson}"""
  }

  /** `"query_errors":{name: root cause, ...}`. */
  private def errorsJson(errs: Seq[(String, String)]): String =
    errs.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString(""""query_errors":{""", ",", "}")

  /** The 2× gate as ONE field pair: the DuckDB oracle's same-boot
    * wall over the identical inventory, and total/oracle. Round after
    * round the gate number was re-litigated against boot noise
    * (159.2 vs 124.0, 136.1 vs 122…) because the denominator came
    * from a different run — now both land in the same artifact from
    * the same boot (round-9 verdict item 8). */
  private def oracleJson(total: Double, oracle: Option[Double]): String =
    oracle.filter(_ > 0).map { o =>
      val r = BigDecimal(total / o)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      s""""oracle_total":$o,"ratio":$r,"""
    }.getOrElse("")

  /** Per-query timings parsed from a PRIOR detail artifact — the
    * round-over-round baseline for [[deltaMap]]. Any parse problem
    * (missing file, truncated line, no `queries` object) yields an
    * empty map: deltas are a diagnostic, never a reason to fail a
    * bench run. */
  def prevQueries(path: String): Map[String, Double] = try {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(path))) \ "queries" match {
      case JObject(fs) => fs.collect {
        case (k, JDouble(v))  => k -> v
        case (k, JDecimal(v)) => k -> v.toDouble
        case (k, JInt(v))     => k -> v.toDouble
        case (k, JLong(v))    => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }
  } catch { case _: Throwable => Map.empty }

  /** current − previous per query, for queries present in BOTH runs
    * (a new query has no baseline; a removed one no current): a
    * regressed query is then visible in the artifact itself, no
    * cross-file arithmetic needed. */
  def deltaMap(results: Seq[(String, Double)],
               prev: Map[String, Double]): Seq[(String, Double)] =
    results.collect { case (k, v) if prev.contains(k) => k -> (v - prev(k)) }

  /** The full line (per-query map included) written to the file copy.
    * `fills` carries the shared-relation materialization cost (one
    * entry per memo) SEPARATELY from the query timings: per-query
    * numbers then measure the probe, not whichever query ran first.
    * `fillErrors` carries the root cause of any failed fill (negative
    * time in `fills`) so a broken shared relation is diagnosable from
    * the artifact alone. `deltas` is current−previous seconds per
    * query vs the prior artifact (empty when none was found), and
    * `spill` is the suite-wide (memoryBytesSpilled, diskBytesSpilled)
    * from stage metrics — zero on a healthy in-memory run, nonzero
    * under deliberate memory-pressure probes (§8g). `queryErrors` is
    * the root cause of every failed query; a failed query has no
    * entry in `results` or `builds`. `compiles` is the classes each
    * query compiled ([[timeQueries]]) and `compilesTotal` the suite's,
    * memo fill included. */
  def detailLine(total: Double, results: Seq[(String, Double)], sfDir: String,
                 fills: Seq[(String, Double)] = Nil,
                 calib: Option[Calib] = None,
                 fillErrors: Map[String, String] = Map.empty,
                 deltas: Seq[(String, Double)] = Nil,
                 spill: Option[(Long, Long)] = None,
                 oracle: Option[Double] = None,
                 fillOverlap: Seq[String] = Nil,
                 oracleQueries: Seq[(String, Double)] = Nil,
                 spillBy: Seq[(String, (Long, Long))] = Nil,
                 builds: Seq[(String, Double)] = Nil,
                 queryErrors: Map[String, String] = Map.empty,
                 compiles: Seq[(String, Long)] = Nil,
                 compilesTotal: Long = 0): String = {
    val qs = results.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val fl = fills.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val fe = fillErrors.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }
      .mkString("{", ",", "}")
    val dl = deltas.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val sp = spill.map { case (m2, d2) =>
      s""""spill":{"mem":$m2,"disk":$d2},""" }.getOrElse("")
    // per-label spill decomposition (top spillers, mem+disk bytes):
    // which queries/fills the suite-wide spill actually came from
    val spb =
      if (spillBy.isEmpty) ""
      else spillBy.map { case (k, (m2, d2)) =>
        jsonStr(k) + s""":{"mem":$m2,"disk":$d2}""" }
        .mkString(""""spill_by":{""", ",", "},")
    val cal = calib.map(c => s""""calib":${c.json},""").getOrElse("")
    // fill_overlap: every query whose wall ran (partly) concurrent
    // with the memo-fill phase — their per-query walls absorb fill
    // contention and must not be read as plan deltas
    val ov = fillOverlap.map(jsonStr).mkString("[", ",", "]")
    // per-query oracle walls (same run, same boot) — turns the suite
    // 2x gate into a per-query diagnostic for the cost distribution
    val oq = oracleQueries.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    // per-query BUILD seconds (DataFrame construction + analysis +
    // construction-time driver probes; wall − build = execution) —
    // the floor decomposition (r14, VERDICT item 4)
    val bd =
      if (builds.isEmpty) ""
      else builds.map { case (k, v) => jsonStr(k) + ":" + v }
        .mkString(""""build":{""", ",", "},")
    val qe = errorsJson(queryErrors.toSeq.sortBy(_._1))
    val cg = compiles.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec",$cal$sp$spb${oracleJson(total, oracle)}"queries":$qs,$bd$qe,"codegen_compiles":$cg,"codegen_compiles_total":$compilesTotal,"fills":$fl,"fill_errors":$fe,"delta":$dl,"fill_overlap":$ov,"oracle_queries":$oq,"sf":${jsonStr(sfDir)}}"""
  }

  /** Run the DuckDB oracle suite (tools/time_oracle.py, the driver-
    * side python interpreter) over the SAME inventory and data dir,
    * returning its wall seconds — forked after the Spark timings so
    * the two measurements share the boot but not the CPUs. Absent
    * tool/interpreter, a non-zero exit, or the time bound → None and
    * the bench line simply omits the ratio fields (the oracle is a
    * denominator, never a reason to fail a bench). Opt out with
    * SPARK_GRAFT_BENCH_ORACLE=0 (e.g. at sf10, where the oracle
    * needs a capacity-tuned staged run — see tools/selfcheck.py).
    * Also returns the per-query oracle walls parsed from the tool's
    * streamed progress lines (`<sec>  <name>`) — the detail artifact
    * publishes them so the 2× suite gate decomposes into per-query
    * ratios without a second oracle run. */
  def timeOracleDetailed(sfDir: String, threads: Int,
                         boundSec: Long = 7200)
      : Option[(Double, Seq[(String, Double)])] = {
    val tool = new java.io.File("tools/time_oracle.py")
    if (!tool.isFile) return None
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_bench_oracle")
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), json)
      val pb = new ProcessBuilder("python3", tool.getAbsolutePath,
        sfDir, dir.toString, threads.toString)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val buf = new java.lang.StringBuilder
      val reader = new Thread(() => {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var line = in.readLine()
        while (line != null) { buf.append(line).append('\n'); line = in.readLine() }
      })
      reader.setDaemon(true); reader.start()
      if (!p.waitFor(boundSec, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); return None
      }
      reader.join(10000)
      if (p.exitValue() != 0) {
        System.err.println(s"[bench] oracle timer failed:\n${buf.toString.takeRight(2000)}")
        return None
      }
      val text = buf.toString
      "ORACLE_TOTAL=([0-9.]+)".r.findFirstMatchIn(text)
        .map(m => (m.group(1).toDouble, parseOraclePerQuery(text)))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] oracle timer unavailable: ${e.getMessage}")
      None
    }
  }

  /** Per-query oracle walls from time_oracle.py's streamed progress
    * lines (`<sec>  <name>`, one per query). Any other line (the
    * ORACLE_TOTAL summary, with or without the `lanes=1` suffix of
    * older logs, or a garbled one) fails the match and is skipped —
    * the per-query map is a diagnostic, the summary ORACLE_TOTAL line
    * is the contract. */
  private[graft] def parseOraclePerQuery(text: String): Seq[(String, Double)] =
    "(?m)^\\s*([0-9]+\\.[0-9]+)\\s+(\\S+)\\s*$".r
      .findAllMatchIn(text)
      .map(m => m.group(2) -> m.group(1).toDouble).toSeq

  /** Suite-wide spill accounting from completed-stage task metrics —
    * the signal a memory-pressure probe reads (MEMORY_AND_DISK memo
    * eviction and shuffle spill both land here). Per-label
    * attribution (round-12 verdict item 4): stages map to the job
    * description each query/fill sets ([[main]] labels queries `q:*`
    * and Memo.fill labels fills `fill:*`), so the suite-wide
    * total decomposes into the stages that actually spilled. */
  final class SpillListener extends org.apache.spark.scheduler.SparkListener {
    private val mem = new java.util.concurrent.atomic.AtomicLong
    private val disk = new java.util.concurrent.atomic.AtomicLong
    private val stageLabel =
      new java.util.concurrent.ConcurrentHashMap[Int, String]
    private val byLabel =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      if (desc.nonEmpty)
        j.stageIds.foreach(sid => stageLabel.put(sid, desc))
    }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      Option(sc.stageInfo.taskMetrics).foreach { tm =>
        mem.addAndGet(tm.memoryBytesSpilled)
        disk.addAndGet(tm.diskBytesSpilled)
        if (tm.memoryBytesSpilled > 0 || tm.diskBytesSpilled > 0) {
          val label = Option(stageLabel.get(sc.stageInfo.stageId))
            .getOrElse("(unlabeled)")
          byLabel.merge(label,
            (tm.memoryBytesSpilled, tm.diskBytesSpilled),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
        stageLabel.remove(sc.stageInfo.stageId)
      }
    }
    def snapshot: (Long, Long) = (mem.get, disk.get)
    /** Top `k` spilling labels by mem+disk bytes, descending. */
    def topSpillers(k: Int): Seq[(String, (Long, Long))] = {
      import scala.jdk.CollectionConverters._
      byLabel.asScala.toSeq.sortBy { case (_, (m, dd)) => -(m + dd) }.take(k)
    }
  }

  /** The queries that read only base tables — the memo-free
    * modules' inventories, timed while [[Memo.fill]] runs in the
    * background. Declared by module, not guessed from name prefixes;
    * BenchSpec asserts that constructing every one of them leaves a
    * cleared session with zero memo cells. */
  private[graft] def lightQueries: Set[String] = {
    import graft.operators.{EtlOps, IngestOps, ReferencePipeline,
      RelationalOps, Upsert}
    RelationalOps.queries.keySet ++ EtlOps.queries.keySet ++
      IngestOps.queries.keySet ++ ReferencePipeline.queries.keySet ++
      Upsert.queries.keySet
  }

  /** Classes Janino has compiled in this JVM so far: every miss of
    * Spark's generated-class cache. A warm pass over a repeated
    * workload adds zero (the cache is sized in
    * [[GraftSession.builder]]); the per-query and suite deltas in the
    * detail artifact show a return of cache thrash. */
  private[graft] def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** One successfully timed query: its start stamp (drives the
    * fill-overlap flag), build and wall seconds (wall − build is
    * execution) and the classes compiled while it ran. */
  private[graft] final case class Timed(name: String, startNanos: Long,
                                        build: Double, wall: Double,
                                        compiles: Long)

  /** Time each query in order on the calling thread: build the
    * DataFrame, then run it in full into the `noop` sink. Returns a
    * [[Timed]] per query that succeeded, plus the root cause (class,
    * message, top frame) of every query that failed, whose wall is
    * no timing. The compile count is a JVM-wide delta, so a query
    * that overlaps the memo fill also counts the fill's compiles. */
  private[graft] def timeQueries(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)])
      : (Seq[Timed], Map[String, String]) = {
    val errors = Map.newBuilder[String, String]
    val timed = qs.flatMap { case (name, build) =>
      // thread-local label (guide §1.5): the UI and the spill
      // listener attribute this query's stages to it
      spark.sparkContext.setJobDescription(s"q:$name")
      val c0 = codegenCompiles
      val t0 = System.nanoTime()
      try {
        val df = build(spark, sfDir)
        val tb = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        Some(Timed(name, t0, (tb - t0) / 1e9, (System.nanoTime() - t0) / 1e9,
          codegenCompiles - c0))
      } catch { case t: Throwable =>
        val cause = Memo.describe(t)
        System.err.println(s"[bench] query '$name' FAILED — $cause")
        errors += name -> cause
        None
      }
    }
    spark.sparkContext.setJobDescription(null)
    (timed, errors.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // calibrate BEFORE Spark starts: the probe then measures the
    // host, not contention with our own executor threads
    val calib = Some(calibrate())
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    // the round-over-round baseline: an explicitly-pointed prior
    // artifact, else whatever detail file this run is about to
    // overwrite (i.e. the previous round's) — read BEFORE the write
    val prev = prevQueries(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", outFile))
    val spark = GraftSession.forData(s"local[$cpus]", cpus, sfDir)
    val spill = new SpillListener
    spark.sparkContext.addSparkListener(spill)
    // warmup: force real column reads on every fact table (count()
    // alone can satisfy from parquet footers) plus one higher-order
    // expression, so JVM/codegen/scan warmup isn't billed to the
    // first timed query
    locally {
      import org.apache.spark.sql.functions._
      Tables.lineitem(spark, sfDir).agg(sum("l_quantity")).collect()
      Tables.events(spark, sfDir).agg(sum("value")).collect()
      Tables.documents(spark, sfDir)
        .agg(sum(size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))))
        .collect()
      Tables.embeddings(spark, sfDir)
        .agg(sum(graft.functions.vector.norm(col("embedding")))).collect()
      Tables.orders(spark, sfDir).agg(sum("o_totalprice")).collect()
    }
    // Pipelined fill: the shared memo relations materialize on a
    // background thread WHILE the memo-free query families run (the
    // reference-ETL and relational/OLAP inventories read only the
    // base tables — [[lightQueries]], a contract BenchSpec checks by
    // constructing them in a cleared session). The fill is still
    // fully paid and fully measured — it just no longer serializes
    // ahead of ~80 s of queries that never touch it, exactly as a
    // production engine warms caches behind live traffic. Memo's
    // atomic Cell makes a mid-fill memo read safe (the reader blocks
    // on the in-flight build, MemoSpec), so a misclassified query
    // costs timing noise, never correctness. Per-fill entries in the
    // artifact are measured under this concurrency (profiling hints);
    // `total` is the true phase WALL from fill start to last query
    // end — what a rerun reproduces.
    val (light, heavy) = SparkEntry.queries.toSeq.sortBy(_._1)
      .partition { case (n, _) => lightQueries.contains(n) }
    val wallT0 = System.nanoTime()
    val compiles0 = codegenCompiles
    val fillEnd = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    // DAEMON fill thread + explicit shutdown: the default
    // newSingleThreadExecutor thread is non-daemon and was never shut
    // down, so after main() returned the idle pool thread kept the
    // forked JVM alive indefinitely (r14: a bench run hung 9+ minutes
    // in DestroyJavaVM AFTER the artifact was written and the metric
    // line printed). Timing is untouched — the leak bit post-exit.
    val fillPool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val t = new Thread(r, "bench-fill")
        t.setDaemon(true); t })
    val fillFut = {
      import scala.concurrent.{ExecutionContext, Future}
      Future {
        val f = Memo.fill(spark, sfDir)
        fillEnd.set(System.nanoTime())
        f
      }(ExecutionContext.fromExecutor(fillPool))
    }
    val (lightResults, lightErrors) = timeQueries(spark, sfDir, light)
    val fills = scala.concurrent.Await.result(fillFut,
      scala.concurrent.duration.Duration.Inf)
    fillPool.shutdown()
    val (heavyResults, heavyErrors) = timeQueries(spark, sfDir, heavy)
    val queryErrors = lightErrors ++ heavyErrors
    val compilesTotal = codegenCompiles - compiles0
    val timedAll = (lightResults ++ heavyResults).sortBy(_.name)
    val results = timedAll.map(t => (t.name, t.wall))
    // every query whose timed window BEGAN before the fill phase
    // finished shared CPUs with fill work — flag it so its wall is
    // never misread as a plan regression (round-12 verdict item 1)
    val overlapped = timedAll.filter(_.startNanos < fillEnd.get).map(_.name)
    val total = (System.nanoTime() - wallT0) / 1e9
    // listener events are posted asynchronously; drain the bus so the
    // last stage's metrics are in the snapshot
    org.apache.spark.GraftSparkBridge.drainListenerBus(
      spark.sparkContext, 10000L)
    // the same-boot oracle denominator, AFTER the Spark timings (the
    // fork then contends with an idle session, not the timed queries)
    val oracleDetail =
      if (sys.env.get("SPARK_GRAFT_BENCH_ORACLE").contains("0")) None
      else timeOracleDetailed(sfDir, cpus)
    val oracle = oracleDetail.map(_._1)
    val oracleQueries = oracleDetail.map(_._2).getOrElse(Nil)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      detailLine(total, results, sfDir, fills, calib, Memo.fillErrors,
        deltaMap(results, prev), Some(spill.snapshot), oracle,
        overlapped, oracleQueries, spill.topSpillers(16),
        timedAll.map(t => (t.name, t.build)), queryErrors,
        timedAll.map(t => (t.name, t.compiles)), compilesTotal) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    Memo.clear(spark)
    // the compact line is the LAST thing on stdout (after Spark's
    // shutdown chatter goes to stderr via log4j) so even a short tail
    // window catches an intact parseable line
    println(compactLine(total, sfDir, calib, oracle, results,
      overlapped.toSet, queryErrors))
    spark.stop()
  }
}

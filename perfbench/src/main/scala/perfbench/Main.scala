package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}

import graft.{GraftSession, Memo, SparkEntry, Tables}

/** The benchmark's JVM side: one closed-loop client that issues one
  * query at a time through the program's public entry points and times
  * each from the call into its builder until `collect()` has
  * materialised every row and column.
  *
  * `dump <file>` writes every query's oracle SQL text, as a JSON object.
  * `run ...` runs one workload (see [[Opts]]) and writes `report.json`,
  * the first result of every query as parquet under `results/` and,
  * when tracing, `spans.jsonl`. With `--fill 1`, before the timed passes
  * it runs `Memo.fill`, then the queries [[Main.FillQueries]] once each
  * on the filled memo, for the fill, store and graph metrics. Python
  * (run.py) turns the report into metrics and checks the results
  * against DuckDB.
  */
object Main {

  final case class Opts(data: String, queries: Seq[String], seed: Long,
                        passes: Int, trace: Boolean, warmup: Int,
                        coldMemo: Boolean, cores: Int, out: Path,
                        fill: Boolean)

  private def parse(args: Seq[String]): Opts = {
    val m = args.grouped(2).map { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("data"), m("queries").split(",").toSeq.filter(_.nonEmpty),
      m("seed").toLong, m("passes").toInt, m("trace") == "1",
      m("warmup").toInt, m("memo") == "cold", m("cores").toInt,
      Paths.get(m("out")), m.get("fill").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("dump") => dump(Paths.get(args(1)))
      case Some("run")  => run(parse(args.toSeq.tail))
      case _ => sys.error("usage: dump <file> | run --data .. --queries .. " +
        "--seed .. --passes .. --trace 0|1 --warmup <passes> --memo cold|warm " +
        "--cores .. --out .. [--fill 1]")
    }
    sys.exit(0)
  }

  private def dump(file: Path): Unit =
    Files.writeString(file, SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",\n", "}\n"))

  /** The queries run once after `Memo.fill`: the first folds two batches
    * into an on-disk feature store seeded by the fill's `store_lifecycle`,
    * the second reads the association graph of the fill's graph lanes. */
  val FillQueries = Seq("dedup_store_fold", "q_degree_dist")

  /** One query execution. */
  final case class Op(name: String, pass: Int, ok: Boolean, seconds: Double,
                      error: String = "")

  private def run(o: Opts): Unit = {
    val procStart = System.nanoTime() -
      (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val tr = new Tracer(o.trace)
    val builders = SparkEntry.queries
    val missing = (o.queries ++ FillQueries.filter(_ => o.fill))
      .filterNot(builders.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val setup = tr.open("setup", 0)
    val spark = tr.span("session", setup) {
      GraftSession.forData(s"local[${o.cores}]", o.cores, o.data)
    }
    val sc = spark.sparkContext
    val counts = if (o.trace) Some(new Counts) else None
    counts.foreach(sc.addSparkListener)
    tr.span("tables", setup) {
      Tables.all.filter(t => Files.exists(Paths.get(s"${o.data}/$t.parquet")))
        .foreach(t => Tables.table(spark, o.data, t).schema)
    }

    val ops = ArrayBuffer.empty[Op]
    val fillOps = ArrayBuffer.empty[Op]
    val firstRows = new java.util.LinkedHashMap[String, (Array[Row],
      org.apache.spark.sql.types.StructType)]
    val firstDigest = scala.collection.mutable.Map.empty[String, String]
    var exchanges = 0L
    val planPhase = scala.collection.mutable.Map.empty[String, Long]
    var cachedMb = 0.0
    var heapPeakMb = 0.0
    def sampleHeap(): Unit = heapPeakMb = heapPeakMb max Jvm.heapUsedMb

    /** One query, from the call into its builder to the last row. */
    def query(name: String, pass: Int, parent: Int): Op = {
      sc.setJobDescription(s"q:$name")
      val span = tr.open(s"q:$name", parent)
      sampleHeap()
      val t0 = System.nanoTime()
      try {
        Counts.phase(sc, "construct")
        val df = tr.span("construct", span)(builders(name)(spark, o.data))
        if (o.trace) {
          Counts.phase(sc, "plan")
          tr.span("plan", span)(df.queryExecution.executedPlan)
        }
        Counts.phase(sc, "execute")
        val rows = tr.span("execute", span)(df.collect())
        val secs = (System.nanoTime() - t0) / 1e9
        tr.close(span, t0)
        sampleHeap()
        if (o.trace && pass >= 0) {
          exchanges += Plans.exchanges(df.queryExecution.executedPlan)
          df.queryExecution.tracker.phases.foreach { case (p, s) =>
            planPhase(p) = planPhase.getOrElse(p, 0L) + s.durationMs }
        }
        val digest = Digest(rows, df.schema)
        if (!firstDigest.contains(name)) {
          firstDigest(name) = digest
          firstRows.put(name, (rows, df.schema))
        }
        if (firstDigest(name) != digest)
          Op(name, pass, ok = false, secs,
            "result differs from the first execution's")
        else Op(name, pass, ok = true, secs)
      } catch { case t: Throwable =>
        tr.close(span, t0)
        Op(name, pass, ok = false, (System.nanoTime() - t0) / 1e9,
          s"${t.getClass.getName}: ${t.getMessage}".take(500))
      } finally {
        sc.setJobDescription(null)
        Counts.phase(sc, null)
      }
    }

    /** One pass: every query once, in an order drawn from the seed and
      * the pass number. A cold-memo pass first drops every memoized
      * relation, so each query builds the ones it reads. */
    def pass(p: Int, parent: Int): Double = {
      val t0 = System.nanoTime()
      val ps = tr.open(if (p < 0) s"warmup:$p" else s"pass:$p", parent)
      if (o.coldMemo) Memo.clear(spark)
      val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(o.queries)
      order.foreach(q => ops += query(q, p, ps))
      tr.close(ps, t0)
      val wall = (System.nanoTime() - t0) / 1e9
      if (p >= 0) cachedMb += sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6
      wall
    }

    (-o.warmup until 0).foreach(pass(_, setup))
    tr.close(setup, procStart)

    // fill step, before the timed passes and in place of the warm-up:
    // the memo fill in a fresh session, one span per fill, then the fill
    // queries on the filled memo. A cold-memo timed pass clears it again.
    var fillSeconds, fillSumSeconds, storeDiskMb = 0.0
    if (o.fill) {
      counts.foreach(_.timed(sc, "fill"))
      val fs = tr.open("fill", 0)
      Memo.trace = Some { (n: String, t0: Long, t1: Long) =>
        tr.record(s"fill:$n", fs, t0, t1); () }
      val t0 = System.nanoTime()
      val perFill = try Memo.fill(spark, o.data) finally Memo.trace = None
      fillSeconds = (System.nanoTime() - t0) / 1e9
      tr.close(fs, t0)
      fillSumSeconds = perFill.map(_._2.abs).sum
      cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      val failedFills = perFill.filter(_._2 < 0).map(_._1)
      fillOps += Op("Memo.fill", -1, failedFills.isEmpty, fillSeconds,
        if (failedFills.isEmpty) "" else "failed fills: " +
          failedFills.map(n => s"$n (${Memo.fillErrors.getOrElse(n, "")})")
            .mkString(", ").take(500))
      FillQueries.foreach(q => fillOps += query(q, -1, fs))
      counts.foreach(_.timed(sc, null))
      storeDiskMb = Jvm.storeBytes / 1e6
    }

    val gc0 = Jvm.gcSeconds
    counts.foreach(_.timed(sc, "passes"))
    val timed0 = System.nanoTime()
    val setupSeconds = (timed0 - procStart) / 1e9
    heapPeakMb = 0.0
    val passWalls = (0 until o.passes).map(pass(_, 0))
    counts.foreach(_.timed(sc, null))
    val gcSeconds = Jvm.gcSeconds - gc0
    val heapPeak = heapPeakMb
    if (!o.fill) cachedMb /= passWalls.size

    // untimed: keep the first result of every query for the oracle check
    val results = o.out.resolve("results")
    firstRows.asScala.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(n).toString)
    }
    counts.foreach(_ => org.apache.spark.perfbench.BusDrain(sc))

    val n = passWalls.size.toDouble
    val layers: Seq[(String, Double)] = counts.toSeq.flatMap { c =>
      val spans = tr.totals
      def span(k: String) = spans.getOrElse(k, 0.0)
      val q = tr.queryTotals
      val ex = c("passes:execute") + c("passes:plan")
      val fill = c("fill:fill")
      val store = Seq("fill", "construct", "plan", "execute", "other")
        .map(k => c(s"fill:$k")).reduce(_ + _)
      Seq(
        "GraftSession.start_s" -> span("session"),
        "Tables.resolve_s" -> span("tables"),
        "operators.construct_s" -> q.construct / n,
        "operators.construct_jobs" -> c("passes:construct").jobs / n,
        "catalyst.analysis_s" -> planPhase.getOrElse("analysis", 0L) / 1e3 / n,
        "catalyst.optimization_s" ->
          planPhase.getOrElse("optimization", 0L) / 1e3 / n,
        "catalyst.planning_s" -> planPhase.getOrElse("planning", 0L) / 1e3 / n,
        "plans.exchanges" -> exchanges / n,
        "exec.s" -> q.execute / n,
        "exec.jobs" -> ex.jobs / n,
        "exec.stages" -> ex.stages / n,
        "exec.tasks" -> ex.tasks / n,
        "exec.task_cpu_s" -> ex.cpuNs / 1e9 / n,
        "exec.task_run_s" -> ex.runMs / 1e3 / n,
        "exec.shuffle_write_mb" -> ex.shuffleWrite / 1e6 / n,
        "exec.shuffle_read_mb" -> ex.shuffleRead / 1e6 / n,
        "exec.spill_mb" -> ex.spill / 1e6 / n,
        "Memo.fill_s" -> fillSeconds,
        "Memo.fill_sum_s" -> fillSumSeconds,
        "Memo.fill_jobs" -> fill.jobs.toDouble,
        "Memo.fill_task_cpu_s" -> fill.cpuNs / 1e9,
        "Memo.cached_mb" -> cachedMb,
        "DedupFeatureStore.written_mb" -> store.written / 1e6,
        "DedupFeatureStore.disk_mb" -> storeDiskMb,
        "jvm.gc_s" -> gcSeconds / n,
        "jvm.heap_peak_mb" -> heapPeak,
        "trace.unattributed_s" -> q.unattributed / n)
    }
    tr.write(o.out.resolve("spans.jsonl"))

    val report = new StringBuilder("{")
    report ++= s""""setup_s":$setupSeconds,"passes":${passWalls.mkString("[", ",", "]")},"""
    report ++= s""""results":${firstRows.keySet.asScala.toSeq.map(Json.str).mkString("[", ",", "]")},"""
    report ++= layers.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
      .mkString("\"layers\":{", ",", "},")
    def json(op: Op) =
      s"""{"name":${Json.str(op.name)},"pass":${op.pass},"ok":${op.ok},"s":${Json.num(op.seconds)},"error":${Json.str(op.error)}}"""
    report ++= fillOps.map(json).mkString("\"fill_ops\":[", ",\n", "],")
    report ++= ops.map(json).mkString("\"ops\":[", ",\n", "]}")
    Files.writeString(o.out.resolve("report.json"), report.toString + "\n")
    Memo.clear(spark)
    spark.stop()
  }
}

/** Order-insensitive fingerprint of a collected result: SHA-256 over
  * the schema and the sorted rows, each value rendered exactly (doubles
  * by their bits, so 0.0 and -0.0 differ; byte arrays by content). */
object Digest {
  def apply(rows: Array[Row], schema: org.apache.spark.sql.types.StructType): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.toDDL.getBytes("UTF-8"))
    rows.map(render).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "\u2205"
    case d: Double => "d" + java.lang.Double.doubleToRawLongBits(d).toHexString
    case f: Float => "f" + java.lang.Float.floatToRawIntBits(f).toHexString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("b", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.getClass.getSimpleName + ":" + other.toString
  }
}

object Plans {
  /** Shuffle and broadcast exchanges that ran in a final adaptive plan,
    * through query stages and subqueries; reused exchanges do no work
    * and are not counted. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

  /** Bytes under the feature store's `graft_store_*` trees in this JVM's
    * temporary directory. */
  def storeBytes: Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("graft_store_"))
      .map { d =>
        val files = Files.walk(d)
        try files.iterator.asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
        finally files.close()
      }.sum
  }
}

/** Spark-listener counts, charged by the job's local properties: the
  * tag of the counted phase (`passes` for the timed passes, `fill` for
  * the fill step), then the phase property the client sets
  * for a `q:<name>` job, `fill` for a `fill:<name>` job, else `other`.
  * Jobs started outside a counted phase are not counted. Events reach a
  * listener one at a time, on the listener bus thread. */
final class Counts extends SparkListener {
  import Counts._
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val acc = new ConcurrentHashMap[String, Acc]

  /** Count the jobs started from here on under `tag`; null stops. */
  def timed(sc: org.apache.spark.SparkContext, tag: String): Unit =
    sc.setLocalProperty(TimedProp, tag)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = Option(j.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val tag = prop(TimedProp).orNull
    if (tag == null) return
    val desc = prop("spark.job.description").getOrElse("")
    val phase =
      if (desc.startsWith("q:")) prop(PhaseProp).getOrElse("other")
      else if (desc.startsWith("fill:")) "fill"
      else "other"
    val key = s"$tag:$phase"
    acc.computeIfAbsent(key, _ => new Acc).jobs += 1
    j.stageIds.foreach(s => stageKey.put(s, key))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = stageKey.remove(e.stageInfo.stageId)
    if (key == null) return
    val a = acc.computeIfAbsent(key, _ => new Acc)
    Option(e.stageInfo.taskMetrics).foreach { m =>
      a.stages += 1
      a.tasks += e.stageInfo.numTasks
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.written += m.outputMetrics.bytesWritten
    }
  }

  def apply(key: String): Acc = Option(acc.get(key)).getOrElse(new Acc)
}

object Counts {
  val TimedProp = "perfbench.timed"
  val PhaseProp = "perfbench.phase"
  def phase(sc: org.apache.spark.SparkContext, p: String): Unit =
    sc.setLocalProperty(PhaseProp, p)

  final class Acc {
    var jobs, stages, tasks, cpuNs, runMs, shuffleWrite, shuffleRead,
      spill, written = 0L
    def +(b: Acc): Acc = {
      val r = new Acc
      r.jobs = jobs + b.jobs; r.stages = stages + b.stages
      r.tasks = tasks + b.tasks; r.cpuNs = cpuNs + b.cpuNs
      r.runMs = runMs + b.runMs; r.shuffleWrite = shuffleWrite + b.shuffleWrite
      r.shuffleRead = shuffleRead + b.shuffleRead; r.spill = spill + b.spill
      r.written = written + b.written
      r
    }
  }
}

/** In-memory spans (name, start, end, parent), written out at the end.
  * Disabled, it still runs the bodies but records nothing. Fill lanes
  * record from their own threads, so changes are synchronized. */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long,
                        end: Long)
  final case class QueryTotals(construct: Double, execute: Double,
                               unattributed: Double)
}

final class Tracer(enabled: Boolean) {
  import Tracer._
  private val spans = ArrayBuffer(Span(0, -1, "run", System.nanoTime(), 0L))

  def open(name: String, parent: Int): Int =
    if (!enabled) -1
    else record(name, parent, System.nanoTime(), 0L)

  /** A span with known start and end; returns its id. */
  def record(name: String, parent: Int, start: Long, end: Long): Int =
    if (!enabled) -1
    else spans.synchronized {
      spans += Span(spans.size, parent, name, start, end); spans.size - 1
    }

  /** Close span `id`; `start` (if earlier) replaces the recorded start. */
  def close(id: Int, start: Long): Unit = if (enabled && id >= 0) {
    val end = System.nanoTime()
    spans.synchronized {
      val s = spans(id)
      spans(id) = s.copy(start = math.min(s.start, start), end = end)
    }
  }

  def span[T](name: String, parent: Int)(body: => T): T = {
    val id = open(name, parent)
    val t0 = System.nanoTime()
    try body finally close(id, t0)
  }

  private def secs(s: Span) = (s.end - s.start) / 1e9

  /** Seconds per span name over the whole run. */
  def totals: Map[String, Double] =
    spans.groupBy(_.name).map { case (k, v) => k -> v.map(secs).sum }

  /** Construct and execute seconds over the timed queries, and the part
    * of each query's wall its construct, plan and execute spans miss. */
  def queryTotals: QueryTotals = {
    val timedPasses = spans.filter(_.name.startsWith("pass:")).map(_.id).toSet
    val qs = spans.filter(s => s.name.startsWith("q:") && timedPasses(s.parent))
    val qIds = qs.map(_.id).toSet
    val kids = spans.filter(s => qIds(s.parent)).groupBy(_.parent)
    def kid(q: Span, n: String) = kids.getOrElse(q.id, Nil).filter(_.name == n)
      .map(secs).sum
    QueryTotals(qs.map(kid(_, "construct")).sum, qs.map(kid(_, "execute")).sum,
      qs.map(q => secs(q) - Seq("construct", "plan", "execute")
        .map(kid(q, _)).sum).sum)
  }

  def write(file: Path): Unit = if (enabled) {
    spans(0) = spans(0).copy(end = System.nanoTime())
    Files.write(file, spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
      .asJava)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the test star schema (TESTDATA.md).
  *
  * Plain parquet scans: Catalyst pushes filters/projections down to
  * the scan, so callers never pre-materialize. At 100 TB these would
  * be partitioned/bucketed tables behind a catalog; the operator code
  * only ever sees a DataFrame, so the swap is transparent.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache (r14, the Catalyst-floor item): every
    * `spark.read.parquet` call re-lists the table directory and
    * re-infers the schema from parquet footers — driver-side,
    * single-threaded work that every one of the 240 queries paid per
    * table reference (~the largest share of the ~0.2 s per-query
    * "build" floor: the construct layer of a traced perfbench run).
    * The resolved DataFrame handle is immutable plan state (no cached data blocks,
    * so Memo.clear/MemSoak semantics are untouched) and the test
    * tables are immutable per (dir, name), so one resolution per
    * session serves every consumer. On a catalog-backed cluster the
    * catalog's own relation cache plays this role. */
  private val tableCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tableCache.computeIfAbsent((spark, dir, name), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // generated day-partition columns (`gpart_<src>_day` directories,
      // see plans.PartitionDatePruning) are pure LAYOUT: the source
      // column stays in the data files, so dropping the generated
      // column here restores the exact logical schema of the flat
      // layout — every operator and oracle is layout-oblivious, while
      // date predicates still prune the day directories through the
      // injected partition filters.
      val gparts = df.columns.filter(_.startsWith("gpart_"))
      if (gparts.isEmpty) df else df.drop(gparts.toSeq: _*)
    })

  /** Spread a scan across the session's parallelism before CPU-heavy
    * per-row work (hashing, shingling, vector math). The local test
    * files arrive as ONE split, which would serialize the whole
    * narrow pipeline on one core; at production scale the source has
    * enough splits and the repartition is skipped.
    *
    * The sizing check is analysis-only (`.rdd.getNumPartitions` would
    * run the physical planner once per call just to read the split
    * count). File COUNT alone is not split count — Spark bin-packs
    * many small files into few scan partitions — so the estimate
    * mirrors `FilePartition.maxSplitBytes` packing: splits ≈
    * ceil((totalBytes + files·openCost) / maxPartitionBytes). The
    * repartition is skipped only when that estimate already covers
    * the session parallelism; a non-file relation (memory stream,
    * local data) reports zero files and keeps the repartition, which
    * is what a one-partition local relation needs anyway. */
  def parallelize(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val n = sess.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val files = df.inputFiles
    val estSplits =
      if (files.isEmpty) 0
      else {
        import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
        val maxPart = byteStringAsBytes(
          sess.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        val openCost = byteStringAsBytes(
          sess.conf.get("spark.sql.files.openCostInBytes", "4MB"))
        // total size from the ALREADY-LISTED relation statistics (the
        // FileIndex materialized lengths during analysis) — no
        // per-file driver RPCs, which would serialize over thousands
        // of files at production scale. Must be the ANALYZED plan:
        // the raw logical plan may still hold an UnresolvedDataSource
        // leaf, which cannot compute stats.
        val totalBytes = df.queryExecution.analyzed.stats.sizeInBytes
        (((totalBytes + files.length * openCost) + maxPart - 1) / maxPart)
          .min(Int.MaxValue).toInt
      }
    if (estSplits >= n) df else df.repartition(n)
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong` it arrives as a Long that
    * we truncate to μs (`div`, not `/` — nanosecond epochs exceed
    * 2^53 so double division would corrupt them), then take as
    * TIMESTAMP_NTZ: the other parquet tables infer NTZ (naive), and
    * DuckDB's ns→μs cast is naive too, so oracle timestamps compare
    * equal with no timezone adjustment on either side. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.operators.DedupFeatureStore

/** The persisted dedup feature store: cross-session round trip,
  * replay idempotence, frozen-blocklist discipline, re-sent-id
  * supersession, bucket-pruned fold scans, compaction, run bases. */
class DedupStoreSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def words(seed: Int, n: Int) =
    (0 until n).map(i => s"w${(seed * 31 + i * 7) % 97}tok$i").mkString(" ")

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: QueryStageExec        => q +: allNodes(q.plan)
    case other                    => other +: other.children.flatMap(allNodes)
  }

  /** Files the EXECUTED plan actually read from store table `table`
    * (post-partition-pruning `numFiles` metric, summed over scans). */
  private def scannedFiles(df: DataFrame, table: String): Long =
    allNodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains(table)) =>
        f.metrics("numFiles").value
    }.sum

  private def filesOnDisk(dir: String): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  private def verdictRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet

  test("store round trip: a fresh load sees prior folds (cross-session re-crawl)") {
    val path = tempDir("graft_spec_store_rt")
    val seed = Seq((1L, words(1, 30)), (2L, words(2, 30))).toDF("doc_id", "text")
    val s1 = DedupFeatureStore.build(seed, path)
    // batch A folds a new doc 101 into the store
    s1.fold(Seq((101L, words(7, 30))).toDF("doc_id", "text"), 0L).collect()

    // "days later, another session": a pure-disk load — no shared
    // object state with s1 — must verdict against seed ∪ batch A
    val s2 = DedupFeatureStore.load(spark, path)
    val nearOf101 = words(7, 30).replace("tok3", "edit3")
    val v = s2.fold(
        Seq((201L, nearOf101), (202L, words(1, 30))).toDF("doc_id", "text"), 1L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v(201L) == ("near_dup", 101L),
      "near-dup of a PRIOR FOLD's doc, found through the loaded store")
    assert(v(202L) == ("exact_dup", 1L), "exact-dup of a seed doc")
  }

  test("generation fence: a concurrent fold of the same generation is " +
    "refused; the first fold's data survives intact") {
    val path = tempDir("graft_spec_store_fence")
    val seed = Seq((1L, words(1, 30)), (2L, words(2, 30))).toDF("doc_id", "text")
    val store = DedupFeatureStore.build(seed, path)
    val batch = Seq((301L, words(9, 30))).toDF("doc_id", "text")
    // writer 1 holds generation 3's lock mid-fold…
    val holding = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => store.withGenLock(3L) {
      holding.countDown(); release.await()
    })
    t.start(); holding.await()
    // …so writer 2's fold of the SAME generation must refuse rather
    // than interleave partition overwrites into gen 3
    intercept[graft.operators.ConcurrentFoldException] {
      store.fold(batch, 3L).collect()
    }
    release.countDown(); t.join()
    // serialized retry succeeds and the generation is whole: a later
    // fold sees doc 301 through the store
    store.fold(batch, 3L).collect()
    val v = store.fold(Seq((401L, words(9, 30))).toDF("doc_id", "text"), 4L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v(401L) == ("exact_dup", 301L),
      "gen 3's fold committed exactly once despite the refused concurrent attempt")
    // a lock left by a DEAD process is stolen, not honored forever:
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val lockPath = new org.apache.hadoop.fs.Path(s"$path/locks/gen_9.lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lockPath, false)
    try out.writeLong(dead.pid()) finally out.close()
    store.fold(Seq((501L, words(11, 30))).toDF("doc_id", "text"), 9L).collect()
    assert(!fs.exists(lockPath), "stale lock stolen and released")
  }

  test("replay idempotence: re-folding a generation neither changes " +
      "the verdict nor duplicates features") {
    val path = tempDir("graft_spec_store_replay")
    val seed = Seq((1L, words(1, 30)), (2L, words(2, 30))).toDF("doc_id", "text")
    val store = DedupFeatureStore.build(seed, path)
    val batch = Seq((100L, words(2, 30).replace("tok5", "edit5")),
      (101L, words(9, 30))).toDF("doc_id", "text")
    def verdictSet() = store.fold(batch, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val first = verdictSet()
    val genRows = spark.read.parquet(s"$path/shingles")
      .filter(col("ingest_gen") === 0).count()
    // the at-least-once replay: same batch id, same verdict, the
    // generation's partition is REPLACED, not appended to
    val replay = verdictSet()
    assert(replay == first, "replayed fold re-emits the same verdicts")
    assert(spark.read.parquet(s"$path/shingles")
      .filter(col("ingest_gen") === 0).count() == genRows,
      "replay overwrote its generation instead of duplicating it")
    // and a later batch verdicts against exactly one copy of 100/101
    val v2 = store.fold(
        Seq((200L, words(9, 30).replace("tok2", "edit2"))).toDF("doc_id", "text"),
        1L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v2(200L) == ("near_dup", 101L))
  }

  test("automatic compaction policy: generation dirs stay bounded over the " +
      "fold path and verdicts match a policy-off twin (r14)") {
    val seedDocs = Seq((1L, words(1, 30)), (2L, words(2, 30)))
      .toDF("doc_id", "text")
    def batch(b: Int) = Seq(
      (1000L + b * 10L, words(50 + b, 30)),                      // fresh
      (2000L + b * 10L, words(1, 30).replace("tok4", s"e$b")))   // near of seed
      .toDF("doc_id", "text")
    val auto = DedupFeatureStore.build(seedDocs, tempDir("graft_spec_store_autoc"))
    auto.autoCompactMaxGens = 3
    val plain = DedupFeatureStore.build(seedDocs, tempDir("graft_spec_store_autoc0"))
    plain.autoCompactMaxGens = 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    (1 to 8).foreach { b =>
      val va = rows(auto.fold(batch(b), b.toLong))
      val vp = rows(plain.fold(batch(b), b.toLong))
      assert(va == vp, s"batch $b: policy-on verdict diverged: $va vs $vp")
      // the policy bound: at fold entry >3 live generation dirs trigger
      // a compaction of everything strictly below the new generation,
      // so after any fold at most 3 + the just-written one remain
      assert(auto.liveGenDirCount() <= 4,
        s"batch $b: ${auto.liveGenDirCount()} generation dirs")
    }
    // the policy actually fired (the twin accumulated all 9 dirs)
    assert(plain.liveGenDirCount() == 9)
    assert(auto.liveGenDirCount() < plain.liveGenDirCount())
  }

  test("frozen blocklist: a shingle frequent in the SEED is excluded " +
      "from every later batch's features") {
    val path = tempDir("graft_spec_store_freq")
    // 120 seed docs all containing the bigram "hot pepper" → its seed
    // df (120) exceeds MaxDf (100) → frozen into the blocklist; each
    // doc also has a unique tail so docs aren't near-dups of each other
    val seed = (1L to 120L).map(i =>
        (i, s"hot pepper ${words(i.toInt + 50, 12)}"))
      .toDF("doc_id", "text")
    val store = DedupFeatureStore.build(seed, path)
    assert(spark.read.parquet(s"$path/frequent").count() >= 1,
      "seed-frequent shingle entered the blocklist")
    // a batch doc made ONLY of the frequent shingle: zero usable
    // features → 'new' (the blocked shingle can neither bucket nor
    // verify), and its sizes row is 0
    val v = store.fold(Seq((500L, "hot pepper")).toDF("doc_id", "text"), 0L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v(500L) == ("new", -1L),
      "a doc of only blocklisted shingles matches nothing in the near layer")
    val n = spark.read.parquet(s"$path/sizes")
      .filter(col("ingest_gen") === 0 && col("doc_id") === 500L)
      .select("n").collect()
    assert(n.isEmpty || n.head.getLong(0) == 0L,
      "frozen blocklist removed the batch doc's only shingle")
  }

  test("re-sent id: its own fold matches the prior version; later " +
      "folds see ONLY the latest version (no double-counted features)") {
    val v0 = words(21, 30)
    val v1 = v0.replace("tok4", "edit4").replace("tok8", "edit8")
    val v2 = v1.replace("tok12", "edit12")
    val path = tempDir("graft_spec_store_resent")
    val store = DedupFeatureStore.build(
      Seq((1L, v0), (2L, words(22, 30))).toDF("doc_id", "text"), path)
    // gen 0 re-sends doc 1 edited: the crawl semantics — it verdicts
    // against its OWN earlier version
    val own = store.fold(Seq((1L, v1)).toDF("doc_id", "text"), 0L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(own(1L) == ("near_dup", 1L),
      "a re-sent edited doc matches its own earlier version")
    val masks = spark.read
      .schema("doc_id long, old_gen long, ingest_gen long")
      .parquet(s"$path/resent")
      .select("doc_id", "old_gen", "ingest_gen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(masks == Set((1L, -1L, 0L)), "gen 0 masked doc 1's seed version")
    // and a SECOND re-send supersedes the gen-0 copy, not the seed's
    store.fold(Seq((1L, v2)).toDF("doc_id", "text"), 1L).collect()
    val masks2 = spark.read
      .schema("doc_id long, old_gen long, ingest_gen long")
      .parquet(s"$path/resent")
      .select("doc_id", "old_gen", "ingest_gen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(masks2 == Set((1L, -1L, 0L), (1L, 0L, 1L)))
    // a later probe's verdict — including its verified jaccard — must
    // be IDENTICAL to a control store where doc 1 only ever had v2:
    // superseded copies contribute nothing to sizes or intersections
    // (the round-10 ADVICE double-count / jaccard-inflation defect)
    val probe = Seq((300L, v2.replace("tok2", "edit2")),
      (301L, words(22, 30))).toDF("doc_id", "text")
    val got = verdictRows(store.verdict(probe, 2L))
    val control = DedupFeatureStore.build(
      Seq((1L, v2), (2L, words(22, 30))).toDF("doc_id", "text"),
      tempDir("graft_spec_store_resent_ctl"))
    assert(got == verdictRows(control.verdict(probe, 0L)),
      "verdict through superseded generations == verdict against " +
        "a store that only ever held the latest versions")
    val hits = got.map(t => t._1 -> (t._2, t._3)).toMap
    assert(hits(300L) == ("near_dup", 1L))
    assert(hits(301L) == ("exact_dup", 2L))
  }

  test("fold scans are bucket-pruned: the executed per-fold plan reads " +
      "a strict subset of the base's store files") {
    val path = tempDir("graft_spec_store_prune")
    // 300 seed docs spread shingle/band hashes over all store buckets
    val seed = (1L to 300L).map(i => (i, words(i.toInt, 24)))
      .toDF("doc_id", "text")
    val store = DedupFeatureStore.build(seed, path)
    val seedFiles = Map(
      "banded" -> filesOnDisk(s"$path/banded/ingest_gen=-1"),
      "shingles" -> filesOnDisk(s"$path/shingles/ingest_gen=-1"),
      "norm" -> filesOnDisk(s"$path/norm/ingest_gen=-1"),
      "sizes" -> filesOnDisk(s"$path/sizes/ingest_gen=-1"))
    // capture EVERY execution the fold runs (the candidate stage is
    // materialized behind a checkpoint, so its banded scan is not in
    // the final verdict plan) and sum per-table scanned-file metrics
    val scanned = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: org.apache.spark.sql.execution.QueryExecution)
          : Unit =
        allNodes(qe.executedPlan).foreach {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.headOption
              .map(_.toString.stripPrefix("file:"))
              .filter(_.startsWith(path))
              .foreach { p =>
                val t = p.stripPrefix(path).stripPrefix("/")
                scanned.merge(t, f.metrics("numFiles").value, _ + _)
              }
          case _ => ()
        }
      def onSuccess(name: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    duration: Long): Unit = record(qe)
      def onFailure(name: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // two-doc batch — a near-dup of seed doc 77 and an exact dup of
      // seed doc 150 (a runtime-empty exact layer would let AQE's
      // empty-relation propagation erase the norm scan from the final
      // plan, hiding it from the metric): it probes ≤ 2·Bands(=16) of
      // the 64 band buckets, 2 of the 64 norm buckets, and its
      // candidate set lives in ≤ 2 doc buckets
      val v = store.fold(
        Seq((1000L, words(77, 24).replace("tok3", "edit3")),
          (1001L, words(150, 24)))
          .toDF("doc_id", "text"), 0L)
      val hits = v.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(hits(1000L) == ("near_dup", 77L), "pruning kept the hit")
      // words() has period 97: docs 53/150/247 share this text — the
      // exact layer reports the min base id
      assert(hits(1001L) == ("exact_dup", 53L))
      // the listener bus is async: wait for the counters to land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def ready() = Seq("banded", "shingles", "norm", "sizes")
        .forall(t => scanned.getOrDefault(t, 0L) > 0L)
      while (!ready() && System.nanoTime() < deadline) Thread.sleep(100)
      info(s"scanned per table: $scanned; on disk: $seedFiles")
      for (t <- Seq("banded", "shingles", "norm", "sizes")) {
        val got = scanned.getOrDefault(t, 0L)
        assert(got > 0 && got < seedFiles(t),
          s"$t: scanned $got of ${seedFiles(t)} base files — the " +
            "scan must be pruned BELOW the full base (sub-linear fold)")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("compactGenerations: verdicts invariant, superseded rows and " +
      "masks physically retired, generation dirs collapse") {
    val path = tempDir("graft_spec_store_compact")
    val v0 = words(41, 30)
    val v1 = v0.replace("tok4", "edit4").replace("tok9", "edit9")
    val store = DedupFeatureStore.build(
      Seq((1L, v0), (2L, words(42, 30))).toDF("doc_id", "text"), path)
    store.fold(Seq((1L, v1), (10L, words(51, 30))).toDF("doc_id", "text"), 0L)
      .collect()
    store.fold(Seq((11L, words(52, 30))).toDF("doc_id", "text"), 1L).collect()
    val probe = Seq((300L, v1.replace("tok2", "edit2")),
      (301L, words(52, 30).replace("tok6", "edit6")),
      (302L, words(42, 30))).toDF("doc_id", "text")
    val before = verdictRows(store.verdict(probe, 5L))
    val genDirs = new java.io.File(s"$path/banded").listFiles()
      .count(_.getName.startsWith("ingest_gen="))
    assert(genDirs == 3, "seed + two folds before compaction")

    store.compactGenerations(1L)
    assert(verdictRows(store.verdict(probe, 5L)) == before,
      "compaction is verdict-invariant (rows AND jaccard)")
    for (t <- Seq("banded", "shingles", "norm", "sizes")) {
      val dirs = new java.io.File(s"$path/$t").listFiles()
        .filter(_.getName.startsWith("ingest_gen=")).map(_.getName).toSet
      assert(dirs == Set("ingest_gen=1"), s"$t: $dirs")
    }
    assert(spark.read.schema("doc_id long, old_gen long, ingest_gen long")
      .parquet(s"$path/resent").isEmpty,
      "masks over compacted generations are retired with their targets")
    // the superseded seed copy of doc 1 is GONE, not just masked
    assert(spark.read.parquet(s"$path/norm")
      .filter(col("doc_id") === 1L).count() == 1L)
    // and the store keeps working: a post-compaction re-send of doc 1
    // masks the compacted copy
    val after = store.fold(
        Seq((1L, v1.replace("tok12", "edit12"))).toDF("doc_id", "text"), 2L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(after(1L) == ("near_dup", 1L))
    val masks = spark.read
      .schema("doc_id long, old_gen long, ingest_gen long")
      .parquet(s"$path/resent").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(masks == Set((1L, 1L, 2L)))
  }

  test("refreshBlocklist is monotone and folds in drifted frequencies") {
    val path = tempDir("graft_spec_store_refresh")
    // seed-frequent "hot pepper" enters the frozen blocklist, so its
    // shingle has ZERO persisted rows — the round-10 ADVICE defect was
    // a refresh recomputed from survivors alone silently dropping it
    val seed = (1L to 120L).map(i =>
        (i, s"hot pepper ${words(i.toInt + 50, 12)}"))
      .toDF("doc_id", "text")
    val store = DedupFeatureStore.build(seed, path)
    val before = store.frequent.collect().map(_.getLong(0)).toSet
    assert(before.nonEmpty)
    // two folded batches push "cold brew" past MaxDf ACROSS the store
    // (60 + 61 = 121 > 100) — head drift the frozen seed list missed
    store.fold((1000L to 1059L).map(i =>
        (i, s"cold brew ${words(i.toInt, 12)}")).toDF("doc_id", "text"), 0L)
      .collect()
    store.fold((2000L to 2060L).map(i =>
        (i, s"cold brew ${words(i.toInt, 12)}")).toDF("doc_id", "text"), 1L)
      .collect()
    // before the refresh, "cold brew" still features: probe doc
    // "zzz cold brew" has shingles {zzz cold, cold brew} → n = 2
    store.fold(Seq((9000L, "zzz cold brew")).toDF("doc_id", "text"), 2L)
      .collect()
    assert(spark.read.parquet(s"$path/sizes")
      .filter(col("ingest_gen") === 2L).select("n").head.getLong(0) == 2L,
      "pre-refresh: the drifted shingle still features")
    store.refreshBlocklist()
    val after = store.frequent.collect().map(_.getLong(0)).toSet
    assert(before.subsetOf(after),
      "the blocklist can only GROW: every seed-frequent shingle " +
        "survives a refresh even with zero persisted rows")
    assert(after.size > before.size, "the drifted shingle entered")
    // post-refresh folds cap against the grown list: the same shape
    // of probe now keeps only its unique shingle → n = 1
    store.fold(Seq((9001L, "yyy cold brew")).toDF("doc_id", "text"), 3L)
      .collect()
    assert(spark.read.parquet(s"$path/sizes")
      .filter(col("ingest_gen") === 3L).select("n").head.getLong(0) == 1L,
      "post-refresh: the drifted shingle is capped out of new batches")
  }

  test("runBase: a new run starts above every folded generation; a " +
      "checkpointed run keeps its base across restarts") {
    val path = tempDir("graft_spec_store_runbase")
    val store = DedupFeatureStore.build(
      Seq((1L, words(61, 30))).toDF("doc_id", "text"), path)
    assert(store.maxGen == -1L)
    val b1 = store.runBase(None)
    assert(b1 == 0L)
    store.fold(Seq((100L, words(62, 30))).toDF("doc_id", "text"), b1).collect()
    store.fold(Seq((101L, words(63, 30))).toDF("doc_id", "text"), b1 + 1)
      .collect()
    assert(store.maxGen == 1L)
    // an UNRELATED new run must not clobber generations 0..1
    val b2 = store.runBase(None)
    assert(b2 == 2L, "new run starts strictly above prior folds")
    val v = store.fold(
        Seq((200L, words(62, 30).replace("tok5", "edit5")))
          .toDF("doc_id", "text"), b2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v(200L) == ("near_dup", 100L),
      "the second run verdicts against the FIRST run's folds")
    // a checkpointed run's base is pinned at first start: replays map
    // a batchId back to its original generation even after folds
    // advanced maxGen
    val cp = Some(tempDir("graft_spec_store_runbase_cp"))
    val cb1 = store.runBase(cp)
    assert(cb1 == store.maxGen + 1)
    store.fold(Seq((300L, words(64, 30))).toDF("doc_id", "text"), cb1)
      .collect()
    assert(store.runBase(cp) == cb1,
      "restart with the same checkpoint reuses the recorded base")
    assert(store.runBase(None) > cb1)
  }

  test("registered dedup_store_fold equals dedup_ingest_fold when no " +
      "shingle's df crosses the cap between seed and full corpus") {
    // at sf0.001 no bigram approaches MaxDf=100, so the frozen-cap
    // store fold and the global-cap memoized fold must agree row-for-row
    val d = "/root/testdata/sf0.001"
    val viaStore = DedupFeatureStore.storeFold(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val viaMemo = graft.operators.DedupOps.ingestFold(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(viaStore == viaMemo)
  }

  test("registered dedup_store_compact: the compacted lifecycle run is " +
      "row-identical to dedup_store_fold (verdict invariance end-to-end)") {
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getLong(3), Option(r.get(4)))).toSet
    assert(rows(DedupFeatureStore.storeCompactFold(spark, d)) ==
      rows(DedupFeatureStore.storeFold(spark, d)))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cross-query intermediate cache must key by dataset directory —
  * a keying regression would silently serve one dataset's cached
  * relation to queries over another. */
class MemoSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark

  test("memo entries are isolated per (key, dir) and reused per dir") {
    import spark.implicits._
    val d1 = tempDir("graft_memo1")
    val d2 = tempDir("graft_memo2")
    Seq(1L, 2L).toDF("x").write.parquet(d1 + "/t.parquet")
    Seq(10L, 20L, 30L).toDF("x").write.parquet(d2 + "/t.parquet")
    def load(dir: String) =
      Memo.cached(spark, "memo_spec_t", dir)(spark.read.parquet(dir + "/t.parquet"))
    assert(load(d1).count() == 2 && load(d2).count() == 3)
    // second access returns the same cached plan (same result, and the
    // underlying object is reference-equal — the memo hit)
    assert(load(d1) eq load(d1))
    assert(load(d1).count() == 2)
  }

  test("clear unpersists and drops session entries; rebuild works") {
    import spark.implicits._
    val d = tempDir("graft_memo_clear")
    Seq(1L, 2L, 3L).toDF("x").write.parquet(d + "/t.parquet")
    var builds = 0
    def load() = Memo.cached(spark, "memo_spec_clear", d) {
      builds += 1; spark.read.parquet(d + "/t.parquet")
    }
    // a plain Memo.value cell drops with the DataFrame cells
    var valueBuilds = 0
    def value() = Memo.value(spark, "memo_spec_clear_value", d) {
      valueBuilds += 1; valueBuilds
    }
    val before = load()
    assert(load() eq before)
    assert(builds == 1)
    assert(value() == 1 && value() == 1)
    Memo.clear(spark)
    assert(Memo.keys(spark).isEmpty, "clear must drop every cell")
    assert(before.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clear must unpersist cached entries")
    val after = load()
    assert(builds == 2, "cleared entry must rebuild on next access")
    assert(!(after eq before) && after.count() == 3)
    assert(value() == 2, "cleared value must rebuild on next access")
  }

  test("fill materializes every shared relation once; refill is a cheap no-op") {
    Memo.clear(spark)
    val first = Memo.fill(spark, TestSession.sf)
    assert(first.nonEmpty)
    assert(first.forall(_._2 >= 0.0),
      s"no fill may fail: ${first.filter(_._2 < 0)}")
    val names = first.map(_._1)
    assert(names.distinct == names, "one fill per relation")
    assert(names.contains("shingle_sets") && names.contains("dedup_clusters")
      && names.contains("ann_cents") && names.contains("assoc_edges")
      && names.contains("doc_toks") && names.contains("token_freq")
      && names.contains("doc_tf"))
    // every fill is named after the key it builds; the query-only keys
    // have no fill of their own and are built by the fills that read
    // them (the corpus count, the normalized-text hashes)
    val queryOnly = Set("ann_n", "norm_hashes")
    assert(Memo.keys(spark) == names.toSet ++ queryOnly,
      "the keys left by a fill are the fill names plus the query-only keys")
    // second fill hits the memo: every thunk returns without a rebuild
    // (bounded as a sanity check, not a benchmark — the first fill
    // runs whole LSH/k-means chains, the second only reads filled
    // cells)
    val t0 = System.nanoTime()
    val again = Memo.fill(spark, TestSession.sf)
    val dt = (System.nanoTime() - t0) / 1e9
    assert(again.map(_._1) == names)
    assert(dt < first.map(_._2).sum,
      s"refill ($dt s) should undercut the cold fill")
    Memo.clear(spark)
  }

  test("clear releases registered localCheckpoint blocks, not just memo caches") {
    import spark.implicits._
    Memo.clear(spark)
    val base = Checkpoints.liveCount(spark)
    val ck = Checkpoints.eager(Seq(1L, 2L, 3L).toDF("x"))
    assert(ck.count() == 3)
    assert(Checkpoints.liveCount(spark) == base + 1,
      "eager() must register the checkpoint's RDD handle")
    val rdd = org.apache.spark.sql.GraftColumnBridge.checkpointRdd(ck)
    assert(rdd.nonEmpty, "a checkpointed plan must expose its RDD")
    assert(rdd.get.getStorageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "checkpoint blocks should be cached while live")
    Memo.clear(spark)
    assert(Checkpoints.liveCount(spark) == 0,
      "clear must drop every registered checkpoint handle")
    assert(rdd.get.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "clear must unpersist the checkpoint RDD itself")
  }

  test("clear leaves no CacheManager entry behind a spec-only ANN build") {
    // the spec-only ANN entry points materialize their inputs through
    // registered checkpoints: a plain SQL cache there is held by the
    // CacheManager and survives Memo.clear. Start from an empty
    // CacheManager (other suites' plain caches share this session).
    Memo.clear(spark)
    spark.catalog.clearCache()
    val e = Tables.embeddings(spark, TestSession.sf)
    val queries = e.filter("vec_id < 5")
      .selectExpr("vec_id AS query_id", "embedding AS q_emb")
    assert(graft.operators.AnnOps.ivfImpl(e, queries, nCells = 4, nProbe = 2)
      .count() > 0)
    Memo.clear(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "Memo.clear must leave no SQL cache entry behind")
  }

  test("a failed fill reports negative time and a visible root cause") {
    val boom = new RuntimeException("planted fill failure")
    val out = Memo.runFills(Seq(
      "spec_fill_ok" -> (() => ()),
      "spec_fill_bad" -> (() => throw boom)))
    assert(out.collect { case ("spec_fill_ok", t) => t }.head >= 0.0)
    assert(out.collect { case ("spec_fill_bad", t) => t }.head < 0.0,
      "failure must be encoded as negative seconds")
    val err = Memo.fillErrors.get("spec_fill_bad")
    assert(err.exists(m => m.contains("RuntimeException")
      && m.contains("planted fill failure")),
      s"root cause must be recorded, got $err")
    assert(!Memo.fillErrors.contains("spec_fill_ok"))
    // a later successful pass of the same name clears the stale error
    Memo.runFills(Seq("spec_fill_bad" -> (() => ())))
    assert(!Memo.fillErrors.contains("spec_fill_bad"))
  }

  test("a failed eager materialization unpersists its cache entry") {
    import org.apache.spark.sql.functions.expr
    var captured: org.apache.spark.sql.DataFrame = null
    intercept[Throwable] {
      Memo.cached(spark, "memo_spec_fail", "nodir") {
        captured = spark.range(2).toDF("x")
          .select(expr("raise_error('boom')").as("y"))
        captured
      }
    }
    assert(captured != null)
    // persist() registered the plan before the materializing job
    // failed; the failure path must undo it, or the entry leaks in
    // the CacheManager forever (the unbuilt cell reports nothing to
    // clear())
    assert(captured.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "failed eager build must unpersist what it registered")
    // a failed Memo.value build is evicted: the next caller retries
    var attempts = 0
    def flaky() = Memo.value(spark, "memo_spec_value_fail", "nodir") {
      attempts += 1
      if (attempts == 1) throw new RuntimeException("planted value failure")
      attempts
    }
    val e = intercept[RuntimeException](flaky())
    assert(e.getMessage == "planted value failure",
      "the caller sees the build's own exception")
    assert(flaky() == 2 && flaky() == 2 && attempts == 2,
      "one retry, then the rebuilt value is served")
    Memo.clear(spark)
  }

  test("clear during a slow in-flight build returns promptly and nothing leaks") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val d = tempDir("graft_memo_slow")
    Seq(1L, 2L).toDF("x").write.parquet(d + "/t.parquet")
    val started = new java.util.concurrent.CountDownLatch(1)
    val hold = new java.util.concurrent.CountDownLatch(1)
    @volatile var built: org.apache.spark.sql.DataFrame = null
    val builder = Future {
      Memo.cached(spark, "memo_spec_slow", d) {
        started.countDown()
        hold.await() // a "slow build": blocks until the test releases it
        built = spark.read.parquet(d + "/t.parquet")
        built
      }
    }
    started.await()
    // clear while the build is mid-flight: must NOT block until the
    // build finishes (pre-round-8, clearTarget took the build monitor
    // and waited) — bound the call at far less than the hold time
    val t0 = System.nanoTime()
    Memo.clear(spark)
    val clearSec = (System.nanoTime() - t0) / 1e9
    assert(clearSec < 5.0, s"clear blocked ${clearSec}s on an in-flight build")
    hold.countDown()
    val out = Await.result(builder, 2.minutes)
    assert(out.count() == 2, "caller still gets a usable DataFrame")
    // the build completed AFTER its cell was cleared: it must have
    // undone its own persist (give the self-unpersist a beat — it
    // runs on the builder thread right after complete)
    assert(built.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "post-clear build must self-unpersist")
    Memo.clear(spark)
  }

  test("a cyclic fill fails loudly instead of deadlocking") {
    import spark.implicits._
    def recurse(): org.apache.spark.sql.DataFrame =
      Memo.cached(spark, "memo_spec_cycle", "nodir") {
        // a (buggy) build that reads its OWN key — pre-round-8 this
        // hard-deadlocked on the cell monitor; now it must throw
        recurse()
      }
    val e = intercept[IllegalStateException] { recurse() }
    assert(e.getMessage.contains("cyclic memo fill"))
    // the in-flight cell was not evicted by the waiter-side throw,
    // and the failed outer build evicted it — a later non-cyclic
    // build of the same key succeeds
    val ok = Memo.cached(spark, "memo_spec_cycle", "nodir")(
      Seq(7L).toDF("x"))
    assert(ok.count() == 1)
    Memo.clear(spark)
  }

  test("a cross-thread cyclic fill fails loudly instead of hanging") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // two fill lanes whose builds read EACH OTHER's keys — the
    // cross-lane cycle the lane invariant forbids. The barrier forces
    // both builds in flight before either awaits, closing the
    // tightest race: both walks must still see the installed wait
    // edges (install-before-walk) and at least one must throw; the
    // exceptional slot then propagates to the other. Pre-detector
    // this hung both threads on slot.join() forever.
    val gate = new java.util.concurrent.CyclicBarrier(2)
    // defs, NOT lazy vals: lazy-val init synchronizes on the spec
    // instance, which would serialize the two lanes outside Memo and
    // hang at the barrier before the detector is even reached
    def keyA: org.apache.spark.sql.DataFrame =
      Memo.cached(spark, "memo_spec_xcycle_a", "nodir") {
        gate.await(); keyB.limit(1); Seq(1L).toDF("x")
      }
    def keyB: org.apache.spark.sql.DataFrame =
      Memo.cached(spark, "memo_spec_xcycle_b", "nodir") {
        gate.await(); keyA.limit(1); Seq(2L).toDF("x")
      }
    val fa = Future(keyA)
    val fb = Future(keyB)
    // a hang here IS the regression — bounded await fails the test
    // instead of wedging the suite
    val results = Seq(fa, fb).map(f =>
      Await.ready(f, 60.seconds).value.get)
    val failures = results.collect { case scala.util.Failure(t) => t }
    assert(failures.nonEmpty, "at least one lane must fail loudly")
    failures.foreach { t =>
      assert(t.isInstanceOf[IllegalStateException] &&
        t.getMessage.contains("cyclic memo fill"),
        s"unexpected failure: $t")
    }
    Memo.clear(spark)
  }

  test("concurrent cached callers build a shared key exactly once") {
    import spark.implicits._
    import java.util.concurrent.atomic.AtomicInteger
    val d = tempDir("graft_memo_race")
    Seq(1L, 2L, 3L, 4L).toDF("x").write.parquet(d + "/t.parquet")
    val builds = new AtomicInteger(0)
    val valueBuilds = new AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def load() = Memo.cached(spark, "memo_spec_race", d) {
      builds.incrementAndGet()
      spark.read.parquet(d + "/t.parquet")
    }
    // the same race on a Memo.value cell holding a plain value
    def loadValue() = Memo.value(spark, "memo_spec_race_value", d) {
      valueBuilds.incrementAndGet()
      spark.read.parquet(d + "/t.parquet").count()
    }
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // 8 threads released simultaneously into the same key — the memo
    // cell must serialize them onto ONE build (the concurrent Memo.fill
    // threads race exactly like this on documents_par/embeddings_par)
    val fs = (1 to 8).map(_ => Future { gate.await(); load() })
    val vs = (1 to 8).map(_ => Future { gate.await(); loadValue() })
    gate.countDown()
    val dfs = fs.map(f => Await.result(f, 2.minutes))
    val counts = vs.map(f => Await.result(f, 2.minutes))
    assert(builds.get() == 1, s"expected exactly one build, got ${builds.get()}")
    assert(dfs.forall(_ eq dfs.head), "all callers must see the same instance")
    assert(dfs.head.count() == 4)
    assert(valueBuilds.get() == 1,
      s"expected exactly one value build, got ${valueBuilds.get()}")
    assert(counts.forall(_ == 4L))
    Memo.clear(spark)
  }
}

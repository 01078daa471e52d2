package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Process-wide memo of session-scoped values — cached intermediate
  * DataFrames, plus the counts, trained chains and store-lifecycle
  * artifacts built from them — keyed by (session, operator-key, data
  * dir). Every value lives in one at-most-once [[Memo.Cell]].
  *
  * Several operators in the dedup / ANN / corpus family are built on
  * the same expensive intermediates — the df-capped shingle relation,
  * the parallelized embeddings scan, the verified near-dup pair set.
  * When Verify/Bench run the whole suite in one process, memoizing
  * the *cached* plan makes each intermediate compute once per dataset
  * instead of once per consuming query, without changing any query's
  * result (consumers see the identical DataFrame). On a cluster the
  * same pattern holds: a pipeline materializes the shared relation
  * once and fans out.
  *
  * Entries persist at MEMORY_AND_DISK explicitly (also the Dataset
  * `cache()` default, but relied upon here, so spelled out): under
  * memory pressure a partition spills to local disk and is re-READ,
  * never recomputed through the full upstream LSH/k-means chain —
  * at 100 TB-scale concurrency, eviction-then-recompute of a shared
  * relation is exactly the failure mode that turns a 1 s probe into
  * a 14 s rebuild (round-5 driver bench, corpus_cross_source).
  *
  * [[fill]] materializes every shared value up front, all fills at
  * once, the cells' own reads ordering them; Bench calls it once
  * (timed separately from the queries it de-noises) and Verify calls
  * it on full runs.
  */
object Memo {
  /** One atomically-inserted cell per key, holding a
    * CompletableFuture SLOT rather than building under a monitor:
    * the build (with its materialization) runs EXACTLY once —
    * losers of the start CAS await the winner's slot instead of
    * building an equivalent value a second time (a duplicate
    * `persist` leaks a CacheManager entry; a duplicate store
    * lifecycle folds into the same working directory) — but NO lock
    * is ever held across the Spark job, so [[clear]] returns
    * immediately even while a build is in flight, and a same-thread
    * re-entrant build of the same key (a cyclic key dependency) is
    * DETECTED and fails loudly instead of hard-deadlocking on its
    * own monitor. Cross-thread cycles (possible in principle since
    * [[fill]] builds every cell concurrently) are caught by a
    * wait-for-graph walk before every cross-thread await — see
    * [[Memo.awaitCrossThread]] — so a cyclic key dependency between
    * concurrently built cells throws instead of hanging
    * `slot.join()` forever. `computeIfAbsent` itself only allocates
    * the closure, so the map is never locked across a Spark job
    * either.
    *
    * `release` undoes whatever the build holds beyond plain heap
    * (`unpersist` for a cached DataFrame); it runs once, on [[clear]]
    * or — for a build that finishes after its cell was cleared — on
    * the builder thread. */
  private final class Cell[T](build: () => T, release: T => Unit) {
    private val slot = new java.util.concurrent.CompletableFuture[T]
    private val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile private var dead = false
    /** Build-once: the CAS winner runs the build OUTSIDE any monitor,
      * completes the slot, and THEN honors a concurrent clear — the
      * complete-before-dead-check ordering pairs with [[drop]]'s
      * dead-before-isDone ordering so every interleaving releases
      * exactly one way (builder-side or clear-side; a benign double
      * unpersist is a Spark no-op). A build that completes after the
      * cell was cleared releases its own value: the caller still
      * gets a usable (just uncached) value, and nothing leaks. A
      * failed build completes the slot exceptionally; [[getOrBuild]]
      * then drops the cell so the next access retries from scratch
      * (spec-covered). */
    def get: T = {
      if (started.compareAndSet(false, true)) {
        Memo.building.get.add(this)
        Memo.builderOf.put(this, Thread.currentThread())
        try {
          val b = build()
          slot.complete(b)
          if (dead) release(b)
        } catch { case t: Throwable => slot.completeExceptionally(t) }
        finally {
          Memo.building.get.remove(this)
          Memo.builderOf.remove(this)
        }
      } else if (!slot.isDone && Memo.building.get.contains(this))
        throw new IllegalStateException(
          "cyclic memo fill: this thread is already building this key " +
            "(a build closure may not read its own key, directly or " +
            "through the keys it reads)")
      if (!slot.isDone) Memo.awaitCrossThread(this, slot)
      try slot.join()
      catch { case e: java.util.concurrent.CompletionException =>
        throw e.getCause }
    }
    /** Mark the cell cleared and release a finished build —
      * NON-BLOCKING. An in-flight or never-started build is marked
      * dead so it releases itself on completion; a failed build holds
      * nothing ([[cached]]'s catch block undid its persist). */
    def drop(): Unit = {
      dead = true
      if (slot.isDone && !slot.isCompletedExceptionally) release(slot.join())
    }
    /** True iff the build ran and failed (drives cell eviction —
      * distinct from a waiter-side throw like the cycle tripwire,
      * which must NOT evict the still-in-flight cell). */
    def failed: Boolean = slot.isCompletedExceptionally
  }
  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell[_]]
  /** Cells under build by the CURRENT thread (cyclic-fill tripwire). */
  private val building = new ThreadLocal[java.util.HashSet[Cell[_]]] {
    override def initialValue() = new java.util.HashSet[Cell[_]]
  }
  /** Wait-for graph state for the CROSS-thread cycle detector: which
    * thread is building each in-flight cell, and which cell (if any)
    * each building thread is itself blocked awaiting. Entries exist
    * only while a build / await is in flight. */
  private val builderOf =
    new java.util.concurrent.ConcurrentHashMap[Cell[_], Thread]
  private val waitingOn =
    new java.util.concurrent.ConcurrentHashMap[Thread, Cell[_]]

  /** Await another thread's in-flight build, first walking the
    * wait-for graph (target cell → its builder thread → the cell
    * THAT thread awaits → …) to detect a cross-thread cycle: if the
    * walk reaches a cell the CURRENT thread is building, every party
    * is (about to be) blocked on a cell whose builder is blocked —
    * `slot.join()` would hang forever. Such a cycle can only come
    * from a cycle in the key graph (each build reads the keys it
    * depends on), which no shipped key has; the detector exists so
    * one introduced later fails loudly for every pair of concurrently
    * built cells. The walk reads a mutating graph without locks:
    * an edge can go stale between reads, but stale edges only arise
    * when a build COMPLETED (its slot resolves, so the hang the
    * detector guards against cannot occur), and the walk is bounded,
    * so a rare spurious throw beats an undetected deadlock. A waiter
    * that is not itself building anything can never deadlock and
    * skips the walk. */
  private def awaitCrossThread(
      target: Cell[_],
      slot: java.util.concurrent.CompletableFuture[_]): Unit = {
    // INSTALL the wait edge BEFORE walking: two threads closing a
    // 2-cycle simultaneously would otherwise both walk a graph still
    // missing the other's edge, both pass, and both block (classic
    // check-then-wait TOCTOU). With install-first, whichever walk
    // linearizes second sees the completed cycle and throws.
    waitingOn.put(Thread.currentThread(), target)
    try {
      val mine = building.get
      if (!mine.isEmpty) {
        // The walk can chase a STALE edge pair: builderOf.get returns
        // a thread that then finishes this cell and blocks on one of
        // OURS — a cycle that never coexisted. A true deadlock cannot
        // resolve itself, so walk twice (the re-walk reads a graph in
        // which the finished build's edges are gone) and before
        // throwing check slot.isDone: a resolved target proves every
        // "cycle" the walks saw was stale history, not a hang.
        var rounds = 0
        var cyclic = walkSeesCycle(target, mine)
        while (cyclic && rounds < 1) { rounds += 1
          cyclic = walkSeesCycle(target, mine) }
        if (cyclic && !slot.isDone)
          throw new IllegalStateException(
            "cross-thread cyclic memo fill detected: this thread is " +
              "building a key that the awaited key's builder chain is " +
              "blocked on (two keys' build closures read each other, " +
              "directly or through the keys they read)")
      }
      try { slot.join(); () }
      catch { case _: Throwable => () } // surfaced by the caller's join
    } finally waitingOn.remove(Thread.currentThread())
  }

  /** One bounded pass of the wait-for walk: true iff it reaches a
    * cell the current thread is building. */
  private def walkSeesCycle(target: Cell[_],
                            mine: java.util.HashSet[Cell[_]]): Boolean = {
    var c: Cell[_] = target
    var hops = 0
    while (c != null && hops < 64) {
      if (mine.contains(c)) return true
      val t = builderOf.get(c)
      c = if (t == null) null else waitingOn.get(t)
      hops += 1
    }
    false
  }

  /** Fetch `key`'s cell value, building it on first access and
    * dropping the cell on a failed build so the next access rebuilds
    * (value-conditional remove: a racing waiter that lost to an
    * earlier remove-and-recreate cannot evict the fresh replacement
    * cell). A key names one value type; reading it at another type
    * is a programming error the cast surfaces at the call site. */
  private def getOrBuild[T](key: (SparkSession, String, String),
                            release: T => Unit)(build: => T): T = {
    val cell = m.computeIfAbsent(key, _ => new Cell[T](() => build, release))
      .asInstanceOf[Cell[T]]
    try cell.get
    catch { case t: Throwable =>
      if (cell.failed) m.remove(key, cell)
      throw t
    }
  }

  /** Any session-scoped value built at most once per (session, key,
    * data dir): a count, a trained model, an on-disk lifecycle
    * artifact. Concurrent callers share the one build; a failed build
    * is retried by the next caller; [[clear]] drops it. Checkpoints a
    * build registers through [[Checkpoints.eager]] are released by
    * [[clear]] with the rest of the session's checkpoints. */
  def value[T](s: SparkSession, key: String, dir: String)(build: => T): T =
    getOrBuild[T]((s, key, dir), _ => ())(build)

  /** A [[value]] holding a persisted DataFrame, materialized inside
    * the build and unpersisted on [[clear]]. The build persists at
    * MEMORY_AND_DISK and runs ONE job into the `noop` sink before the
    * cell's slot completes, so every reader — a concurrent fill, a
    * query, both sides of one query's self-join — waits on the slot
    * until the blocks exist. A lazy cache would let a concurrent
    * reader plan over blocks not yet written, and a consumer that
    * references the relation more than once would have its
    * concurrent stages each miss the cache and race into duplicate
    * recomputes of the build plan. The `noop` write runs the build
    * plan once into the cache and discards the rows: `count()` would
    * add a single-partition exchange and a second job. */
  def cached(s: SparkSession, key: String, dir: String)
            (build: => DataFrame): DataFrame =
    getOrBuild[DataFrame]((s, key, dir), _.unpersist()) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      // a failed materialization must undo the persist() it already
      // registered: the cell completes exceptionally, so clear()
      // would never find this entry to unpersist — the CacheManager
      // leak the Cell design otherwise closes (Memo.fill deliberately
      // tolerates failed fills, so this path is reachable)
      try df.write.format("noop").mode("overwrite").save()
      catch { case t: Throwable => df.unpersist(); throw t }
      df
    }

  /** Keys of the live memo cells owned by `s` (spec hook). */
  private[graft] def keys(s: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    m.keySet.asScala.collect { case (o, k, _) if o eq s => k }.toSet
  }

  /** Materialize every shared memoized value for `dir`. Returns
    * (name, seconds) per fill, in registration order, so Bench can
    * publish fill cost SEPARATELY from query cost — per-query timings
    * then measure the probe, not whichever query happened to run
    * first (round-5 driver bench attributed a 14 s LSH-chain fill to
    * corpus_cross_source). A failed fill is reported as a negative
    * time and does not block the others; its throwable is logged to
    * stderr and recorded in [[fillErrors]] so Bench can publish the
    * root cause next to the timing (a silently-broken shared relation
    * would otherwise surface only as confusing downstream query
    * errors).
    *
    * Each operator family declares one flat `memoFills` list; every
    * entry runs concurrently (see [[runFills]]). No schedule is kept
    * by hand: a fill whose build reads another key simply reaches
    * that key's [[Cell]], which builds it exactly once — the first
    * toucher builds, every other reader waits on the slot. The key
    * graph is the schedule, and a cycle in it is caught by the
    * same-thread tripwire or the wait-for-graph detector in
    * [[awaitCrossThread]]. A fill's seconds therefore include its
    * waits on upstream cells: the per-fill entries are profiling
    * hints, the fill WALL is the real cost.
    *
    * Per-fill jobs are far from saturating local[N], so overlapping
    * the independent chains drops the fill wall from the SUM of the
    * chains to roughly the longest one. Concurrency safety of the
    * memo itself (callers racing into one key) is guaranteed by the
    * atomic [[Cell]], spec-covered in MemoSpec. */
  def fill(s: SparkSession, dir: String): Seq[(String, Double)] = {
    import graft.operators.{AnnOps, CorpusOps, DedupFeatureStore, DedupOps,
      GraphOps, MultimodalOps, VocabOps}
    // background-pool tag: fill threads inherit this thread's local
    // properties at creation (InheritableThreadLocal), so every fill
    // job lands in the low-weight `fill` pool and yields task slots
    // to live queries (GraftSession.fairPoolsFile). Restored after —
    // Verify runs its queries on this same thread post-fill.
    val prevPool = s.sparkContext.getLocalProperty("spark.scheduler.pool")
    s.sparkContext.setLocalProperty("spark.scheduler.pool", "fill")
    // label each fill's jobs (guide §1.5): the UI and Bench's spill
    // listener attribute a fill's stages to `fill:<name>`. Fill
    // threads own their local-property copies (inherited at thread
    // creation), so per-fill relabeling never crosses fills.
    def labeled(n: String, f: () => Unit): (String, () => Unit) =
      n -> (() => {
        s.sparkContext.setJobDescription(s"fill:$n")
        try f() finally s.sparkContext.setJobDescription(null)
      })
    try runFills((DedupOps.memoFills(s, dir) ++ VocabOps.memoFills(s, dir) ++
        CorpusOps.memoFills(s, dir) ++ MultimodalOps.memoFills(s, dir) ++
        AnnOps.memoFills(s, dir) ++ GraphOps.memoFills(s, dir) ++
        DedupFeatureStore.memoFills(s, dir)).map { case (n, f) => labeled(n, f) })
    finally s.sparkContext.setLocalProperty("spark.scheduler.pool", prevPool)
  }

  /** Timing/error harness behind [[fill]], factored out so MemoSpec
    * can drive it with a deliberately-failing thunk. Every fill runs
    * at once on its own thread of a pool of `fills.size` threads,
    * created by the submitting (calling) thread so they inherit its
    * local properties, and shut down afterwards; results come back
    * in registration order. Each failure is logged (class + message
    * + top frame) and recorded under the fill's name in
    * [[fillErrors]]; successes clear any stale entry from a previous
    * run of the same name. */
  private[graft] def runFills(
      fills: Seq[(String, () => Unit)]): Seq[(String, Double)] = {
    import java.util.concurrent.{CompletableFuture, Executors}
    val pool = Executors.newFixedThreadPool(math.max(1, fills.size))
    try fills.map { case (name, f) =>
      CompletableFuture.supplyAsync(() => timeFill(name, f), pool)
    }.map(_.join())
    finally pool.shutdown()
  }

  private def timeFill(name: String, f: () => Unit): (String, Double) = {
    val t0 = System.nanoTime()
    val ok = try { f(); fillErr.remove(name); true } catch {
      case t: Throwable =>
        val msg = describe(t)
        System.err.println(s"[memo] fill '$name' FAILED — $msg")
        fillErr.put(name, msg)
        false
    }
    trace.foreach(_(name, t0, System.nanoTime()))
    val dt = (System.nanoTime() - t0) / 1e9
    name -> (if (ok) dt else -dt)
  }

  private val fillErr = TrieMap.empty[String, String]

  /** A failure's root cause on one line: class, message, top frame. */
  private[graft] def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${t.getMessage}" +
      t.getStackTrace.headOption.map(" at " + _).getOrElse("")

  /** Trace hook: (name, startNanos, endNanos) per fill, called from
    * the fill's own thread — lets a profiler (perfbench's traced run)
    * record the absolute schedule behind the fill wall. Unset (None)
    * in production paths. */
  @volatile var trace: Option[(String, Long, Long) => Unit] = None

  /** Root cause of every fill that failed in the most recent
    * [[fill]]/[[runFills]] pass touching that name (empty when all
    * fills succeeded). Bench publishes this as `fill_errors`. */
  def fillErrors: Map[String, String] = fillErr.toMap

  /** Drop every cell belonging to `s`, running each one's release
    * (unpersist for cached DataFrames), then release the session's
    * registered checkpoints ([[Checkpoints.release]]) — for
    * long-lived library sessions (a one-shot Bench/Verify process
    * could rely on JVM exit, a shared session cannot). Subsequent
    * reads rebuild from scratch (MemoSpec: clear-then-rebuild).
    *
    * Never blocks on an in-flight build (the cell releases itself on
    * completion). CONTRACT: clear is a between-queries lifecycle
    * call — running it while a query over a memoized/checkpointed
    * plan is still executing is unsupported (the query may re-read
    * an unpersisted localCheckpoint block and fail; the
    * MapPartitionsRDD warning for that case stays audible, see
    * GraftSession). */
  def clear(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    m.keySet.asScala.filter(_._1 eq s).toList.foreach { k =>
      Option(m.remove(k)).foreach(_.drop())
    }
    Checkpoints.release(s)
  }
}

package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.text

/** Persisted (on-disk) dedup feature store — the CROSS-SESSION twin
  * of the per-session memoized shingle/banded relations.
  *
  * A production re-crawl arrives DAYS after the base corpus was
  * featurized: the base must be verdict-able through relations that
  * were written when IT landed, never by re-tokenizing base text per
  * batch (the round-9 scale-killer: `verdictAgainstBase` recomputes
  * `shinglesFromDocs(batch ∪ base)` per call, O(|base|) text work
  * against a standing 100 TB corpus). This store persists exactly
  * the relations the verdict consumes, each a few fixed-width
  * columns — document text NEVER lands in the store:
  *
  *   - `frequent`  (hs)                — the FROZEN df blocklist
  *   - `norm`      (doc_id, nt_h)      — xxhash64 of normalized text
  *   - `shingles`  (doc_id, sh: long)  — xxhash64 of capped shingles
  *   - `banded`    (doc_id, band, bh)  — MinHash band signatures
  *   - `sizes`     (doc_id, n)         — capped shingle count (n = 0
  *     rows included: `sizes` doubles as the per-generation doc
  *     INDEX, so even a doc whose every shingle is blocklisted can be
  *     looked up and superseded)
  *   - `resent`    (doc_id, old_gen)   — supersession masks (below)
  *
  * ==Generations==
  * All featured tables are parquet PARTITIONED BY `ingest_gen`
  * (generation): the seed corpus is generation [[DedupFeatureStore
  * .SeedGen]], each folded batch its own generation. A fold's base is
  * every generation STRICTLY BEFORE its own, and its feature append
  * overwrites only its own generation's partitions (dynamic partition
  * overwrite) — so an at-least-once replay of a batch is idempotent:
  * the re-fold cannot see the half-written features of its first
  * attempt (own gen excluded from the base) and the re-append
  * replaces rather than duplicates them.
  *
  * ==Re-sent ids (supersession)==
  * A re-crawl legitimately re-sends a doc_id it folded before. Its
  * OWN fold verdicts it against the prior version (an unchanged
  * re-fetch is an exact_dup of itself — the crawl semantics), but
  * every LATER fold must see only the doc's latest version: two
  * generations' copies in the base would double the doc's rows in the
  * shingle/size joins and corrupt jaccard for any pair touching it
  * (round-10 ADVICE, high). Generations stay immutable, so the fix is
  * a mask: each fold records `(doc_id, old_gen)` pairs for the ids it
  * re-sends in the tiny `resent` table (its own generation's
  * partition — replay-idempotent like the features), and every base
  * read anti-joins masks written strictly before it. The masked rows
  * are physically dropped at the next [[compactGenerations]].
  *
  * ==Bucketed layout / pruned folds==
  * Within each generation the tables are SUB-PARTITIONED by a
  * key-mod bucket ([[DedupFeatureStore.StoreBuckets]] dirs/gen):
  * `banded` by pmod(bh), `norm` by pmod(nt_h), `shingles`/`sizes` by
  * pmod(doc_id). A fold collects the ≤ StoreBuckets distinct bucket
  * values its batch actually probes (a BOUNDED driver list by
  * construction) and pushes them as a static partition filter, so the
  * per-fold scan reads only matching buckets' files — sub-linear in
  * base size for any batch whose probe set doesn't cover every
  * bucket, instead of the round-10 shape that read the whole base
  * feature table and pruned AFTER the scan. At a standing 100 TB
  * corpus StoreBuckets rises with the fleet (it only changes dir
  * fan-out); the scanned fraction stays ≈ min(1, probed/total).
  *
  * FROZEN df discipline: the frequent-shingle blocklist is a SEED
  * statistic (computed once at [[build]], like a stopword list) and
  * applies uniformly to every later batch — the discipline the
  * registered `dedup_ingest_fold` documents ("the df cap and
  * signatures come from the global store, only the id split moves").
  * [[refreshBlocklist]] grows it for corpora whose head distribution
  * drifts.
  *
  * Hash representation: the store keeps xxhash64 of normalized text
  * and of shingle strings, not the strings (at 100 TB the wide
  * strings must neither shuffle nor persist). Exact-dup equality and
  * intersection counts are therefore identical to the string form
  * modulo a ~2^-64 collision — the same documented caveat as
  * `ngramJaccard`'s hashed pair join. Banding hashes the STRING
  * (rollingHash) before any xxhash64, so band signatures are
  * bit-identical to the memoized corpus path.
  *
  * Reference: the check-then-insert ingest discipline of
  * etl_job.py:139-182 (store_data's INSERT OR IGNORE), lifted to
  * featurized near-dup state. */
final class DedupFeatureStore private[operators] (
    val spark: SparkSession, val path: String) {

  import DedupFeatureStore._

  /** Frozen frequent-shingle blocklist (hs: long). Small by
    * construction (a shingle needs df > MaxDf docs to enter), so it
    * broadcasts. */
  def frequent: DataFrame =
    spark.read.schema("hs long").parquet(s"$path/frequent")

  /** Explicit schemas for every store read: a generation whose batch
    * produced ZERO rows for a table (every shingle blocklisted — a
    * real state on a small-vocabulary corpus where the whole shingle
    * vocabulary is frequent) writes no data files, and schema
    * INFERENCE over a files-less table fails; a declared schema
    * yields the correct empty relation instead. `ingest_gen` and the
    * bucket column are the partition columns — declared long so
    * neither generation ids nor bucket values ever truncate. */
  private val genSchemas = Map(
    "norm" -> "doc_id long, nt_h long, ingest_gen long, kn long",
    "shingles" -> "doc_id long, sh long, ingest_gen long, kd long",
    "banded" -> "doc_id long, band int, bh long, ingest_gen long, kb long",
    "sizes" -> "doc_id long, n long, ingest_gen long, kd long")

  /** Per-table bucket partition column and the expression it buckets. */
  private val kCol = Map("norm" -> "kn", "shingles" -> "kd",
    "banded" -> "kb", "sizes" -> "kd")
  private val resentSchema = "doc_id long, old_gen long, ingest_gen long"

  /** Supersession masks written strictly before generation `gen` —
    * bounded by the number of actually re-sent docs since the last
    * compaction (tiny on a real crawl; [[compactGenerations]] retires
    * it), hence the broadcast. */
  private def resentBefore(gen: Long): DataFrame =
    spark.read.schema(resentSchema).parquet(s"$path/resent")
      .filter(col("ingest_gen") < gen)
      .select("doc_id", "old_gen")

  /** LIVE rows of table `name` strictly before `before` — superseded
    * versions masked out, `ingest_gen` retained — optionally pruned to
    * the store buckets in `ks` (a static partition filter: the scan
    * itself reads only matching buckets' files). */
  private def liveGens(name: String, before: Long,
                       ks: Option[Seq[Long]]): DataFrame = {
    val all = spark.read.schema(genSchemas(name)).parquet(s"$path/$name")
      .filter(col("ingest_gen") < before)
    val pruned = ks match {
      case Some(Nil) => all.filter(lit(false))
      case Some(v)   => all.filter(col(kCol(name)).isin(v: _*))
      case None      => all
    }
    val res = resentBefore(before)
    pruned.join(broadcast(res),
        pruned("doc_id") === res("doc_id") &&
          pruned("ingest_gen") === res("old_gen"), "left_anti")
  }

  private def gens(name: String, before: Long,
                   ks: Option[Seq[Long]] = None): DataFrame =
    liveGens(name, before, ks).drop("ingest_gen", kCol(name))

  /** Distinct store buckets of expression `e` over `df` — the prune
    * list a fold pushes into the store scans. BOUNDED driver state:
    * pmod(·, StoreBuckets) has at most StoreBuckets distinct values. */
  private def buckets(df: DataFrame, e: Column): Seq[Long] =
    df.select(pmod(e, lit(StoreBuckets)).as("k")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** The batch's three static prune lists — norm (nt_h), doc (doc_id)
    * and band (bh) buckets — in ONE job (a fold runs per micro-batch;
    * three separate collects were a third of its fixed job count).
    * Bounded: ≤ 3 × StoreBuckets rows. */
  private[graft] def probeBuckets(f: Features): (Seq[Long], Seq[Long], Seq[Long]) = {
    val rows = f.norm
      .select(pmod(col("nt_h"), lit(StoreBuckets)).as("k"), lit(0).as("t"))
      .unionAll(f.norm
        .select(pmod(col("doc_id"), lit(StoreBuckets)).as("k"), lit(1).as("t")))
      .unionAll(f.banded
        .select(pmod(col("bh"), lit(StoreBuckets)).as("k"), lit(2).as("t")))
      .distinct().collect()
    def of(t: Int) = rows.filter(_.getInt(1) == t).map(_.getLong(0)).toSeq
    (of(0), of(1), of(2))
  }

  /** Verdict of `batch` (doc_id, text) against every generation
    * strictly before `gen`, through the persisted relations only —
    * the per-batch plan tokenizes/shingles/bands the BATCH and joins
    * the store's columnar feature tables; base text is never read,
    * and each store scan carries a static bucket-partition filter
    * from the batch's own probe keys (norm by the batch's nt_h
    * buckets, banded by its bh buckets, shingles/sizes by the
    * MATERIALIZED candidate set's doc buckets — the candidate stage
    * runs eagerly here, which is why this is not a purely lazy plan).
    * Output: (doc_id, status exact_dup|near_dup|new, hit_id, jaccard)
    * — the `verdictAgainstBase` contract. Read side only; see
    * [[fold]] for verdict + feature append. */
  def verdict(batch: DataFrame, gen: Long): DataFrame = {
    val f = featurize(batch)
    val (kn, _, kb) = probeBuckets(f)
    verdictOf(f, gen, kn, kb)
  }

  private[graft] def verdictOf(f: Features, gen: Long,
                        kn: Seq[Long], kb: Seq[Long]): DataFrame = {
    val baseNorm = gens("norm", gen, Some(kn))
    val exactHit = f.norm
      .join(baseNorm.select(col("nt_h"), col("doc_id").as("base_id")), "nt_h")
      .groupBy("doc_id").agg(min(col("base_id")).as("exact_hit"))
    val baseB = gens("banded", gen, Some(kb))
    // materialize the (bounded: batch·bands·cap) candidate pairs so
    // their doc buckets can statically prune the shingle/size scans
    val cand = graft.Checkpoints.eager(
      DedupOps.verdictCandidates(f.banded, baseB))
    val kd = Some(buckets(cand, col("doc_base")))
    DedupOps.verdictFromCandidates(
      f.ids, exactHit, cand,
      batchSh = f.shingles, baseSh = gens("shingles", gen, kd),
      sizesBase = gens("sizes", gen, kd), sizesBatch = f.sizes)
  }

  /** Verdict + fold: featurize `batch` ONCE, record supersession
    * masks for any re-sent ids, append the batch's features as
    * generation `gen` (overwriting that generation if it already
    * exists — idempotent replay), and return the verdict against the
    * strictly-earlier generations. The verdict DataFrame stays valid
    * after the append because its base excludes `gen` by partition
    * filter (and its own masks by the `< gen` resent filter). Cost
    * per call: O(|batch| text work + candidates) — the base is
    * touched only through bucket-pruned scans of the store's columnar
    * integer relations. */
  def fold(batch: DataFrame, gen: Long): DataFrame =
    foldFeaturized(featurize(batch), gen)

  /** [[fold]] from an already-featurized batch — the features are
    * store-independent in value (the frozen blocklist is identical
    * content in every copy of one seed) and eagerly checkpointed, so
    * a harness folding the same batch into several stores featurizes
    * once (the registered lifecycle queries share batch B's features
    * this way). */
  private[graft] def foldFeaturized(f: Features, gen: Long): DataFrame =
    foldFeaturized(f, gen, eagerVerdict = false)

  /** `eagerVerdict = true` additionally computes AND materializes the
    * verdict CONCURRENTLY with the writes (see the isolation argument
    * below) — the fold wall drops from writes + verdict to
    * max(writes, verdict). Used by the lifecycle harness, whose
    * consumers checkpoint the verdict anyway; the public [[fold]]
    * keeps the lazy verdict so downstream consumers (the streaming
    * ingest path, StreamingSpec's per-batch plan assertions) still
    * see the bucket-pruned store scans in the verdict's own plan. */
  /** AUTOMATIC compaction policy (r14, VERDICT item 7): when the
    * store's live generation-directory count exceeds this, a fold
    * compacts everything STRICTLY BELOW the generation it is about to
    * write before reading the base. Per-generation file count is
    * bounded by the bucket fan-out by construction (see [[append]]'s
    * bucket repartition), so generation count IS the file-count
    * policy up to that constant — the per-fold listing term the
    * compaction exists to bound grows ∝ generations × buckets.
    * Strictly-below keeps at-least-once replay safe: a replayed fold
    * of `gen` dynamic-overwrites only its OWN partitions, never the
    * compacted target, and the fold's verdict reads generations
    * < gen AFTER the compaction rewrote them (the compaction is
    * verdict-invariant — DedupStoreSpec proves row identity with a
    * policy-off twin). 0 disables. Mutable for specs/ops tuning; the
    * default keeps the two registered lifecycle queries (3
    * generations) untouched. */
  @volatile var autoCompactMaxGens: Int = 64

  /** Live generation-directory count of the doc-index table — pure
    * directory listing, no data bytes. */
  private[graft] def liveGenDirCount(): Int = {
    val p = new Path(s"$path/sizes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.startsWith("ingest_gen="))
  }

  private def maybeAutoCompact(gen: Long): Unit =
    if (autoCompactMaxGens > 0 && gen - 1 >= SeedGen &&
        liveGenDirCount() > autoCompactMaxGens)
      compactGenerations(gen - 1)

  private[graft] def foldFeaturized(f: Features, gen: Long,
                                    eagerVerdict: Boolean): DataFrame = {
    // policy check BEFORE the batch's store reads: at fold entry no
    // earlier verdict plan is outstanding (folds are serialized per
    // store — the generation fence), so rewriting the base here can
    // invalidate no snapshot; the verdict below then plans against
    // the compacted layout
    maybeAutoCompact(gen)
    val (kn, kd, kb) = probeBuckets(f)
    // GENERATION FENCE: two concurrent folds of the same generation
    // (two sessions ingesting the same batch id — the at-least-once
    // replay taken concurrently instead of serially) would interleave
    // their dynamic partition overwrites and could commit a MIX of
    // the two attempts' files into one generation. The fence is an
    // atomic lock-file create (create(p, false) fails if present)
    // scoped to the writes; replay stays idempotent because a replay
    // re-acquires AFTER the first attempt released. A lock whose
    // owning LOCAL process is dead is stolen (crash recovery); on a
    // multi-host deployment the liveness probe is a no-op in the
    // conservative direction (never steals), where a storage-layer
    // lease would replace it.
    withGenLock(gen) {
      // the mask write, the feature appends AND the verdict are
      // mutually independent: the writes touch only generation `gen`'s
      // partitions (disjoint paths between themselves), while the
      // verdict reads only already-checkpointed batch inputs and
      // strictly-EARLIER generations (its base excludes `gen` by
      // partition filter, its masks by the `< gen` resent filter — the
      // same isolation that keeps the verdict valid AFTER the append
      // makes it valid DURING it: `gen`'s dirs are pruned before file
      // listing, and Spark ignores in-flight _temporary staging).
      // Overlap all three; the fold wall drops from writes + verdict
      // to max(writes, verdict). The verdict lands materialized
      // (eager local checkpoint — O(|batch|) rows), which its
      // consumers want anyway: the lifecycle harness checkpoints it,
      // and the streaming fold unions it across batches.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val verdict =
        if (eagerVerdict)
          Some(Future(graft.Checkpoints.eager(verdictOf(f, gen, kn, kb))))
        else None
      try Await.result(Future.sequence(Seq(
        Future(supersede(f.ids, gen, kd)),
        Future(append(f, gen)))), Duration.Inf)
      catch { case t: Throwable =>
        // a failed write must not release the generation lock while
        // the eager verdict's Spark jobs still run detached — a retry
        // fold of the same generation would overlap the orphaned
        // computation (round-12 ADVICE). Drain it (its own failure is
        // secondary to the write failure being propagated).
        verdict.foreach(v =>
          try { Await.result(v, Duration.Inf); () }
          catch { case _: Throwable => () })
        throw t
      }
      verdict.map(Await.result(_, Duration.Inf))
        .getOrElse(verdictOf(f, gen, kn, kb))
    }
  }

  /** Run `body` holding generation `gen`'s writer lock. Throws
    * [[ConcurrentFoldException]] if another live writer holds it. */
  private[graft] def withGenLock[T](gen: Long)(body: => T): T = {
    val p = new Path(s"$path/locks/gen_$gen.lock")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(p, false)
        try out.writeLong(ProcessHandle.current().pid()) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      // steal only if the recorded LOCAL owner is provably dead
      val ownerAlive =
        try {
          val in = fs.open(p)
          val pid = try in.readLong() finally in.close()
          val h = ProcessHandle.of(pid)
          h.isPresent && h.get().isAlive
        } catch { case _: java.io.IOException => true } // unreadable → assume live
      if (ownerAlive)
        throw new ConcurrentFoldException(
          s"generation $gen is being written by another live session ($p)")
      fs.delete(p, false)
      if (!tryAcquire())
        throw new ConcurrentFoldException(
          s"generation $gen lock lost to a concurrent writer ($p)")
    }
    try body finally fs.delete(p, false)
  }

  /** Record generation `gen`'s supersession masks: for each batch id
    * already in the store, the (doc_id, old_gen) of its current
    * latest version. One bucket-pruned lookup against the `sizes` doc
    * index; deterministic given the store below `gen`, so a replayed
    * fold rewrites the identical partition. */
  private[graft] def supersede(ids: DataFrame, gen: Long, kd: Seq[Long]): Unit = {
    val live = liveGens("sizes", gen, Some(kd))
    live.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("ingest_gen").as("old_gen"))
      .withColumn("ingest_gen", lit(gen))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_gen")
      .parquet(s"$path/resent")
  }

  private[graft] def append(f: Features, gen: Long): Unit = {
    // repartition by the bucket column first: one task owns each
    // bucket, so a generation writes ONE file per touched bucket
    // instead of (upstream tasks × buckets) — the per-fold listing
    // cost over many generations is proportional to file count, and
    // this keeps it at the bucket fan-out. At executor-sized batch
    // volumes add a salt column here to widen a bucket across tasks.
    def write(name: String, df: DataFrame, k: Column): Unit =
      df.withColumn(kCol(name), pmod(k, lit(StoreBuckets)))
        .withColumn("ingest_gen", lit(gen))
        .repartition(col(kCol(name)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_gen", kCol(name))
        .parquet(s"$path/$name")
    // the four tables are independent (distinct paths, shared inputs
    // already checkpointed): run the writes concurrently — the
    // per-write cost is mostly the partitioned-commit protocol over
    // the bucket dirs, which serializes on the driver per write, so
    // overlapping them cuts the fold's append wall to ~the slowest
    // single table
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(
      Future(write("norm", f.norm, col("nt_h"))),
      Future(write("shingles", f.shingles, col("doc_id"))),
      Future(write("banded", f.banded, col("bh"))),
      Future(write("sizes", f.sizes, col("doc_id"))))),
      scala.concurrent.duration.Duration.Inf)
    ()
  }

  /** Batch featurization under the FROZEN blocklist: one pass over
    * the batch text (eagerly checkpointed — banding, sizes and the
    * verdict all read it), strings dropped at the boundary. `norm` is
    * checkpointed too: the fold reads it twice (bucket collection +
    * exact layer). */
  private[graft] def featurize(batch: DataFrame): Features = {
    val docs = batch.select("doc_id", "text")
    featurizeHashed(docs,
      DedupOps.rawShingles(docs).withColumn("hs", xxhash64(col("sh"))))
  }

  /** [[featurize]] from an already-derived hashed raw-shingle
    * relation — [[DedupFeatureStore.build]] reuses the checkpoint its
    * df count was computed from instead of re-tokenizing the seed.
    * `normOpt` likewise supplies a precomputed (doc_id, nt_h)
    * relation (the lifecycle harness reads the session-memoized one);
    * absent, the normalization runs over the batch text as before. */
  private def featurizeHashed(docs: DataFrame, rawHs: DataFrame,
                              normOpt: Option[DataFrame] = None): Features = {
    val capped = graft.Checkpoints.eager(
      rawHs.join(broadcast(frequent), Seq("hs"), "left_anti"))
    // banding is the batch's most expensive derivation and has THREE
    // consumers per fold (probe-bucket collection, the feature append,
    // the candidate stage) — materialize it once
    val banded = graft.Checkpoints.eager(
      DedupOps.bandedFromShingles(capped.select("doc_id", "sh")))
    val shingles = capped.select(col("doc_id"), col("hs").as("sh"))
    val ids = docs.select("doc_id")
    // left join, not groupBy alone: a doc with zero surviving
    // shingles still needs its n = 0 index row (supersession lookup)
    val sizes = ids.join(
        shingles.groupBy("doc_id").agg(count(lit(1)).as("cnt")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cnt"), lit(0L)).as("n"))
    val norm = graft.Checkpoints.eager(normOpt.getOrElse(
      DedupOps.normText(docs)
        .select(col("doc_id"), xxhash64(col("nt")).as("nt_h"))))
    Features(ids, norm, shingles, banded, sizes)
  }

  /** Highest generation present (SeedGen for a fresh store) — a
    * partition-metadata read of the doc-index table: `ingest_gen`
    * values come from directory names, no data bytes are read. */
  def maxGen: Long = {
    val r = spark.read.schema(genSchemas("sizes")).parquet(s"$path/sizes")
      .agg(max(col("ingest_gen"))).head()
    if (r.isNullAt(0)) SeedGen else r.getLong(0)
  }

  /** Generation base for a (possibly restarted) streaming ingest run:
    * folds use gen = base + batchId. Keyed by the run's checkpoint
    * location and PERSISTED in the store at first start, so a restart
    * of the same run resumes the SAME base (a replayed batchId maps
    * to its original generation — replay stays idempotent even when
    * earlier folds already advanced [[maxGen]] past it), while a NEW
    * run (fresh or no checkpoint) starts strictly above every
    * generation already in the store instead of restarting at raw
    * batchId 0 and clobbering prior folds (round-10 ADVICE). A run
    * WITHOUT a checkpoint cannot replay across restarts, so its base
    * needs no marker. */
  private[graft] def runBase(checkpoint: Option[String]): Long = {
    val fresh = maxGen + 1L
    checkpoint match {
      case None => fresh
      case Some(cp) =>
        val key = sha8(cp)
        val p = new Path(s"$path/runs/$key")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) {
          val in = fs.open(p)
          try in.readLong() finally in.close()
        } else {
          val out = fs.create(p, false)
          try out.writeLong(fresh) finally out.close()
          fresh
        }
    }
  }

  /** Fold every generation ≤ `upTo` into ONE compacted generation
    * (rewritten as generation `upTo`). After thousands of
    * micro-batches the store holds thousands of small generation
    * partitions and every fold's pruned read still opens a file per
    * (generation × bucket) — compaction bounds the per-fold file
    * count again (StoreSoak's lifecycle). Superseded rows (masked by
    * `resent`) are dropped for good and their masks retired, so a
    * verdict at any generation > `upTo` is ROW-IDENTICAL before and
    * after (DedupStoreSpec proves it). Call between folds with
    * `upTo` ≤ [[maxGen]] and no streaming run pending a replay at or
    * below `upTo`. The stage→delete→rewrite sequence is not
    * crash-atomic (a crash between delete and rewrite leaves the
    * compacted rows only in the staging dir, recoverable manually); a
    * production deployment commits the swap through a manifest, the
    * IncrementalRollup discipline. */
  def compactGenerations(upTo: Long): Unit = {
    require(upTo >= SeedGen, s"upTo=$upTo below SeedGen")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every mask is applicable here regardless of WHEN it was written:
    // compaction runs after the folds, so a mask from any generation
    // correctly retires its target's rows in the compacted range
    val resAll = spark.read.schema(resentSchema).parquet(s"$path/resent")
      .select("doc_id", "old_gen")
    // the four tables compact CONCURRENTLY (disjoint paths, and none
    // touches `resent`, which is only rewritten after all four): the
    // per-table stage→delete→rewrite chain is mostly driver-committed
    // small writes, so the compaction wall drops from the sum of the
    // tables to ~the slowest one — the same overlap [[append]] uses
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def compactTable(name: String): Unit = {
      val rows = spark.read.schema(genSchemas(name)).parquet(s"$path/$name")
        .filter(col("ingest_gen") <= upTo)
      val live = rows.join(broadcast(resAll),
          rows("doc_id") === resAll("doc_id") &&
            rows("ingest_gen") === resAll("old_gen"), "left_anti")
        .withColumn("ingest_gen", lit(upTo))
      // a VISIBLE sibling dir (never a table path, table reads only
      // ever target $path/<table>): dot/underscore prefixes are
      // hidden-filtered by the file index and depend on listing
      // internals
      val staged = s"$path/tmp_compact/$name"
      // stage ALREADY in the table's final layout (bucket-repartitioned
      // + generation/bucket partition dirs): the promote step is then a
      // single directory RENAME instead of a second full write of every
      // compacted row — compaction writes each row once, and the swap
      // is more atomic than the old delete+rewrite, not less
      live.repartition(col(kCol(name)))
        .write.mode("overwrite").partitionBy("ingest_gen", kCol(name))
        .parquet(staged)
      deleteGens(fs, s"$path/$name", upTo)
      promoteStaged(fs, staged, s"$path/$name")
    }
    Await.result(Future.sequence(
      Seq("norm", "shingles", "banded", "sizes")
        .map(n => Future(compactTable(n)))),
      scala.concurrent.duration.Duration.Inf)
    // masks over compacted generations are retired with their targets;
    // only masks pointing at still-live generations survive
    val keep = spark.read.schema(resentSchema).parquet(s"$path/resent")
      .filter(col("old_gen") > upTo)
    val stagedR = s"$path/tmp_compact/resent"
    keep.write.mode("overwrite").partitionBy("ingest_gen").parquet(stagedR)
    fs.delete(new Path(s"$path/resent"), true)
    fs.mkdirs(new Path(s"$path/resent"))
    promoteStaged(fs, stagedR, s"$path/resent")
    fs.delete(new Path(s"$path/tmp_compact"), true)
    ()
  }

  /** Move every `ingest_gen=*` partition dir from a staged write into
    * the live table dir (the targets were deleted beforehand) — the
    * promote half of the stage→delete→promote compaction swap. */
  private def promoteStaged(fs: org.apache.hadoop.fs.FileSystem,
                            staged: String, table: String): Unit =
    fs.listStatus(new Path(staged)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("ingest_gen="))
        if (!fs.rename(st.getPath, new Path(s"$table/$n")))
          throw new java.io.IOException(
            s"compaction promote failed: ${st.getPath} -> $table/$n")
    }

  private def deleteGens(fs: org.apache.hadoop.fs.FileSystem,
                         table: String, upTo: Long): Unit =
    fs.listStatus(new Path(table)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("ingest_gen=") &&
          n.stripPrefix("ingest_gen=").toLong <= upTo)
        fs.delete(st.getPath, true)
    }

  /** Grow the frequent blocklist from everything folded so far
    * (maintenance — run when the corpus head distribution has drifted
    * from the seed; it full-scans the shingle table ONCE, never per
    * fold). The persisted shingles only ever contain blocklist
    * SURVIVORS — a currently-blocked shingle has zero persisted rows,
    * so recomputing df from them alone would silently DROP every
    * seed-frequent shingle (round-10 ADVICE): the blocklist is
    * monotone, recomputed entries union with the existing list. df is
    * counted over LIVE rows only (supersession-masked), one count per
    * doc's latest version. Batches folded after a refresh cap against
    * the grown list; already-persisted generations keep their rows,
    * which the size-gated rep cap tolerates. */
  def refreshBlocklist(): Unit = {
    val sh = spark.read.schema(genSchemas("shingles"))
      .parquet(s"$path/shingles")
    val res = spark.read.schema(resentSchema).parquet(s"$path/resent")
      .select("doc_id", "old_gen")
    val live = sh.join(broadcast(res),
      sh("doc_id") === res("doc_id") &&
        sh("ingest_gen") === res("old_gen"), "left_anti")
    // eager: the merged list reads `frequent` and then OVERWRITES it —
    // materialize before touching the files it came from
    val merged = graft.Checkpoints.eager(
      live.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > DedupOps.MaxDf)
        .select(col("sh").as("hs"))
        .unionByName(frequent).distinct())
    merged.write.mode("overwrite").parquet(s"$path/frequent")
  }

}

/** A second live session attempted to write a generation that is
  * currently being folded — the caller must serialize (or route the
  * batch to a different generation id). */
final class ConcurrentFoldException(msg: String)
  extends IllegalStateException(msg)

object DedupFeatureStore {

  /** A featurized batch (companion-level, not an inner class: the
    * features are store-independent in value, and the lifecycle
    * harness folds ONE featurized batch into several stores). */
  private[graft] case class Features(ids: DataFrame, norm: DataFrame,
                              shingles: DataFrame, banded: DataFrame,
                              sizes: DataFrame)

  /** Generation of the seed corpus — strictly below every real batch
    * id (streaming batchIds start at 0). */
  val SeedGen: Long = -1L

  /** Bucket-partition fan-out per generation and table (dirs/gen).
    * Folds prune their store scans to the buckets they probe, so the
    * scanned fraction of the base is ≈ min(1, probed/StoreBuckets) —
    * raise it with corpus size (it only changes directory fan-out;
    * no row is keyed by it). */
  val StoreBuckets: Long = 64L

  private def sha8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Featurize the seed corpus (doc_id, text) and write the store:
    * frequent blocklist from the seed's document frequencies, then
    * the seed's own features as generation [[SeedGen]]. Overwrites
    * any store at `path`. */
  def build(docs: DataFrame, path: String): DedupFeatureStore =
    build(docs, path, None, None)

  /** [[build]] with caller-supplied hashed-raw-shingle / norm-hash
    * relations for the seed (the lifecycle harness passes slices of
    * the session memos so the seed build re-runs neither the regex
    * tokenizer nor the normalizer over raw text — value-identical
    * inputs by construction). */
  private[operators] def build(docs: DataFrame, path: String,
                               rawHsOpt: Option[DataFrame],
                               normOpt: Option[DataFrame]): DedupFeatureStore = {
    val spark = docs.sparkSession
    // a NEW store: wipe the whole path first — overwriting only the
    // seed generation would leave any stale/partial generations from
    // a previous (possibly crashed mid-write) store alive under the
    // same root, and a generation dir holding only staging debris
    // fails parquet schema inference at read time
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val seed = docs.select("doc_id", "text")
    val raw = graft.Checkpoints.eager(rawHsOpt.getOrElse(
      DedupOps.rawShingles(seed).withColumn("hs", xxhash64(col("sh")))))
    raw.groupBy("hs").agg(count(lit(1)).as("df"))
      .filter(col("df") > DedupOps.MaxDf)
      .select("hs")
      .write.mode("overwrite").parquet(s"$path/frequent")
    val store = new DedupFeatureStore(spark, path)
    // an empty resent table (schema-declared reads tolerate the
    // zero-file state) so every later mask read has a real path
    spark.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("old_gen"),
        lit(0L).as("ingest_gen"))
      .limit(0)
      .write.mode("overwrite").partitionBy("ingest_gen")
      .parquet(s"$path/resent")
    store.append(
      store.featurizeHashed(seed.select("doc_id", "text"), raw, normOpt),
      SeedGen)
    store
  }

  /** Open an existing store — pure disk read, no session state: the
    * cross-session path a re-crawl takes days after [[build]]. */
  def load(spark: SparkSession, path: String): DedupFeatureStore =
    new DedupFeatureStore(spark, path)

  // ------------------------------------------ registered evaluation

  /** Deterministic store location for the registered query (rebuilt
    * and overwritten per call — partition overwrite keeps repeated
    * runs idempotent). Rooted under the JVM tmpdir + user and
    * suffixed with a hash of the FULL dir string: the lossy character
    * sanitization alone could collide two distinct data dirs on one
    * store path, and a fixed world-readable /tmp prefix is
    * pre-creatable by other local users (round-10 ADVICE).
    *
    * PROCESS-scoped (pid in the path, tree deleted on JVM exit): the
    * pre-r13 path was stable across JVMs and [[buildCachedCopy]]
    * skips the seed build when the dir already exists, so a SECOND
    * bench invocation on one boot would silently reuse the previous
    * process's featurized seed — a persisted intermediate keyed on
    * the data dir, i.e. cross-run precomputation, which the bench
    * methodology forbids. Every invocation now featurizes its own
    * seed from the parquet inputs; within-process sharing (the
    * lifecycle prefix the two registered queries split) is untouched. */
  private lazy val storeRoot: String = {
    val user = Option(System.getProperty("user.name")).getOrElse("anon")
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
      .stripSuffix("/")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
      }
      f.delete(); ()
    }
    // sweep sibling pid_* trees whose owner is dead (r14, ADVICE): the
    // shutdown hook below never runs for a SIGKILL/OOM-killed JVM, and
    // nothing else reclaims a dead run's multi-GB featurized seed —
    // each new process sweeps before creating its own root
    val parent = new java.io.File(s"$tmp/graft_store_$user")
    val stale = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("pid_"))
      .filter { f =>
        f.getName.stripPrefix("pid_").toLongOption.exists { pid =>
          val h = ProcessHandle.of(pid)
          !(h.isPresent && h.get().isAlive)
        }
      }
    stale.foreach(f => try rm(f) catch { case _: Throwable => () })
    val root = s"$tmp/graft_store_$user/pid_${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try rm(new java.io.File(root))
      catch { case _: Throwable => () }))
    root
  }

  private def storePathFor(d: String): String =
    s"$storeRoot/" + d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + sha8(d)

  /** Build the seed store at `seedPath` unless it exists, then copy
    * it into `workPath`. The seed path is never folded into, so an
    * existing seed is always byte-current. Runs inside the
    * at-most-once `dedup_store_lifecycle` cell ([[lifecycleBase]]). */
  private def buildCachedCopy(docs: DataFrame, seedPath: String,
                              workPath: String,
                              rawHsOpt: Option[DataFrame] = None,
                              normOpt: Option[DataFrame] = None)
      : DedupFeatureStore = {
    val spark = docs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(seedPath).getFileSystem(conf)
    // cross-JVM-safe seed build: build into a PROCESS-UNIQUE temp dir
    // and atomically rename into place, skipping when the target
    // already exists — two overlapping JVMs on the same dataset (the
    // jrun.sh overlap pattern) previously raced build()'s
    // delete+rewrite on the shared seed dir while the other process
    // was mid-copy (round-11 ADVICE). The rename loser just discards
    // its temp build; the seed is a pure deterministic function of
    // the immutable data dir, so any completed build is current.
    if (!fs.exists(new Path(seedPath))) {
      val tmp = new Path(
        s"$seedPath.build_${ProcessHandle.current().pid()}_${System.nanoTime()}")
      build(docs, tmp.toString, rawHsOpt, normOpt)
      // FileContext.rename (not FileSystem.rename): fails with an
      // exception when dst exists instead of silently moving src
      // INTO the existing directory
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, conf)
      try fc.rename(tmp, new Path(seedPath))
      catch { case e: java.io.IOException =>
        fs.delete(tmp, true) // lost the race — a completed seed won
        if (!fs.exists(new Path(seedPath))) throw e
      }
    }
    fs.delete(new Path(workPath), true)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(seedPath), fs, new Path(workPath), false, true, conf)
    new DedupFeatureStore(spark, workPath)
  }

  /** The lifecycle state both registered store queries share: the
    * post-fold-A store (seed ∪ generation 1 on disk) and batch A's
    * eagerly-checkpointed verdict, plus batch B's featurized form.
    * Every piece is a DETERMINISTIC artifact of the immutable data
    * dir (same seed, same slices, same frozen blocklist), so
    * computing it once per session and COPYING the store into each
    * query's private working path changes no observable value —
    * each query still runs its distinguishing work (the uncompacted
    * vs compacted fold of batch B) against a real on-disk store.
    * This is the round-11 "memoize the store-lifecycle artifacts
    * across a bench session" item: the harness previously rebuilt
    * seed + fold A per query (the dominant toy-SF cost), proving the
    * same deterministic prefix twice. */
  private case class LifecycleBase(postAPath: String, v1: DataFrame,
                                   featB: Features)

  private def step(n: Int, v: DataFrame): DataFrame =
    v.select(lit(n).as("ingest_step"), col("doc_id"), col("status"),
      col("hit_id"), col("jaccard"))

  // An at-most-once Memo cell, not a recompute-on-race cache: a double
  // evaluation here is not a harmless wasted recompute — both builds
  // would fold into the SAME postA working directory (delete + copy +
  // generation-locked fold), so a concurrent second builder corrupts
  // the store or trips the generation lock. A failed build is dropped
  // and retried by the next caller; waiters see its original
  // exception type.
  private def lifecycleBase(s: SparkSession, d: String): LifecycleBase =
    graft.Memo.value(s, "dedup_store_lifecycle", d)(buildLifecycleBase(s, d))

  private def buildLifecycleBase(s: SparkSession, d: String): LifecycleBase = {
      val docs = DedupOps.docsParallel(s, d).select("doc_id", "text")
      // the corpus max id as a LITERAL (1-row gate probe, the
      // bounded-driver-read convention): the old crossJoin(mx) form
      // put the slice predicate ABOVE the broadcast join, where it
      // cannot push below the shingle explode — every slice then paid
      // the FULL corpus explode+hash before filtering (measured: the
      // two 10% slices cost the same ~220 task-s as the 80% one). A
      // literal predicate on doc_id pushes into the cached scans.
      // null-safe max (r14, ADVICE): on an EMPTY corpus max(doc_id) is
      // null and getLong threw — default 0 makes every slice empty and
      // the lifecycle degrades gracefully (the old crossJoin form's
      // behavior) instead of NPEing
      val mxRow = docs.agg(max(col("doc_id"))).head()
      val mxId = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      // id-slice predicate applied to ANY per-doc relation — the
      // corpus-resident featurize inputs below come from the session
      // memos (tokenize pass, norm hashes) instead of re-running the
      // two regex passes over every slice's raw text (r13: jointly
      // one more full-corpus tokenize + one more normalize per
      // lifecycle build; value-identical inputs by construction)
      def sliced(df: DataFrame, lo: Int, hi: Int): DataFrame =
        df.filter(col("doc_id") * 10 > lit(mxId) * lo &&
          col("doc_id") * 10 <= lit(mxId) * hi)
      def slice(lo: Int, hi: Int): DataFrame = sliced(docs, lo, hi)
      val rawHsAll = DedupOps.rawShingleHashesFromToks(s, d)
      val normAll = DedupOps.normHashes(s, d)
      val base0 = docs.filter(col("doc_id") * 10 <= lit(mxId) * 8)
      val rawHs0 = rawHsAll.filter(col("doc_id") * 10 <= lit(mxId) * 8)
      val norm0 = normAll.filter(col("doc_id") * 10 <= lit(mxId) * 8)
      val postAPath = storePathFor(d) + "_postA"
      val store = buildCachedCopy(base0,
        storePathFor(d) + "_seed", postAPath, Some(rawHs0), Some(norm0))
      def featurizeSlice(lo: Int, hi: Int): Features =
        store.featurizeHashed(slice(lo, hi), sliced(rawHsAll, lo, hi),
          Some(sliced(normAll, lo, hi)))
      // fold A once; its verdict is checkpointed (the union consumers
      // must not re-read generation dirs later copies/compactions own)
      val v1 = graft.Checkpoints.eager(
        step(1, store.foldFeaturized(
          featurizeSlice(8, 9), 1L, eagerVerdict = true)))
      // batch B featurized once: store-independent in value (frozen
      // blocklist content identical in every copy), checkpointed
      val featB = featurizeSlice(9, 10)
      LifecycleBase(postAPath, v1, featB)
  }

  /** Bench fill hook: the deterministic lifecycle prefix (seed build,
    * fold A, batch-B features) is a shared session artifact exactly
    * like the memoized relations, so it materializes in the fill
    * phase — the registered queries then time their distinguishing
    * work (copy + [compact +] fold B), not the shared prefix. */
  private[graft] def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] =
    Seq("dedup_store_lifecycle" -> (() => { lifecycleBase(s, d); () }))

  /** `dedup_store_fold`: the two-step crawl-ingest fold of
    * `dedup_ingest_fold`, run THROUGH a real on-disk store — build
    * from the ≤80% id slice (frozen blocklist = seed statistic),
    * fold batch A = (80%, 90%] as generation 1, then batch B =
    * (90%, 100%] as generation 2 (whose base is seed ∪ A: the
    * cross-batch attribution case). Unlike `dedup_ingest_fold` the
    * base features here come off PARQUET written by earlier folds,
    * not a session memo — the oracle applies the identical frozen
    * seed-df cap. Seed + fold A come from the session's shared
    * [[lifecycleBase]] artifact, copied into this query's own
    * working path. */
  def storeFold(s: SparkSession, d: String): DataFrame = {
    val base = lifecycleBase(s, d)
    val store = phased("store_fold", "copy")(
      copyStore(s, base.postAPath, storePathFor(d)))
    base.v1.unionAll(step(2, phased("store_fold", "foldB")(
      store.foldFeaturized(base.featB, 2L, eagerVerdict = true))))
  }

  /** Wall-clock phase probe for the two registered lifecycle queries
    * (r13 verdict item 8 — decompose dedup_store_compact's wall into
    * copy / compact / fold so the irreducible write cost is visible).
    * Pure observation: one nanoTime pair + a stderr line per phase,
    * results untouched. */
  private def phased[T](q: String, phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(
      f"[storephase] $q $phase ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  /** `dedup_store_compact`: the [[storeFold]] lifecycle WITH a
    * [[compactGenerations]] between the folds — seed store, batch A
    * as generation 1 (the shared [[lifecycleBase]] artifact), compact
    * (seed ∪ A rewritten as ONE generation, supersession masks
    * retired, superseded rows physically dropped), then batch B as
    * generation 2 against the COMPACTED base. The oracle is
    * byte-for-byte [[storeFoldSql]]: compaction must be
    * verdict-invariant, and registering the compacted run against
    * the uncompacted mirror proves that invariance in the driver's
    * hash gate at every SF — not just in DedupStoreSpec. */
  def storeCompactFold(s: SparkSession, d: String): DataFrame = {
    val base = lifecycleBase(s, d)
    val store = phased("store_compact", "copy")(
      copyStore(s, base.postAPath, storePathFor(d + "#compact")))
    phased("store_compact", "compact")(store.compactGenerations(1L))
    base.v1.unionAll(step(2, phased("store_compact", "foldB")(
      store.foldFeaturized(base.featB, 2L, eagerVerdict = true))))
  }

  /** Private working copy of a store: hardlinks where the filesystem
    * allows (parquet files are immutable once committed — generations
    * are only ever ADDED or their directory entries removed, so a
    * link-copy can never see in-place mutation), byte copy as the
    * fallback. */
  private def copyStore(s: SparkSession, from: String,
                        to: String): DedupFeatureStore = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new Path(from).getFileSystem(conf)
    fs.delete(new Path(to), true)
    def linkWalk(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(c =>
          linkWalk(c, new java.io.File(dst, c.getName)))
      } else java.nio.file.Files.createLink(dst.toPath, src.toPath)
    try linkWalk(new java.io.File(from), new java.io.File(to))
    catch { case _: Exception =>
      fs.delete(new Path(to), true)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new Path(from), fs, new Path(to), false, true, conf)
    }
    new DedupFeatureStore(s, to)
  }

  /** Mirror: identical to the `dedup_ingest_fold` mirror except the
    * df cap — FROZEN over the ≤80% seed slice and applied uniformly
    * to every doc (the store's blocklist discipline), instead of
    * self-capped over the whole corpus. The Spark side joins
    * xxhash64 of normalized text / shingles where this mirror joins
    * the strings — the documented ~2^-64 asymmetry. */
  private[operators] def storeFoldSql: String =
    s"""WITH ${DedupOps.shingleRawSqlCte},
       |mx0 AS (SELECT max(doc_id) AS mx_id FROM documents),
       |freq AS (
       |  SELECT sh FROM sh0 CROSS JOIN mx0
       |  WHERE doc_id * 10 <= mx_id * 8
       |  GROUP BY sh HAVING count(*) > ${DedupOps.MaxDf}),
       |sh AS MATERIALIZED (
       |  SELECT sh0.doc_id, sh0.sh FROM sh0
       |  LEFT JOIN freq ON sh0.sh = freq.sh
       |  WHERE freq.sh IS NULL),
       |${DedupOps.foldMirrorTail}""".stripMargin
}

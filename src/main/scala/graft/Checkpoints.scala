package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic lifecycle for `localCheckpoint()` blocks.
  *
  * Operators materialize multi-consumer intermediates with an eager
  * local checkpoint (cuts lineage + computes once). The checkpoint's
  * cached RDD blocks, however, are reclaimed only when the JVM
  * garbage-collects the RDD handle and the ContextCleaner notices —
  * in a long-lived library session that runs build/clear cycles, the
  * blocks accumulate on executors between GCs, invisible to
  * [[Memo.clear]] (which unpersists only what the memo itself
  * persisted). Every checkpoint therefore goes through [[eager]],
  * which registers the materialized RDD under its session;
  * [[Memo.clear]] then unpersists all of them explicitly, after
  * dropping the memo cells that held them.
  *
  * Registered handles are WEAK references: while a consumer still
  * holds the checkpointed DataFrame (whose plan holds the RDD
  * strongly), [[release]] unpersists its blocks deterministically;
  * once every consumer has dropped the DataFrame, the handle clears
  * and the ContextCleaner's GC path reclaims the blocks as the
  * backstop. A long-lived session that registers per-round handles
  * (the iterative CorpusOps/GraphOps loops) therefore never pins
  * executor block-manager memory through the registry itself —
  * strong refs here would both accumulate without bound between
  * Memo.clear calls and defeat the ContextCleaner (round-7 ADVICE).
  */
object Checkpoints {

  import java.lang.ref.WeakReference

  private val live = scala.collection.mutable.ListBuffer
    .empty[(SparkSession, WeakReference[org.apache.spark.rdd.RDD[_]])]

  /** `df.localCheckpoint()` + registration for explicit release. */
  def eager(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    org.apache.spark.sql.GraftColumnBridge.checkpointRdd(out).foreach { r =>
      live.synchronized {
        // opportunistic compaction: drop GC-cleared handles so the
        // buffer tracks live checkpoints, not registration history
        live.filterInPlace(_._2.get != null)
        live += ((df.sparkSession, new WeakReference(r)))
      }
    }
    out
  }

  /** Unpersist every still-reachable registered checkpoint RDD of `s`
    * (non-blocking — the blocks drop asynchronously, the handles drop
    * now; GC-cleared handles were already reclaimed by the
    * ContextCleaner). Called by [[Memo.clear]], with the
    * locally-checkpointed-RDD unpersist warning silenced for exactly
    * this scope — release only ever runs after the checkpoints'
    * consumers are done (Memo.clear concurrent with in-flight queries
    * over memoized plans is unsupported, see [[Memo.clear]]), so the
    * "cannot be recomputed after unpersisting" WARN is noise here but
    * stays audible for any OTHER unpersist site. */
  def release(s: SparkSession): Unit = {
    val mine = live.synchronized {
      val (m, rest) = live.partition(_._1 eq s)
      live.clear(); live ++= rest
      m.toList.flatMap(p => Option(p._2.get))
    }
    if (mine.nonEmpty) {
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      val prior = org.apache.logging.log4j.LogManager.getLogger(name).getLevel
      org.apache.logging.log4j.core.config.Configurator
        .setLevel(name, org.apache.logging.log4j.Level.ERROR)
      // RDD.unpersist logs the warning synchronously at call time,
      // so restoring after the loop closes the silenced window even
      // with blocking = false
      try mine.foreach(_.unpersist(blocking = false))
      finally org.apache.logging.log4j.core.config.Configurator
        .setLevel(name, prior)
    }
  }

  /** Still-reachable registered-handle count for `s` (spec hook). */
  private[graft] def liveCount(s: SparkSession): Int =
    live.synchronized(live.count(p => (p._1 eq s) && p._2.get != null))
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** A repeated workload must not recompile its generated code. Spark
  * keeps compiled whole-stage classes in a bounded cache whose size
  * (`spark.sql.codegen.cache.maxEntries`, see [[GraftSession.builder]])
  * is read once per JVM, so this checks the behaviour rather than the
  * conf: the second pass over each of the benchmark's two workloads
  * (perfbench/run.py) must compile zero classes. With Spark's default
  * of 100 entries both working sets overflow the cache, it evicts in a
  * loop, and every pass recompiles about a hundred classes; with stage
  * ids in the class names, a pipeline that AQE numbers differently on
  * the next run misses the cache too. */
class CodegenCacheSpec extends AnyFunSuite {

  /** `olap_warm`: memo-free OLAP, ETL, streaming and ingest queries. */
  private val olapWarm = Seq("q_anti_join", "q_topk_orders",
    "q14_promo_revenue", "q_grouping_sets", "q22_idle_customers",
    "q3_shipping_priority", "etl_validate", "stream_cdc",
    "stream_tumbling", "etl_pipeline", "etl_upsert", "ingest_feed")

  /** `llm_cold`: LLM-data queries, each pass from an empty memo. */
  private val llmCold = Seq("dedup_exact", "emb_pca", "doc_hash_embed",
    "doc_bm25", "mm_modality_stats", "corpus_stats", "sample_temperature")

  /** Runs every query once and returns the classes each compiled. */
  private def pass(names: Seq[String], coldMemo: Boolean): Seq[(String, Long)] = {
    val s = TestSession.spark
    if (coldMemo) Memo.clear(s)
    names.map { n =>
      val c0 = Bench.codegenCompiles
      SparkEntry.queries(n)(s, TestSession.sf).collect()
      n -> (Bench.codegenCompiles - c0)
    }
  }

  test("a second pass over each benchmark workload compiles no classes") {
    val first = pass(olapWarm, coldMemo = false) ++ pass(llmCold, coldMemo = true)
    val second = pass(olapWarm, coldMemo = false) ++ pass(llmCold, coldMemo = true)
    val recompiled = second.filter(_._2 > 0)
    info(s"first pass compiled ${first.map(_._2).sum} classes, " +
      s"second pass ${second.map(_._2).sum}")
    assert(recompiled.isEmpty, s"second pass compiled " +
      s"${recompiled.map(_._2).sum} classes: " +
      recompiled.map { case (n, c) => s"$n $c" }.mkString(", "))
  }
}

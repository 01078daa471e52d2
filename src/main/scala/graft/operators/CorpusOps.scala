package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text

/** §2.C capstone — from near-dup PAIRS to a clean corpus.
  *
  * Pair lists aren't what a training pipeline consumes; it needs a
  * keep/drop decision per document. `clusters` resolves the pair
  * graph into connected components by iterative min-label
  * propagation (each round: every doc adopts the smallest label in
  * its neighborhood; fixpoint ≤ component diameter rounds, checked
  * per round with an early exit). At 100 TB with adversarial graph
  * shapes you'd switch to the large-star/small-star algorithm — the
  * per-round join structure is identical, only the edge rewriting
  * differs; near-dup components in practice have tiny diameters.
  */
object CorpusOps {

  /** doc_id → cluster_id (smallest doc_id reachable through near-dup
    * pairs), is_kept = representative flag. Memoized per (session,
    * dir): the flagship clean_corpus composite reuses this exact
    * result instead of re-deriving the whole pair pipeline. */
  def clusters(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "dedup_clusters", d) {
      val pairs = DedupOps.ngramJaccard(s, d).select("doc_a", "doc_b")
      clustersFromPairs(Tables.documents(s, d).select("doc_id"), pairs)
    }

  /** This family's shared memoized relation (the cluster map) —
    * consumed by [[graft.Memo.fill]]. The pair set it builds on is
    * the `ngram_jaccard` cell, which this fill awaits or builds. */
  private[graft] def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "dedup_clusters" -> (() => { clusters(s, d); () }))

  /** Edge count below which the component resolution collapses to a
    * driver-side union-find: O(E α(E)) on one core beats ~diameter
    * distributed rounds when the pair graph fits trivially in memory
    * (near-dup graphs after blocking are a vanishing fraction of the
    * corpus). Above it, the distributed min-label loop runs — and
    * only over the pair-connected vertices, never the whole corpus;
    * untouched documents are their own cluster by construction.
    *
    * `SPARK_GRAFT_CC_MAX_DRIVER_EDGES` overrides the threshold so a
    * measurement run can force the distributed pointer-doubling path
    * under a real-scale pair graph (set it to 0) without changing
    * the production default — both paths produce identical labels
    * (GraphSpec pins this; the §8g sf1 forced run hash-matches the
    * oracle either way). */
  private val DriverUnionFindMaxEdges: Long =
    sys.env.get("SPARK_GRAFT_CC_MAX_DRIVER_EDGES").map(_.toLong)
      .getOrElse(1000000L)

  private[graft] def clustersFromPairs(docs: DataFrame, pairs: DataFrame,
      driverMaxEdges: Long = DriverUnionFindMaxEdges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("doc_a"), col("doc_b"))
    // the driver path holds edges in an Array, so the threshold is
    // meaningful only within Int range — clamp loudly-documented
    // rather than letting `.toInt` overflow to a negative limit
    val maxEdges = math.min(driverMaxEdges, (Int.MaxValue - 1).toLong).toInt
    // ONE driver job decides the path AND fetches the small case's
    // edges: collect limit+1 rows from the CACHED frame — if the
    // limit isn't hit, these are ALL the edges and no separate count
    // pass runs; if it is hit, the partitions the probe touched are
    // already cached for the distributed path below (the pair plan is
    // typically a whole dedup pipeline; scheduling it twice doubles
    // the fill cost under a contended driver)
    val pc = p.cache()
    val probe = pc.limit(maxEdges + 1).collect()

    val connectedLabels: DataFrame =
      if (probe.length <= maxEdges) {
        pc.unpersist()
        // driver fast path: exact union-find over the (small) pair set.
        // find is ITERATIVE (walk to root, second pass re-points the
        // path) — a recursive version recurses as deep as the longest
        // parent chain and a degenerate path graph near the 1M-edge
        // threshold would overflow the stack.
        val es = probe.map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x0: Long): Long = {
          var root = x0
          while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
          var x = x0
          while (x != root) { val next = parent(x); parent(x) = root; x = next }
          root
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        parent.keys.toSeq.map(x => (x, find(x))).toDF("doc_id", "lbl")
      } else {
        // distributed min-label propagation WITH POINTER DOUBLING over
        // the connected subgraph: each round a node takes the min of
        // (its label, its neighbors' labels, its LABEL'S label — the
        // pointer-jumping step). The doubling step makes the distance
        // a label has travelled double per round, so convergence is
        // O(log diameter) rounds, not O(diameter) — a 10⁶-long path
        // component converges in ~20 rounds instead of 10⁶.
        val edges = pc.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pc.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .cache()
        var labels = edges.select(col("src").as("doc_id")).distinct()
          .select(col("doc_id"), col("doc_id").as("lbl")).transform(graft.Checkpoints.eager)
        var converged = false
        var round = 0
        val maxRounds = 60 // doubling: covers components of diameter ~2^60
        while (!converged && round < maxRounds) {
          val nbrMin = edges
            .join(labels.select(col("doc_id").as("src"), col("lbl")), "src")
            .groupBy(col("dst").as("doc_id"))
            .agg(min(col("lbl")).as("nbr_lbl"))
          val jump = labels.select(col("doc_id"), col("lbl").as("j"))
            .join(labels.select(col("doc_id").as("j"), col("lbl").as("jump_lbl")), "j")
            .select(col("doc_id"), col("jump_lbl"))
          // localCheckpoint (eager): materializes the round AND cuts
          // the plan lineage — `next` references `labels` three times
          // (nbr, jump, self), so an uncut plan would grow 3^rounds
          val next = labels
            .join(nbrMin, Seq("doc_id"), "left")
            .join(jump, Seq("doc_id"), "left")
            .select(col("doc_id"),
              least(col("lbl"),
                coalesce(col("nbr_lbl"), col("lbl")),
                coalesce(col("jump_lbl"), col("lbl"))).as("lbl"))
            .transform(graft.Checkpoints.eager)
          val changed = next.join(labels.withColumnRenamed("lbl", "old_lbl"), "doc_id")
            .filter(col("lbl") =!= col("old_lbl")).count()
          labels.unpersist()
          labels = next
          converged = changed == 0
          round += 1
        }
        // genuinely unreachable under the doubling bound; kept so a
        // regression can never return silently-wrong labels
        if (!converged) throw new IllegalStateException(
          s"label propagation did not converge within $maxRounds doubling rounds")
        // one diagnostic line per distributed resolution — the §8g
        // scale measurement reads rounds/edges/vertices from here
        // (both counts hit CACHED relations: edges is the loop's
        // cached symmetric edge set, labels the final checkpoint)
        System.err.println(
          s"[cc] distributed components: converged in $round rounds " +
            s"(${edges.count() / 2} pair edges, ${labels.count()} " +
            s"connected vertices, driver threshold $maxEdges)")
        // labels is localCheckpointed (materialized independently),
        // so the loop's inputs can release their storage now — a
        // long-lived session shouldn't accumulate per-call caches
        edges.unpersist()
        pc.unpersist()
        labels
      }

    docs.select(col("doc_id"))
      .join(connectedLabels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("is_kept", col("doc_id") === col("cluster_id"))
  }

  /** The flagship composite: quality-filter → near-dup cluster →
    * keep representatives. Output: the retained corpus with its
    * quality score and fingerprint — what a training-data run would
    * materialize. */
  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val quality = TextOps.quality(s, d).select(col("doc_id"), col("quality"))
    val fp = TextOps.fingerprint(s, d).select(col("doc_id"), col("fp"))
    val keep = clusters(s, d).filter(col("is_kept")).select("doc_id", "cluster_id")
    Tables.documents(s, d)
      .join(quality, "doc_id")
      .filter(col("quality") >= 0.5)
      .join(keep, "doc_id")
      .join(fp, "doc_id")
      .select("doc_id", "lang", "source", "n_chars", "quality", "fp")
  }

  /** Shared CTE chain: the Jaccard pair graph → symmetric edges →
    * recursive label walk → per-doc min reachable id. DuckDB's
    * recursive CTE (UNION dedups rows, so the walk terminates at the
    * transitive closure) is exactly min-label propagation run to
    * fixpoint — an independent re-derivation of the Spark side's
    * union-find / distributed propagation. */
  private[operators] def ccCte: String =
    s"${DedupOps.jaccardPairsCte},\n$ccFixpointCte"

  /** The component fixpoint alone — expects a `pairs`(doc_a, doc_b)
    * relation already in scope, so ANY pair machinery (jaccard,
    * phash) can resolve clusters through the same recursive walk. */
  private[operators] def ccFixpointCte: String =
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT edges.dst, w.lbl FROM walk w JOIN edges ON w.doc_id = edges.src),
       |cc AS MATERIALIZED (SELECT doc_id, min(lbl) AS cluster_id FROM walk GROUP BY doc_id)""".stripMargin

  private def clustersSql: String =
    s"""WITH RECURSIVE $ccCte
       |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_kept FROM cc""".stripMargin

  private def cleanCorpusSql: String =
    s"""WITH RECURSIVE $ccCte,
       |${TextOps.qualityCte}
       |SELECT d.doc_id, d.lang, d.source, d.n_chars, qual.quality,
       |  ${TextOps.fpExprSql} AS fp
       |FROM documents d
       |JOIN qual ON d.doc_id = qual.doc_id
       |JOIN cc ON d.doc_id = cc.doc_id
       |WHERE qual.quality >= 0.5 AND cc.cluster_id = d.doc_id""".stripMargin

  /** END-TO-END corpus assembly — the whole curation pipeline as ONE
    * call: quality filter → near-dup cluster representatives
    * (= clean_corpus, all memo-shared) → deterministic training-order
    * shuffle (rank by quad-hash via the hash-range-blocked two-level
    * prefix sum) → fixed-size shard assignment. The output IS the
    * manifest a trainer consumes: which doc, which shard file, which
    * position. Every stage is an already-oracled operator; this
    * composite proves they compose without driver-side glue (one
    * lazy plan end to end). */
  def assembleCorpus(s: SparkSession, d: String): DataFrame = {
    val shardSize = PipelineOps.shuffleShardSize
    val clean = cleanCorpus(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
      .withColumn("h", graft.functions.ihash.quad(col("doc_id")))
    PipelineOps.hashRankPositions(clean, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        expr(s"cast(pos div $shardSize as int)").as("shard"),
        (col("pos") % shardSize).cast("int").as("pos_in_shard"))
  }

  private def assembleCorpusSql: String = {
    val hash = graft.functions.ihash.quadSqlNested("doc_id")
    val shardSize = PipelineOps.shuffleShardSize
    s"""WITH RECURSIVE $ccCte,
       |${TextOps.qualityCte},
       |clean AS (
       |  SELECT d.doc_id, d.lang, d.source, qual.quality
       |  FROM documents d
       |  JOIN qual ON d.doc_id = qual.doc_id
       |  JOIN cc ON d.doc_id = cc.doc_id
       |  WHERE qual.quality >= 0.5 AND cc.cluster_id = d.doc_id),
       |r AS (
       |  SELECT doc_id, lang, source, quality,
       |    row_number() OVER (ORDER BY $hash, doc_id) - 1 AS pos
       |  FROM clean)
       |SELECT doc_id, lang, source, quality,
       |  cast(pos // $shardSize as int) AS shard,
       |  cast(pos % $shardSize as int) AS pos_in_shard
       |FROM r""".stripMargin
  }

  // ------------------------------------------------- decontamination

  /** Stand-in eval set: docs with id < this are "the benchmark". A
    * real run would read the eval corpus from its own table; the
    * operator shape (broadcast benchmark shingle set, map-side semi
    * probe) is identical. */
  private val BenchmarkDocs = 25

  /** Train/eval contamination check — the decontamination pass every
    * LLM data pipeline runs before training: a document is
    * contaminated when ≥ half its token shingles appear anywhere in
    * the benchmark set. Reuses the memoized df-capped shingle
    * relation (the df cap also drops boilerplate n-grams that carry
    * no contamination signal). The benchmark shingle set broadcasts —
    * eval sets are tiny next to the corpus — so the only shuffle is
    * the per-doc count aggregation; the contamination flag compares
    * INTEGERS (2·hits ≥ shingles), exact in both engines. Docs
    * shorter than one shingle carry no signal and are absent (same
    * on both sides). */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = DedupOps.shingleSets(s, d)
    val bsh = sh.filter(col("doc_id") < BenchmarkDocs).select("sh").distinct()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = sh.join(broadcast(bsh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    counts.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) * lit(1.0) / col("n_shingles"))
          .as("contamination_ratio"),
        (col("doc_id") < BenchmarkDocs).as("is_benchmark"),
        (coalesce(col("n_hit"), lit(0L)) * 2 >= col("n_shingles"))
          .as("is_contaminated"))
  }

  private def decontaminateSql: String =
    s"""WITH ${DedupOps.shingleSetsSqlCte},
       |bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id < $BenchmarkDocs),
       |counts AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
       |hits AS (
       |  SELECT s.doc_id, count(*) AS n_hit
       |  FROM sh s JOIN bsh USING (sh) GROUP BY 1)
       |SELECT c.doc_id, c.n_shingles,
       |  coalesce(h.n_hit, 0) AS n_hit,
       |  coalesce(h.n_hit, 0) * 1.0 / c.n_shingles AS contamination_ratio,
       |  (c.doc_id < $BenchmarkDocs) AS is_benchmark,
       |  (coalesce(h.n_hit, 0) * 2 >= c.n_shingles) AS is_contaminated
       |FROM counts c LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Dataset-card statistics per source: doc/language counts, token
    * totals and means, char bounds — the summary table a corpus
    * release ships. One partial/final aggregation over a narrow
    * tokenize map; means divide exact integer sums once at the end,
    * so every figure is bit-stable under repartitioning. */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .select(col("source"), col("lang"), col("n_chars"),
        size(graft.functions.text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_tok")).cast("double") / count(lit(1))).as("mean_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  private val corpusStatsSql = {
    val toks = text.tokensSql
    s"""SELECT source,
       |  cast(count(*) as bigint) AS n_docs,
       |  cast(count(DISTINCT lang) as bigint) AS n_langs,
       |  cast(sum(cast(len($toks) as bigint)) as bigint) AS total_tokens,
       |  cast(sum(cast(len($toks) as bigint)) as double)
       |    / cast(count(*) as bigint) AS mean_tokens,
       |  cast(sum(n_chars) as double) / cast(count(*) as bigint) AS mean_chars,
       |  min(n_chars) AS min_chars,
       |  max(n_chars) AS max_chars
       |FROM documents
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------ train/test split

  private val SplitTrainPct = 80
  private val SplitValPct = 10

  /** Leakage-aware train/validation/test split: the split key is the
    * near-dup CLUSTER id, not the document id — hash-bucketing
    * clusters (not docs) guarantees near-duplicates can never
    * straddle the train/eval boundary, which is the leak that
    * silently inflates eval numbers in a naive random split. Buckets
    * come from the engine-reproducible quad hash (no RNG), so the
    * split is stable across engines, runs and repartitioning; the
    * cluster relation is the memoized Jaccard-component output that
    * clean_corpus/assemble_corpus already share. One broadcast-free
    * equi-join on doc_id, then a narrow bucket map. */
  def trainTestSplit(s: SparkSession, d: String): DataFrame = {
    val cl = clusters(s, d).select("doc_id", "cluster_id")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(cl, "doc_id")
      .withColumn("bucket",
        (graft.functions.ihash.quad(col("cluster_id")) % 100).cast("int"))
      .select(col("doc_id"), col("cluster_id"), col("lang"),
        when(col("bucket") < SplitTrainPct, "train")
          .when(col("bucket") < SplitTrainPct + SplitValPct, "validation")
          .otherwise("test").as("split"))
  }

  private def trainTestSplitSql: String = {
    val hash = graft.functions.ihash.quadSqlNested("cc.cluster_id")
    s"""WITH RECURSIVE $ccCte
       |SELECT d.doc_id, cc.cluster_id, d.lang,
       |  CASE WHEN ($hash) % 100 < $SplitTrainPct THEN 'train'
       |       WHEN ($hash) % 100 < ${SplitTrainPct + SplitValPct}
       |         THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM documents d JOIN cc ON d.doc_id = cc.doc_id""".stripMargin
  }

  /** Cross-source duplication matrix: how many near-dup families
    * span each PAIR of sources — the contamination report that
    * decides which feeds are re-crawls of each other (and whether
    * "held-out" source splits are actually disjoint). Reads the
    * memoized cluster relation; only DISTINCT (cluster, source)
    * rows ever join, so the pair join is bounded by
    * |clusters|·|sources|, never by docs. */
  def crossSource(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val cs = clusters(s, d).join(src, "doc_id")
      .select(col("cluster_id"), col("source")).distinct()
    cs.select(col("cluster_id"), col("source").as("source_a"))
      .join(cs.select(col("cluster_id"), col("source").as("source_b")),
        "cluster_id")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
  }

  private def crossSourceSql: String =
    s"""WITH RECURSIVE $ccCte,
       |cs AS (
       |  SELECT DISTINCT cc.cluster_id, d.source
       |  FROM cc JOIN documents d USING (doc_id))
       |SELECT a.source AS source_a, b.source AS source_b,
       |  cast(count(*) as bigint) AS n_shared_clusters
       |FROM cs a JOIN cs b
       |  ON a.cluster_id = b.cluster_id AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** Lang×source independence test: the chi-square statistic over
    * the contingency grid (INCLUDING structurally-empty cells) plus
    * Cramér's V — the dataset-card answer to "are my feeds
    * language-balanced, or does each source push one language?".
    * Everything is one tiny-grid computation off a single
    * (lang, source) count aggregation; each cell's contribution
    * (oN−rc)²/(Nrc) is an exact-integer-derived double rounded to
    * integer PPB before summing, so the total is an
    * order-independent integer sum (the same exact-sum discipline
    * as the money aggregates; cell products bounded by |docs|³ —
    * fine through ~2M docs/cell-group, re-scale for beyond). */
  def balanceChi2(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rowsT = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val colsT = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("lang")).as("nr"),
      count_distinct(col("source")).as("nc"))
    val grid = rowsT.crossJoin(colsT).crossJoin(broadcast(tot))
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("contrib_ppb",
        round(((col("o") * col("n") - col("r") * col("c"))
          .cast("double") * (col("o") * col("n") - col("r") * col("c"))
          .cast("double") /
          (col("n") * col("r") * col("c")).cast("double")) * lit(1e9), 0)
          .cast("long"))
    grid.groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("contrib_ppb")).as("chi2_ppb"))
      .select(col("chi2_ppb"),
        ((col("nr") - 1) * (col("nc") - 1)).cast("int").as("dof"),
        col("n").as("n_docs"),
        round(sqrt((col("chi2_ppb").cast("double") / lit(1e9)) /
          (col("n") * least(col("nr") - 1, col("nc") - 1)).cast("double")), 6)
          .as("cramers_v"))
  }

  private def balanceChi2Sql: String =
    s"""WITH cells AS (
       |  SELECT lang, source, cast(count(*) as bigint) AS o
       |  FROM documents GROUP BY 1, 2),
       |rt AS (SELECT lang, cast(sum(o) as bigint) AS r FROM cells GROUP BY 1),
       |ct AS (SELECT source, cast(sum(o) as bigint) AS c FROM cells GROUP BY 1),
       |tot AS (
       |  SELECT cast(sum(o) as bigint) AS n,
       |    cast(count(distinct lang) as bigint) AS nr,
       |    cast(count(distinct source) as bigint) AS nc
       |  FROM cells),
       |grid AS (
       |  SELECT rt.lang, ct.source, rt.r, ct.c, tot.n, tot.nr, tot.nc,
       |    coalesce(cells.o, 0) AS o
       |  FROM rt CROSS JOIN ct CROSS JOIN tot
       |  LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source),
       |terms AS (
       |  SELECT n, nr, nc,
       |    cast(round(cast(o * n - r * c as double)
       |      * cast(o * n - r * c as double)
       |      / cast(n * r * c as double) * 1e9) as bigint) AS contrib_ppb
       |  FROM grid)
       |SELECT cast(sum(contrib_ppb) as bigint) AS chi2_ppb,
       |  cast((nr - 1) * (nc - 1) as int) AS dof,
       |  n AS n_docs,
       |  round(sqrt((cast(sum(contrib_ppb) as double) / 1e9)
       |    / cast(n * least(nr - 1, nc - 1) as double)), 6) AS cramers_v
       |FROM terms
       |GROUP BY n, nr, nc""".stripMargin

  /** Source-pair shingle overlap — the contamination / provenance
    * diagnostic: Jaccard similarity of the DISTINCT token-shingle
    * sets of every source pair, in exact integer ppm. High overlap
    * between two feeds means one mirrors or scrapes the other — the
    * pair a curation run should dedup across (or drop) BEFORE mixing.
    * Reuses the memoized df-capped shingle relation every dedup
    * operator shares (one pass over raw text, ever); the pair join
    * moves (source, 8-byte hash) with per-shingle fan-out bounded by
    * the number of sources carrying it — |sources| is the feed count
    * (recipe-bounded, not data-scaled), so the candidate join is
    * |sources|²-bounded, never corpus-bounded. Same hash-vs-string
    * oracle asymmetry as dedup_ngram_jaccard (documented there). */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val srcOf = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val ss = DedupOps.shingleSets(s, d)
      .join(srcOf, "doc_id")
      .select(col("source"), xxhash64(col("sh")).as("hs"))
      .distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val a = ss.select(col("source").as("src_a"), col("hs"))
    val b = ss.select(col("source").as("src_b"), col("hs"))
    val common = a.join(b, "hs").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("common"))
    common
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("common"), col("n_a"), col("n_b"),
        expr("(1000000 * common) div (n_a + n_b - common)").as("jaccard_ppm"))
  }

  private def sourceOverlapSql: String =
    s"""WITH ${DedupOps.shingleSetsSqlCte},
       |ss AS (
       |  SELECT DISTINCT d.source, sh.sh
       |  FROM sh JOIN documents d USING (doc_id)),
       |sz AS (SELECT source, cast(count(*) as bigint) AS n FROM ss GROUP BY 1),
       |pair AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    cast(count(*) as bigint) AS common
       |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, p.common, za.n AS n_a, zb.n AS n_b,
       |  (1000000 * p.common) // (za.n + zb.n - p.common) AS jaccard_ppm
       |FROM pair p
       |JOIN sz za ON p.src_a = za.source
       |JOIN sz zb ON p.src_b = zb.source""".stripMargin

  /** Soft dedup — duplicate DOWN-WEIGHTING instead of removal: every
    * document stays in the corpus but carries a training weight
    * 1/|cluster| (so each near-dup cluster contributes one document's
    * worth of gradient mass in aggregate — the softer alternative
    * modern data recipes use when hard dedup would discard too much
    * of a small domain). Weight is integer parts-per-million
    * (10⁶ div size) — exact in both engines, no float division or
    * rounding-mode edge (round(1/128, 6) is a half-tie that HALF_UP
    * and half-even resolve differently). Plan shape: the memoized
    * cluster relation aggregates per cluster_id and joins back on
    * the SAME key — one exchange, reused by Spark for both sides. */
  def softDedup(s: SparkSession, d: String): DataFrame = {
    val c = clusters(s, d).select("doc_id", "cluster_id")
    val sizes = c.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    c.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"))
  }

  private def softDedupSql: String =
    s"""WITH RECURSIVE $ccCte,
       |sz AS (
       |  SELECT cluster_id, cast(count(*) as bigint) AS cluster_size
       |  FROM cc GROUP BY 1)
       |SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
       |  1000000 // sz.cluster_size AS weight_ppm
       |FROM cc JOIN sz USING (cluster_id)""".stripMargin

  /** Per-source language diversity via the Gini–Simpson index — the
    * "is this source a monoculture" balance diagnostic next to
    * corpus_balance_chi2's independence test. Entropy is the textbook
    * choice but its log is a libm call whose last ulp is
    * engine-defined; Simpson (1 − Σp²) and effective language count
    * (1/Σp²) are pure arithmetic on EXACT integer counts — Σc² and n²
    * assemble in one fixed IEEE divide each, bit-identical in both
    * engines. One partial/final aggregation over (source, lang), then
    * a per-source fold of the ≤|langs| counts. */
  def diversity(s: SparkSession, d: String): DataFrame = {
    val c = Tables.documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    c.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("c") * col("c")).as("sc2"))
      .select(col("source"), col("n_docs"), col("n_langs").cast("int").as("n_langs"),
        round(lit(1.0) - col("sc2").cast("double")
          / (col("n_docs").cast("double") * col("n_docs").cast("double")), 6)
          .as("simpson"),
        round(col("n_docs").cast("double") * col("n_docs").cast("double")
          / col("sc2").cast("double"), 6).as("effective_langs"))
  }

  private def diversitySql: String =
    """WITH c AS (
      |  SELECT source, lang, cast(count(*) as bigint) AS c
      |  FROM documents GROUP BY 1, 2),
      |g AS (
      |  SELECT source, cast(sum(c) as bigint) AS n_docs,
      |    cast(count(*) as int) AS n_langs,
      |    cast(sum(c * c) as bigint) AS sc2
      |  FROM c GROUP BY 1)
      |SELECT source, n_docs, n_langs,
      |  round(1.0 - cast(sc2 as double)
      |    / (cast(n_docs as double) * cast(n_docs as double)), 6) AS simpson,
      |  round(cast(n_docs as double) * cast(n_docs as double)
      |    / cast(sc2 as double), 6) AS effective_langs
      |FROM g""".stripMargin

  private val LenBucket = 100L

  /** Per-source document-length histogram (100-char buckets, exact
    * within-source ppm shares) — the length-distribution panel of a
    * dataset card, and the input to choosing packing sequence
    * lengths. Pure integer bucketing; one partial/final agg bounded
    * by sources × buckets plus a broadcast per-source total. */
  def lengthHist(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .select(col("source"),
        expr(s"coalesce(n_chars, 0) div $LenBucket").as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("source")).agg(sum(col("n_docs")).as("n_src"))
    cells.join(broadcast(totals), "source")
      .select(col("source"), col("bucket").cast("int").as("bucket"),
        (col("bucket") * LenBucket).cast("int").as("lo_chars"),
        col("n_docs"),
        expr("n_docs * 1000000 div n_src").as("share_ppm"))
  }

  private def lengthHistSql: String =
    s"""WITH cells AS (
       |  SELECT source, coalesce(n_chars, 0) // $LenBucket AS bucket,
       |    cast(count(*) as bigint) AS n_docs
       |  FROM documents GROUP BY 1, 2),
       |t AS (SELECT source, cast(sum(n_docs) as bigint) AS n_src
       |      FROM cells GROUP BY 1)
       |SELECT cells.source, cast(bucket as int) AS bucket,
       |  cast(bucket * $LenBucket as int) AS lo_chars, n_docs,
       |  n_docs * 1000000 // n_src AS share_ppm
       |FROM cells JOIN t ON cells.source = t.source""".stripMargin

  /** Per-source contamination report — "how much would
    * decontamination remove from each feed" (the number a data card
    * publishes next to the benchmark-overlap policy). Aggregates the
    * shared decontaminate relation (benchmark docs excluded) to one
    * row per source with an exact ppm share; sources-bounded agg over
    * an already-memoized computation. */
  def contaminationStats(s: SparkSession, d: String): DataFrame = {
    val dec = decontaminate(s, d).filter(!col("is_benchmark"))
    dec.join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_contaminated"), 1L).otherwise(0L))
          .as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        expr("n_contaminated * 1000000 div n_docs").as("contaminated_ppm"))
  }

  private def contaminationStatsSql: String =
    s"""SELECT d.source,
       |  cast(count(*) as bigint) AS n_docs,
       |  cast(sum(CASE WHEN dd.is_contaminated THEN 1 ELSE 0 END)
       |    as bigint) AS n_contaminated,
       |  cast(sum(CASE WHEN dd.is_contaminated THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) as bigint) AS contaminated_ppm
       |FROM ($decontaminateSql) dd
       |JOIN documents d ON dd.doc_id = d.doc_id
       |WHERE NOT dd.is_benchmark
       |GROUP BY 1""".stripMargin


  // ----------------------------------------------------- dedup cascade

  /** The production dedup CASCADE with first-hit attribution — the
    * composition every large-corpus cleaning run actually executes,
    * cheapest stage first: (1) EXACT (normalized-text hash groups),
    * (2) NEAR (MinHash-verified jaccard clusters — membership in a
    * cluster with a smaller id), (3) SEMANTIC (SemDeDup verdict over
    * the doc-aligned embeddings), else `unique`. Per doc: the stage
    * that caught it first and the id it should defer to — the table
    * that answers both "what survives" (stage = unique) and "what is
    * each stage worth on this corpus" (group by stage = the stage
    * yield report that decides whether the expensive semantic pass
    * pays for itself).
    *
    * Scale shape: ALL three verdicts are the already-memoized family
    * relations (exact layer re-aggregates the normalized text the
    * incremental chain shares; the cluster map and the SemDeDup
    * verdict are memo hits) — the cascade itself is three attribute
    * joins on doc_id, zero new corpus passes. Precedence is resolved
    * per row in one CASE, so a doc caught by two stages counts once,
    * at the cheaper stage — exactly how a staged production run
    * would short-circuit. */
  def dedupCascade(s: SparkSession, d: String): DataFrame = {
    val norm = DedupOps.normText(DedupOps.docsParallel(s, d))
    val exact = norm
      .join(norm.groupBy("nt").agg(min(col("doc_id")).as("exact_keep")), "nt")
      .filter(col("doc_id") > col("exact_keep"))
      .select("doc_id", "exact_keep")
    val near = clusters(s, d)
      .filter(col("cluster_id") < col("doc_id"))
      .select(col("doc_id"), col("cluster_id").as("near_keep"))
    val sem = graft.operators.AnnOps.semanticDedup(s, d)
      .filter(!col("kept"))
      .select(col("vec_id").as("doc_id"), col("dup_of").as("sem_keep"))
    Tables.documents(s, d).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_keep").isNotNull, "exact")
          .when(col("near_keep").isNotNull, "near")
          .when(col("sem_keep").isNotNull, "semantic")
          .otherwise("unique").as("stage"),
        coalesce(col("exact_keep"), col("near_keep"), col("sem_keep"),
          lit(-1L)).as("keep_id"))
  }

  /** Mirror: the near stage's recursive cc fixpoint, the semantic
    * stage's shared ivf chain (s-prefixed CTEs so the two pair
    * machineries coexist in one WITH), the exact stage inline. */
  private def dedupCascadeSql: String =
    s"""WITH RECURSIVE $ccCte,
       |${graft.operators.AnnOps.semanticChainCtes},
       |exnorm AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(${graft.functions.text.asciiLowerSql("text")},
       |      '${graft.functions.text.WsClassRe2}+', ' ', 'g')) AS nt
       |  FROM documents),
       |exkeep AS (SELECT nt, min(doc_id) AS exact_keep FROM exnorm GROUP BY 1),
       |ex AS (
       |  SELECT n.doc_id, k.exact_keep
       |  FROM exnorm n JOIN exkeep k USING (nt)
       |  WHERE n.doc_id > k.exact_keep)
       |SELECT d.doc_id,
       |  CASE WHEN ex.exact_keep IS NOT NULL THEN 'exact'
       |       WHEN cc.cluster_id < d.doc_id THEN 'near'
       |       WHEN sd.dup_raw IS NOT NULL THEN 'semantic'
       |       ELSE 'unique' END AS stage,
       |  coalesce(ex.exact_keep,
       |    CASE WHEN cc.cluster_id < d.doc_id THEN cc.cluster_id END,
       |    sd.dup_raw, -1) AS keep_id
       |FROM documents d
       |LEFT JOIN ex ON ex.doc_id = d.doc_id
       |JOIN cc ON cc.doc_id = d.doc_id
       |LEFT JOIN sdup sd ON sd.vec_id = d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cascade" -> (dedupCascade _),
    "corpus_contamination_stats" -> (contaminationStats _),
    "corpus_length_hist" -> (lengthHist _),
    "corpus_diversity" -> (diversity _),
    "corpus_source_overlap" -> (sourceOverlap _),
    "dedup_soft" -> (softDedup _),
    "corpus_balance_chi2" -> (balanceChi2 _),
    "corpus_cross_source" -> (crossSource _),
    "dedup_clusters" -> (clusters _),
    "clean_corpus" -> (cleanCorpus _),
    "assemble_corpus" -> (assembleCorpus _),
    "corpus_decontaminate" -> (decontaminate _),
    "corpus_split" -> (trainTestSplit _),
    "corpus_stats" -> (corpusStats _))

  val oracle: Map[String, String] = Map(
    "dedup_cascade" -> dedupCascadeSql,
    "corpus_contamination_stats" -> contaminationStatsSql,
    "corpus_length_hist" -> lengthHistSql,
    "corpus_diversity" -> diversitySql,
    "corpus_source_overlap" -> sourceOverlapSql,
    "dedup_soft" -> softDedupSql,
    "corpus_balance_chi2" -> balanceChi2Sql,
    "corpus_cross_source" -> crossSourceSql,
    "dedup_clusters" -> clustersSql,
    "clean_corpus" -> cleanCorpusSql,
    "assemble_corpus" -> assembleCorpusSql,
    "corpus_decontaminate" -> decontaminateSql,
    "corpus_split" -> trainTestSplitSql,
    "corpus_stats" -> corpusStatsSql)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.vector

/** §2.D — similarity search over the embeddings table.
  *
  * Brute force is the exact baseline (and the DuckDB-oracle'd query);
  * LSH and IVF are the scale paths: both turn the O(n·q) scan into a
  * bucket-local probe, so at 100 TB a query touches only its cells.
  * The query set is a deterministic slice (vec_id < 5) broadcast to
  * the executors — the corpus never moves.
  */
object AnnOps {

  private val K = 10
  private val NQueries = 5

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  // ------------------------------------------------------ brute force

  /** Exact top-k: broadcast the query block, one pass over the
    * corpus, per-query rank window. Cosine is the deterministic
    * double fold from graft.functions.vector, so the oracle's ranks
    * and (rounded) sims match exactly. */
  def bruteForce(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val scored = e.crossJoin(broadcast(queriesDf(s, d)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "vec_id", "cos")
    rankTopK(scored, "vec_id")
  }

  /** Final ranking through the CUSTOM TopKPerKeyExec operator
    * (bounded per-key heaps — no partition sort); identical output
    * contract to a row_number window over (cos desc, id asc). */
  private def rankTopK(scored: DataFrame, idCol: String): DataFrame = {
    import graft.functions.topk
    topk.perKey(scored,
      keys = Seq("query_id"),
      order = Seq(topk.Order("cos", ascending = false), topk.Order(idCol)),
      k = K)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  private val bruteForceSql = {
    val cos = vector.sql.cosine("e.embedding", "q.embedding")
    s"""SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY q.vec_id
       |       ORDER BY $cos DESC, e.vec_id) as int) AS rank,
       |  round($cos, 6) AS cosine
       |FROM embeddings e, embeddings q
       |WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // -------------------------------------------------------------- lsh

  private val LshTables = 8
  private val LshBits = 4

  /** Hyperplane-LSH ANN: corpus and queries share the multi-table
    * bucket space; candidates = corpus vectors sharing ≥1 bucket with
    * the query. Candidate generation moves only (id, bucket) pairs —
    * the float arrays are re-attached after the distinct, so the wide
    * rows never shuffle. Recall measured in AnnSpec against the
    * brute-force baseline. */
  def lsh(s: SparkSession, d: String): DataFrame = {
    // memo-cached: banded candidate generation + cosine re-attachment
    val e = DedupOps.embParallel(s, d)
    def banded(df: DataFrame, idCol: String, embCol: String): DataFrame =
      df.select(col(idCol),
        explode(DedupOps.lshBuckets(col(embCol), LshTables, LshBits, 64)).as("b"))
        .select(col(idCol), col("b.tbl").as("tbl"), col("b.bv").as("bv"))

    val corpusB = banded(e.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
    val qsB = banded(queriesDf(s, d), "query_id", "q_emb")

    val cand = corpusB.join(broadcast(qsB), Seq("tbl", "bv"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id")).distinct()

    val scored = cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queriesDf(s, d)), "query_id")
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "neighbor_id", "cos")
    rankTopK(scored, "neighbor_id")
  }

  /** DuckDB mirror of the LSH probe: corpus and query blocks banded
    * with the SAME ±1.0 plane literals (DedupOps.bandedSql — the
    * planes are deterministic, no RNG), bucket-joined, exact-cosine
    * re-scored, ranked like rankTopK (cos DESC, id ASC). */
  private def lshSql = {
    val cos = vector.sql.cosine("e.embedding", "q.embedding")
    s"""WITH cb AS (
       |${DedupOps.bandedSql("embeddings", "vec_id", LshTables, LshBits)}),
       |qb AS (
       |${DedupOps.bandedSql(
            s"(SELECT vec_id, embedding FROM embeddings WHERE vec_id < $NQueries)",
            "vec_id AS query_id", LshTables, LshBits)}),
       |cand AS (
       |  SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
       |  FROM cb JOIN qb USING (tbl, bv)
       |  WHERE cb.vec_id <> qb.query_id)
       |SELECT c.query_id, c.neighbor_id,
       |  cast(row_number() OVER (PARTITION BY c.query_id
       |       ORDER BY $cos DESC, c.neighbor_id) as int) AS rank,
       |  round($cos, 6) AS cosine
       |FROM cand c
       |JOIN embeddings e ON c.neighbor_id = e.vec_id
       |JOIN embeddings q ON c.query_id = q.vec_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // ------------------------------------------------------------- mips

  private val MipsTables = 8
  private val MipsBits = 4

  /** Max-inner-product search — retrieval where vector MAGNITUDE
    * matters (popularity-weighted item embeddings, unnormalized
    * retrieval heads), so cosine ANN ranks wrong. Classic norm
    * augmentation (Bachrach et al. 2014; Shrivastava & Li 2014)
    * reduces MIPS to angular search: every corpus vector gains a
    * 65th component sqrt(M² − ‖x‖²) with M = corpus max norm
    * (augmented norms are the constant M), queries gain 0 — then
    * cos(x', q') is monotone in ⟨x, q⟩ and the SAME hyperplane-LSH
    * banding as `ann_lsh` probes buckets in the 65-dim space.
    * Candidate generation moves only (id, bucket) pairs; the exact
    * inner-product rerank runs on the ORIGINAL vectors after the
    * distinct. At 100 TB: identical scale shape to `ann_lsh` — the
    * augmentation is a narrow map (one extra float per vector), M is
    * one scalar broadcast, and a query touches only its buckets. */
  def mips(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val m2 = e.agg(max(vector.dot(col("embedding"), col("embedding"))).as("m2"))
    val aug = e.crossJoin(broadcast(m2))
      .select(col("vec_id"), concat(col("embedding"), array(
        sqrt(col("m2") - vector.dot(col("embedding"), col("embedding")))
          .cast("float"))).as("aug_emb"))
    val qAug = queriesDf(s, d)
      .select(col("query_id"),
        concat(col("q_emb"), array(lit(0.0f))).as("aug_emb"))
    def banded(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol),
        explode(DedupOps.lshBuckets(col("aug_emb"), MipsTables, MipsBits, 65))
          .as("b"))
        .select(col(idCol), col("b.tbl").as("tbl"), col("b.bv").as("bv"))
    val cand = banded(aug, "vec_id")
      .join(broadcast(banded(qAug, "query_id")), Seq("tbl", "bv"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val scored = cand
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queriesDf(s, d)), "query_id")
      .withColumn("ip", vector.dot(col("embedding"), col("q_emb")))
      .select("query_id", "vec_id", "ip")
    import graft.functions.topk
    topk.perKey(scored,
      keys = Seq("query_id"),
      order = Seq(topk.Order("ip", ascending = false), topk.Order("vec_id")),
      k = K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("ip"), 6).as("ip"))
  }

  /** Mirror: the same augmentation arithmetic (max-of-dot in double,
    * sqrt difference rounded to REAL — both engines IEEE, so the
    * 65-float augmented arrays are bit-identical), the same ±1 plane
    * literals over 65 dims via DedupOps.bandedSql, exact dot rerank
    * ranked (ip DESC, id ASC) like the Spark side. */
  private def mipsSql = {
    val dotSelf = vector.sql.dot("embedding", "embedding")
    val ip = vector.sql.dot("e.embedding", "q.embedding")
    s"""WITH m2 AS (SELECT max($dotSelf) AS m2 FROM embeddings),
       |ea AS (
       |  SELECT vec_id,
       |    list_append(embedding, cast(sqrt(m2.m2 - $dotSelf) as real))
       |      AS embedding
       |  FROM embeddings, m2),
       |qa AS (
       |  SELECT vec_id AS query_id,
       |    list_append(embedding, cast(0.0 as real)) AS embedding
       |  FROM embeddings WHERE vec_id < $NQueries),
       |cb AS (
       |${DedupOps.bandedSql("ea", "vec_id", MipsTables, MipsBits, 65)}),
       |qb AS (
       |${DedupOps.bandedSql("qa", "query_id", MipsTables, MipsBits, 65)}),
       |cand AS (
       |  SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
       |  FROM cb JOIN qb USING (tbl, bv)
       |  WHERE cb.vec_id <> qb.query_id)
       |SELECT c.query_id, c.neighbor_id,
       |  cast(row_number() OVER (PARTITION BY c.query_id
       |       ORDER BY $ip DESC, c.neighbor_id) as int) AS rank,
       |  round($ip, 6) AS ip
       |FROM cand c
       |JOIN embeddings e ON c.neighbor_id = e.vec_id
       |JOIN embeddings q ON c.query_id = q.vec_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // -------------------------------------------------------------- ivf

  private val DefaultNProbe = 4

  /** One k-means refinement sweep: assign every vector to its nearest
    * centroid, then replace each centroid with the element-wise mean
    * of its members — computed distributed via posexplode →
    * (cell, dim) average → re-assembled arrays. Two shuffles per
    * iteration, all narrow expressions. */
  private def kmeansStep(e: DataFrame, cents: DataFrame): DataFrame = {
    // argmin as ONE aggregate: min of struct(dist, cell_id) is the
    // lexicographic minimum -- deterministic tiebreak, no window sort
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("dist", -vector.cosine(col("embedding"), col("c_emb")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell_id"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("best.cell_id").as("cell_id"), col("embedding"))
    // per-(cell, dim) mean as a SORTED sequential fold, not avg():
    // float addition is order-sensitive and a distributed avg sums in
    // partition order, so the centroids (and hence assignments) would
    // differ run-to-run in the last ulp. The value-sorted fold is
    // deterministic and lets the DuckDB oracle reproduce centroids
    // bit-for-bit. Group size is bounded by the per-cell training
    // budget (~TrainPerCell), so the collected list stays O(TrainPerCell).
    assigned
      .select(col("cell_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cell_id", "dim")
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .withColumn("m",
        aggregate(col("vs"), lit(0.0), (a, x) => a + x.cast("double"))
          / size(col("vs")))
      .groupBy("cell_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cell_id"),
        expr("transform(dm, x -> cast(x.m as float))").as("c_emb"))
  }

  /** Training budget per centroid: the k-means sweeps see at most
    * `TrainPerCell·nCells` vectors (the standard IVF training recipe;
    * FAISS trains on 64-256 points per centroid; 64 is the
    * budget-conscious end of that range — at the test SFs it makes
    * the training sample a strict subset of the corpus, so the
    * sampled-training path is what the oracle actually verifies). */
  private val TrainPerCell = 64

  /** Iterated-quadratic-map hash of an id — THE shared definition in
    * [[graft.functions.ihash]] (the oracle mirrors the same formula
    * via qhashCtes below). */
  private def qhash(c: Column): Column =
    graft.functions.ihash.quad(c.cast("long"))

  /** The same hash as a SQL CTE chain: `<name>(vec_id, embedding, h)`
    * over the `embeddings` table (stepwise h0→h1→h so each squaring
    * stays < 2^63, exactly like the Column form). */
  private def qhashCtes(name: String): String =
    s"""${name}_h0 AS (
       |  SELECT vec_id, embedding,
       |    ((vec_id % 1000000007) * 999983 + 424243) % 1000000007 AS h0
       |  FROM embeddings),
       |${name}_h1 AS (
       |  SELECT vec_id, embedding, (h0*h0 + h0*48271 + 11) % 1000000007 AS h1
       |  FROM ${name}_h0),
       |$name AS (
       |  SELECT vec_id, embedding, (h1*h1 + h1*48271 + 11) % 1000000007 AS h
       |  FROM ${name}_h1)""".stripMargin

  /** IVF ANN with a TRAINED coarse quantizer, parameterized for
    * scale: `nCells` defaults to ~√N (the classic IVF sizing — cells
    * and per-cell scan cost balance at √N); the quantizer TRAINS ON A
    * BOUNDED SAMPLE (≤ TrainPerCell·nCells vectors by a deterministic
    * quadratic-map hash
    * threshold — uniform over the corpus, no global sort, no driver
    * collect), seeded by the sample's lowest-hash rows and refined by
    * two k-means sweeps over the sample only. The FULL corpus is
    * scanned exactly once — for the final cell assignment — so total
    * work is O(N·√N·d) for assignment + O(√N·√N·d·TrainPerCell) for training,
    * instead of 3 full O(N^1.5·d) passes; at 10⁹ vectors the training
    * input drops from 10⁹ rows ×2 sweeps to ~2M (64·√N). */
  def ivf(s: SparkSession, d: String): DataFrame =
    ivfScore(annAssigned(s, d), annCents(s, d), queriesDf(s, d),
      nProbe = DefaultNProbe)

  private val RangeTau = 0.3

  /** Radius (range) search — the other half of the ANN API surface
    * next to top-k: ALL probed-cell neighbors with cosine ≥ τ, so
    * result size follows true neighborhood density instead of a
    * fixed K. Reuses the memoized IVF model (centroids + assigned
    * corpus); per query only nProbe cells are scanned, and the
    * τ-filter runs where the vectors live — no ranking window, no
    * heap, result never staged. */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    val probes = ivfProbes(annCents(s, d), queriesDf(s, d), DefaultNProbe)
    annAssigned(s, d).join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .filter(col("cos") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  private def rangeSearchSql: String = {
    def dot(a: String, b: String) = sqlDot(a, b)
    s"""WITH ${ivfChainSql()}
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |  round(${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm), 6) AS cosine
       |FROM asg a JOIN probes p USING (cell_id)
       |WHERE a.vec_id <> p.query_id
       |  AND ${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm)
       |      >= cast($RangeTau as double)""".stripMargin
  }

  /** Filtered search doubles the probe budget: the predicate thins
    * every probed cell, so an unfiltered-tuned nProbe under-recalls —
    * the standard filtered-search compensation (FAISS/vector-DB
    * selector searches do the same). */
  private val FilteredNProbe = 2 * DefaultNProbe

  /** Metadata-FILTERED ANN search — the vector-database API where a
    * query retrieves nearest neighbors satisfying a predicate (here:
    * same label as the query — "search within my category/shard").
    * PRE-filtering, not post-: the label rides IN the memoized
    * assignment (coarseAssign carries it), so the predicate prunes
    * candidates where the vectors live, before any score or heap —
    * a post-filter of an unfiltered top-k would silently under-fill
    * for selective predicates. Per query only the probed cells are
    * scanned; the query's own label joins in with the 5-row
    * broadcast probe table. */
  def filteredSearch(s: SparkSession, d: String): DataFrame = {
    val qLabels = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val probes = ivfProbes(annCents(s, d), queriesDf(s, d), FilteredNProbe)
      .join(broadcast(qLabels), "query_id")
    val scored = annAssigned(s, d).join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("q_label"))
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(scored, "vec_id")
  }

  private def filteredSearchSql: String = {
    def dot(a: String, b: String) = sqlDot(a, b)
    s"""WITH ${ivfChainSql(FilteredNProbe)},
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |ql AS (SELECT vec_id AS query_id, label AS q_label
       |       FROM embeddings WHERE vec_id < $NQueries)
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY ${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm) DESC,
       |             a.vec_id) as int) AS rank,
       |  round(${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm), 6) AS cosine
       |FROM asg a
       |JOIN probes p USING (cell_id)
       |JOIN lbl l ON a.vec_id = l.vec_id
       |JOIN ql ON p.query_id = ql.query_id
       |WHERE a.vec_id <> p.query_id AND l.label = ql.q_label
       |QUALIFY rank <= $K""".stripMargin
  }

  /** ANN quality report: per-query recall of IVF top-K against the
    * exact brute-force top-K — the number that tunes nProbe/cells
    * before a production run. Both sides are the operators above
    * (IVF reads the memoized model), joined on (query, neighbor);
    * counting the matches is one bounded aggregation over Q·K rows. */
  def recallEval(s: SparkSession, d: String): DataFrame = {
    val bf = bruteForce(s, d).select("query_id", "neighbor_id")
    // both sides are ≤ Q·K rows; broadcast the probe side so the
    // static plan never stages a sort-merge for a 50-row join
    val iv = ivf(s, d).select(col("query_id"), col("neighbor_id"),
      lit(1L).as("hit"))
    bf.join(broadcast(iv), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        expr(s"n_hit * 1000000 div $K").as("recall_ppm"))
  }

  private def recallEvalSql: String = {
    def dot(a: String, b: String) = sqlDot(a, b)
    s"""WITH ${ivfChainSql()},
       |ivf_res AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM asg a JOIN probes p USING (cell_id)
       |  WHERE a.vec_id <> p.query_id
       |  QUALIFY row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY ${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm) DESC,
       |             a.vec_id) <= $K),
       |bf AS ($bruteForceSql)
       |SELECT b.query_id, cast(count(i.neighbor_id) as bigint) AS n_hit,
       |  cast(count(i.neighbor_id) * 1000000 // $K as bigint) AS recall_ppm
       |FROM bf b LEFT JOIN ivf_res i
       |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |GROUP BY 1""".stripMargin
  }

  private val ProbeLevels = Seq(1, 2, 4, 8)

  /** Probe-budget tuning curve: overall recall@K of IVF against the
    * exact brute-force top-K at nProbe ∈ {1,2,4,8} — THE table read
    * before fixing an index's probe budget (recall@1-probe tells you
    * how good the coarse quantizer alone is; the knee tells you what
    * latency buys accuracy). One ranked probe pass at the LARGEST
    * budget serves every level: candidates carry their cell's probe
    * rank, each level re-ranks the prefix `prank ≤ p` through the
    * bounded-heap top-k over the one checkpointed candidate relation
    * — no re-probing, no re-scoring, 4 levels for ~1× the scan cost
    * of `ann_recall_eval`. Recall is pooled over all queries (exact
    * ppm of Q·K ground-truth pairs hit). */
  def probeCurve(s: SparkSession, d: String): DataFrame = {
    val probes = ivfProbesRanked(annCents(s, d), queriesDf(s, d),
      ProbeLevels.max)
    // both the per-level rankings and their joins read this once
    val cand = graft.Checkpoints.eager(
      annAssigned(s, d).join(broadcast(probes), "cell_id")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cos"), col("prank")))
    val bf = graft.Checkpoints.eager(
      bruteForce(s, d).select("query_id", "neighbor_id"))
    ProbeLevels.map { p =>
      val res = rankTopK(cand.filter(col("prank") <= p), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      bf.join(broadcast(res), Seq("query_id", "neighbor_id"), "left")
        .agg(count(col("hit")).as("n_hit"), count(lit(1)).as("n_truth"))
        .select(lit(p).as("n_probe"), col("n_hit"),
          expr("n_hit * 1000000 div n_truth").as("recall_ppm"))
    }.reduce(_ unionAll _)
  }

  private def probeCurveSql: String = {
    def dot(a: String, b: String) = sqlDot(a, b)
    val levels = ProbeLevels.mkString("[", ",", "]")
    s"""WITH ${ivfChainSql(nProbe = ProbeLevels.max)},
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, p.prank,
       |    ${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm) AS cos
       |  FROM asg a JOIN probes p USING (cell_id)
       |  WHERE a.vec_id <> p.query_id),
       |bf AS MATERIALIZED ($bruteForceSql),
       |levels AS (SELECT unnest($levels) AS n_probe),
       |res AS (
       |  SELECT l.n_probe, c.query_id, c.neighbor_id
       |  FROM levels l JOIN cand c ON c.prank <= l.n_probe
       |  QUALIFY row_number() OVER (PARTITION BY l.n_probe, c.query_id
       |    ORDER BY c.cos DESC, c.neighbor_id) <= $K)
       |SELECT l.n_probe, cast(count(r.neighbor_id) as bigint) AS n_hit,
       |  cast(count(r.neighbor_id) * 1000000 // count(*) as bigint)
       |    AS recall_ppm
       |FROM levels l CROSS JOIN bf b
       |LEFT JOIN res r ON r.n_probe = l.n_probe
       |  AND r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------- matryoshka (MRL) eval

  private val MrlDims = Seq(8, 16, 32, 64)

  /** Matryoshka (MRL) truncation evaluation: recall@K of the top-K
    * ranked by cosine over only the FIRST d dimensions, for d ∈
    * {8,16,32,64}, against the full-dim exact top-K — the design
    * table that decides whether a corpus can store/serve truncated
    * prefixes (4× smaller at d=16) before committing 10⁹ vectors to
    * a layout. ONE corpus pass computes all four prefix cosines (a
    * narrow 4× explode BEFORE any shuffle; the bounded-heap top-k
    * prunes map-side, so the exchange carries ≤ K rows per
    * (dim, query) per partition, never the fan-out). Prefix cosine
    * is the same fixed-order fold over a slice, so ranks hash-match
    * the mirror; the d=64 row is the built-in sanity anchor (recall
    * ≡ 100%, AnnSpec-pinned). */
  def matryoshkaEval(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val full = bruteForce(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val pref = e.crossJoin(broadcast(queriesDf(s, d)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("q_emb"),
        explode(array(MrlDims.map(m => lit(m)): _*)).as("prefix_dim"))
      .select(col("query_id"), col("vec_id"), col("prefix_dim"),
        vector.cosineFold(
          slice(col("embedding"), lit(1), col("prefix_dim")),
          slice(col("q_emb"), lit(1), col("prefix_dim"))).as("cos"))
    val prefTop = graft.functions.topk.perKey(pref,
      keys = Seq("prefix_dim", "query_id"),
      order = Seq(graft.functions.topk.Order("cos", ascending = false),
        graft.functions.topk.Order("vec_id")),
      k = K)
      .select(col("prefix_dim"), col("query_id"),
        col("vec_id").as("neighbor_id"))
    prefTop.join(broadcast(full), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("prefix_dim"), col("query_id"))
      .agg(count(col("hit")).as("n_hit"))
      .select(col("prefix_dim"), col("query_id"), col("n_hit"),
        expr(s"n_hit * 1000000 div $K").as("recall_ppm"))
  }

  private def matryoshkaEvalSql: String = {
    // same fold as vector.sql.dot, range bound by the prefix width
    def dotN(a: String, b: String) =
      "list_reduce(list_prepend(cast(0.0 as double), " +
        s"list_transform(range(1, d.prefix_dim + 1), i -> cast($a[i]*$b[i] as double))), " +
        "(acc, x) -> acc + x)"
    val cosN = s"(${dotN("e.embedding", "q.embedding")} / " +
      s"(sqrt(${dotN("e.embedding", "e.embedding")}) * " +
      s"sqrt(${dotN("q.embedding", "q.embedding")})))"
    s"""WITH dims AS (
       |  SELECT unnest([${MrlDims.mkString(", ")}]) AS prefix_dim),
       |bf AS ($bruteForceSql),
       |pref AS (
       |  SELECT d.prefix_dim, q.vec_id AS query_id, e.vec_id AS neighbor_id
       |  FROM embeddings e, embeddings q, dims d
       |  WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY d.prefix_dim, q.vec_id
       |    ORDER BY $cosN DESC, e.vec_id) <= $K)
       |SELECT p.prefix_dim, p.query_id,
       |  cast(count(b.neighbor_id) as bigint) AS n_hit,
       |  cast(count(b.neighbor_id) * 1000000 // $K as bigint) AS recall_ppm
       |FROM pref p LEFT JOIN bf b
       |  ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** Bounded deterministic training sample: keep a vector iff its
    * id hash lands under the threshold — an embarrassingly parallel
    * filter (expected size trainPerCell·cells; concentration is all
    * k-means training needs). The hash is the same iterated quadratic
    * map the LSH planes use (DedupOps.radSign family) rather than
    * xxhash64, so the DuckDB oracle reproduces the sample (and the
    * hash-ordered seed selection) exactly. localCheckpoint
    * MATERIALIZES the sample and cuts lineage, so the k-means
    * sweeps scan a few-MB in-memory relation, never the corpus files. */
  private def trainSample(e: DataFrame, n: Long, cells: Int,
                          trainPerCell: Int): DataFrame = {
    val M = 1000000007L
    val frac = math.min(1.0, trainPerCell.toDouble * cells / math.max(1L, n))
    val sampled = e
      .select(col("vec_id"), col("embedding"), qhash(col("vec_id")).as("h"))
    (if (frac >= 1.0) sampled
     else sampled.filter(col("h") < lit((frac * M).toLong)))
      .transform(graft.Checkpoints.eager)
  }

  /** Coarse quantizer from a training sample: hash-ordered seeds +
    * two k-means sweeps. The seed's post-limit window runs on `cells`
    * rows only (≤ ~√N, e.g. 31k at 10⁹ vectors), not on the corpus —
    * this is the deliberate §6 "tiny single-partition window" case
    * (the WindowExec no-partition warning it logs refers to an input
    * already bounded by the limit above it). */
  private def coarseCentsFromTrain(train: DataFrame, cells: Int): DataFrame = {
    val seed = train
      .orderBy(col("h"), col("vec_id")).limit(cells)
      .select(
        (row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1)
          .cast("int").as("cell_id"),
        col("embedding").as("c_emb"))
    val trainVecs = train.select(col("vec_id"), col("embedding"))
    kmeansStep(trainVecs, kmeansStep(trainVecs, seed))
  }

  /** Full-corpus cell assignment: argmin over broadcast centroids —
    * the one unavoidable O(N·√N·d) pass. When the input carries a
    * `label`, it rides along (a production filtered-search index
    * stores its filterable attributes WITH the entry — ann_filtered
    * reads it at zero extra cost); train/residual inputs without one
    * are unchanged. */
  private def coarseAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    // argmin over SMALL rows, payload re-attached after (guide §8 /
    // §2.3): the former shape dragged the 64-float embedding (and
    // label) THROUGH the min-struct aggregation via first(...), so
    // the partial-agg state held |corpus| wide rows per task — the
    // sf10 spill attribution charged 49 GB (mem+disk) to this one
    // fill. Aggregating (vec_id, best) alone keeps the agg state at
    // two longs per key; the embedding joins back from the cached
    // corpus relation by id. Output rows identical.
    val best = e.crossJoin(broadcast(cents))
      .withColumn("dist", -vector.cosine(col("embedding"), col("c_emb")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell_id"))).as("best"))
      .select(col("vec_id"), col("best.cell_id").as("cell_id"))
    val lblOut =
      if (e.columns.contains("label")) Seq(col("label")) else Nil
    e.join(best, "vec_id")
      .select((Seq(col("vec_id"), col("embedding"), col("cell_id")) ++
        lblOut): _*)
  }

  /** nProbe nearest cells per query (bounded-heap top-k over the
    * broadcast centroid table) — shared by top-k IVF search, radius
    * search and the recall report. */
  private def ivfProbes(cents: DataFrame, queries: DataFrame,
                        nProbe: Int): DataFrame =
    ivfProbesRanked(cents, queries, nProbe)
      .select("query_id", "q_emb", "cell_id")

  /** [[ivfProbes]] plus the probe RANK (1 = nearest cell) — the
    * probe-curve evaluation derives every smaller probe budget from
    * one ranked pass instead of re-probing per level. */
  private def ivfProbesRanked(cents: DataFrame, queries: DataFrame,
                              nProbe: Int): DataFrame =
    graft.functions.topk.perKey(
      queries.crossJoin(broadcast(cents))
        .withColumn("dist", -vector.cosine(col("q_emb"), col("c_emb")))
        .select("query_id", "q_emb", "cell_id", "dist"),
      keys = Seq("query_id"),
      order = Seq(graft.functions.topk.Order("dist"),
        graft.functions.topk.Order("cell_id")),
      k = nProbe)
      .select(col("query_id"), col("q_emb"), col("cell_id"),
        col("rank").cast("int").as("prank"))

  /** Probe + score: nProbe nearest cells per query (K=nProbe heap),
    * exact cosine within probed cells, rank top-K. */
  private def ivfScore(assigned: DataFrame, cents: DataFrame,
                       queries: DataFrame, nProbe: Int): DataFrame = {
    val probes = ivfProbes(cents, queries, nProbe)
    val scored = assigned.join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    rankTopK(scored, "neighbor_id")
  }

  /** nCells = 0 → auto-size to ~√N from a (cached-scan) count;
    * `trainPerCell` is overridable so specs can force the sampled
    * regime on a corpus small enough to verify against brute force. */
  private[graft] def ivfImpl(e0: DataFrame, queries: DataFrame,
                             nCells: Int, nProbe: Int,
                             trainPerCell: Int = TrainPerCell): DataFrame = {
    // checkpointed: referenced by the sample filter and the assignment
    // pass. Registered checkpoints, not bare .cache(): Memo.clear
    // releases them, and a plain SQL cache would outlive it.
    val e = graft.Checkpoints.eager(Tables.parallelize(e0))
    val n = e.count()
    val cells =
      if (nCells > 0) nCells
      else math.max(4, math.sqrt(n.toDouble).toInt)
    val train = trainSample(e, n, cells, trainPerCell)
    val cents = graft.Checkpoints.eager(coarseCentsFromTrain(train, cells))
    ivfScore(coarseAssign(e, cents), cents, queries, nProbe)
  }

  // Memoized default-path model pieces: Verify/Bench run ann_ivf and
  // ann_ivfpq in ONE session over the same dataset, and both are
  // defined over the SAME corpus/sample/coarse-quantizer construction
  // — memoizing makes the corpus cache, the training sample, the two
  // k-means sweeps and the full assignment pass compute once, not
  // once per consuming query (results are unchanged: consumers see
  // the identical DataFrame). Same pattern as the dedup family's
  // shared shingle relation.

  // NB: embParallel is already parallelized AND memo-cached — reuse
  // it as-is (a second parallelize would re-shuffle and double-cache
  // the same vectors)
  private def annCorpus(s: SparkSession, d: String): DataFrame =
    DedupOps.embParallel(s, d)

  // one count job per (session, dataset), not one per memo builder
  private def annN(s: SparkSession, d: String): Long =
    graft.Memo.value(s, "ann_n", d)(annCorpus(s, d).count())

  private def annCells(s: SparkSession, d: String): Int =
    math.max(4, math.sqrt(annN(s, d).toDouble).toInt)

  private def annTrain(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "ann_train", d) {
      trainSample(annCorpus(s, d), annN(s, d), annCells(s, d), TrainPerCell)
    }

  private def annCents(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "ann_cents", d)(
      coarseCentsFromTrain(annTrain(s, d), annCells(s, d)))

  private def annAssigned(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "ann_assigned", d)(
      coarseAssign(annCorpus(s, d), annCents(s, d)))

  /** The ANN model pieces (training sample → coarse centroids →
    * assignment → PQ codebooks → PQ codes, plus the solo-PQ, SQ8,
    * binary-signature and covariance relations over the base corpus)
    * — consumed by [[graft.Memo.fill]]. */
  private[graft] def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "ann_train" -> (() => { annTrain(s, d); () }),
    "ann_cents" -> (() => { annCents(s, d); () }),
    "ann_assigned" -> (() => { annAssigned(s, d); () }),
    "ann_trainres" -> (() => { annTrainRes(s, d); () }),
    "ann_pqcents" -> (() => { annPqCents(s, d); () }),
    "ann_pqcodes" -> (() => { annPqCodes(s, d); () }),
    "pq_cents" -> (() => { pqSoloCents(s, d); () }),
    "pq_codes" -> (() => { pqSoloCodes(s, d); () }),
    "sq8_codes" -> (() => { sq8Codes(s, d); () }),
    "bin_sigs" -> (() => { binSigs(s, d); () }),
    "cov_base" -> (() => { covarianceBase(s, d); () }))

  // ---- shared SQL mirror builders (ONE copy each: the ivf/pq/ivfpq
  // ---- mirrors must stay bit-identical, so the deterministic-fold
  // ---- SQL lives here, not per-mirror)

  /** 64-dim dot with the t/s table aliases pre-bound. */
  private val sqlDotTS = "list_reduce(list_prepend(cast(0.0 as double), " +
    "list_transform(range(1, 65), i -> cast(t.embedding[i]*s.c_emb[i] as double))), " +
    "(acc, x) -> acc + x)"

  /** 64-dim dot over arbitrary expressions. */
  private def sqlDot(a: String, b: String) =
    "list_reduce(list_prepend(cast(0.0 as double), " +
      s"list_transform(range(1, 65), i -> cast($a[i]*$b[i] as double))), " +
      "(acc, x) -> acc + x)"

  /** Coarse k-means assignment CTE (argmin with explicit tiebreak). */
  private def cAssignSql(src: String, cents: String, out: String): String =
    s"""$out AS (
       |  SELECT t.vec_id, t.embedding, t.nrm, s.cell_id
       |  FROM $src t, $cents s
       |  QUALIFY row_number() OVER (PARTITION BY t.vec_id
       |    ORDER BY -(${sqlDot("t.embedding", "s.c_emb")} / (t.nrm * s.cnorm)),
       |             s.cell_id) = 1)""".stripMargin

  /** Coarse k-means centroid means (value-sorted sequential fold). */
  private def cMeansSql(asg: String, out: String): String =
    s"""${out}_d AS (
       |  SELECT cell_id, d.dim AS dim, t.embedding[d.dim + 1] AS v
       |  FROM $asg t, (SELECT unnest(range(0, 64)) AS dim) d),
       |${out}_m AS (
       |  SELECT cell_id, dim,
       |    list_reduce(list_prepend(cast(0.0 as double), list(v ORDER BY v)),
       |                (a, x) -> a + cast(x as double)) / count(v) AS m
       |  FROM ${out}_d GROUP BY cell_id, dim),
       |${out}_e AS (
       |  SELECT cell_id, list(cast(m as float) ORDER BY dim) AS c_emb
       |  FROM ${out}_m GROUP BY cell_id),
       |$out AS (
       |  SELECT cell_id, c_emb, ${vector.sql.norm("c_emb")} AS cnorm
       |  FROM ${out}_e)""".stripMargin

  /** Sub-vector slice of a 64-dim embedding. */
  private def pqSubSql(emb: String, j: String) =
    s"list_transform(range(1, ${PqDims + 1}), i -> $emb[$j*$PqDims + i])"

  /** Squared L2 between sub-vectors (fixed-order double fold). */
  private def pqL2Sql(a: String, b: String) =
    "list_reduce(list_prepend(cast(0.0 as double), " +
      s"list_transform(range(1, ${PqDims + 1}), i -> " +
      s"(cast($a[i] as double) - cast($b[i] as double)) * " +
      s"(cast($a[i] as double) - cast($b[i] as double)))), (acc, x) -> acc + x)"

  /** Per-subspace k-means assignment CTE. */
  private def pAssignSql(src: String, cents: String, out: String): String =
    s"""$out AS (
       |  SELECT t.j, t.vec_id, t.semb, s.cell_id
       |  FROM $src t JOIN $cents s ON t.j = s.j
       |  QUALIFY row_number() OVER (PARTITION BY t.vec_id, t.j
       |    ORDER BY ${pqL2Sql("t.semb", "s.c_emb")}, s.cell_id) = 1)""".stripMargin

  /** Per-subspace centroid means (value-sorted fold, j carried). */
  private def pMeansSql(asg: String, out: String): String =
    s"""${out}_d AS (
       |  SELECT j, cell_id, d.dim AS dim, semb[d.dim + 1] AS v
       |  FROM $asg, (SELECT unnest(range(0, $PqDims)) AS dim) d),
       |${out}_m AS (
       |  SELECT j, cell_id, dim,
       |    list_reduce(list_prepend(cast(0.0 as double), list(v ORDER BY v)),
       |                (a, x) -> a + cast(x as double)) / count(v) AS m
       |  FROM ${out}_d GROUP BY j, cell_id, dim),
       |$out AS (
       |  SELECT j, cell_id, list(cast(m as float) ORDER BY dim) AS c_emb
       |  FROM ${out}_m GROUP BY j, cell_id)""".stripMargin

  /** DuckDB mirror of the ENTIRE IVF pipeline — sample → hash-ordered
    * seeds → two k-means sweeps → full assignment → nProbe probes →
    * exact re-score. Reproducible because every engine-side source of
    * nondeterminism was removed: the sample/seed hash is the quadratic
    * map (not xxhash64), centroid means are value-sorted sequential
    * folds (not distributed avg), and argmin tiebreaks are explicit
    * (dist, cell_id). Norms are factored into CTEs — the same fold
    * value the fused expression computes per pair, just evaluated
    * once per vector. */
  /** The default-path IVF model as a CTE chain ending in `asg`
    * (assigned corpus) and `probes` — the shared prefix of the ivf /
    * range-search / recall-eval mirrors, mirroring the memoized
    * model pieces the Spark side shares. */
  private[operators] def ivfChainSql(nProbe: Int = DefaultNProbe): String = {
    val dotTS = sqlDotTS
    def kmeansAssign(src: String, cents: String, out: String): String =
      cAssignSql(src, cents, out)
    def kmeansMeans(asg: String, out: String): String =
      cMeansSql(asg, out)
    s"""${qhashCtes("hh")},
       |params AS (
       |  SELECT greatest(4, cast(floor(sqrt(count(*))) as bigint)) AS cells,
       |         count(*) AS n
       |  FROM embeddings),
       |train AS (
       |  SELECT hh.vec_id, hh.embedding, hh.h,
       |         ${vector.sql.norm("hh.embedding")} AS nrm
       |  FROM hh, params
       |  WHERE $TrainPerCell.0 * params.cells / params.n >= 1.0
       |     OR hh.h < cast(trunc($TrainPerCell.0 * params.cells / params.n
       |                          * 1000000007) as bigint)),
       |seed AS (
       |  SELECT cast(row_number() OVER (ORDER BY t.h, t.vec_id) - 1 as int) AS cell_id,
       |         t.embedding AS c_emb, t.nrm AS cnorm
       |  FROM train t, params p
       |  QUALIFY row_number() OVER (ORDER BY t.h, t.vec_id) <= p.cells),
       |${kmeansAssign("train", "seed", "a1")},
       |${kmeansMeans("a1", "cent1")},
       |${kmeansAssign("train", "cent1", "a2")},
       |${kmeansMeans("a2", "cent2")},
       |corpus AS (
       |  SELECT vec_id, embedding, ${vector.sql.norm("embedding")} AS nrm
       |  FROM embeddings),
       |${kmeansAssign("corpus", "cent2", "asg")},
       |probes AS (
       |  -- prank (probe order, 1 = nearest cell) rides along for the
       |  -- probe-curve mirror; existing consumers ignore it
       |  SELECT t.vec_id AS query_id, t.embedding AS q_emb, t.nrm AS qnrm, s.cell_id,
       |    cast(row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY -(${sqlDotTS} / (t.nrm * s.cnorm)), s.cell_id) as int) AS prank
       |  FROM (SELECT * FROM corpus WHERE vec_id < $NQueries) t, cent2 s
       |  QUALIFY prank <= $nProbe)""".stripMargin
  }

  private def ivfSql: String = {
    def dot(a: String, b: String) = sqlDot(a, b)
    s"""WITH ${ivfChainSql()}
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY ${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm) DESC,
       |             a.vec_id) as int) AS rank,
       |  round(${dot("a.embedding", "p.q_emb")} / (a.nrm * p.qnrm), 6) AS cosine
       |FROM asg a JOIN probes p USING (cell_id)
       |WHERE a.vec_id <> p.query_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // --------------------------------------------------------------- pq

  private val PqM = 4          // subspaces (64 dims → 4 × 16)
  private val PqDims = 16      // dims per subspace
  private val PqCells = 16     // centroids per sub-quantizer
  private val PqShortlist = 50 // ADC shortlist re-scored exactly

  /** Sub-vector j (0-based) of a 64-dim embedding, as an explicit
    * 16-element build — the same expression shape the oracle uses, so
    * both engines slice identically. */
  private def subVec(emb: Column, j: Column): Column =
    transform(sequence(lit(1), lit(PqDims)),
      i => element_at(emb, (j * PqDims + i).cast("int")))

  /** Squared L2 between two float arrays — double subtraction per
    * element, sequential double fold (bit-stable, oracle-mirrored). */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** One k-means sweep over sub-vectors, keyed by (subspace, cell):
    * same value-sorted-fold means as the IVF sweep, just with the
    * subspace id carried through. */
  private def pqKmeansStep(su: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = su.join(broadcast(cents), "j")
      .withColumn("dist", l2sq(col("semb"), col("c_emb")))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("cell_id"))).as("best"),
        first(col("semb")).as("semb"))
      .select(col("j"), col("best.cell_id").as("cell_id"), col("semb"))
    assigned
      .select(col("j"), col("cell_id"), posexplode(col("semb")).as(Seq("dim", "v")))
      .groupBy("j", "cell_id", "dim")
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .withColumn("m",
        aggregate(col("vs"), lit(0.0), (a, x) => a + x.cast("double"))
          / size(col("vs")))
      .groupBy("j", "cell_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("j"), col("cell_id"),
        expr("transform(dm, x -> cast(x.m as float))").as("c_emb"))
  }

  /** Product-quantization ANN: the OTHER classic scale path next to
    * IVF. Four 16-dim sub-quantizers (16 centroids each) train on the
    * same bounded qhash sample IVF uses; every corpus vector is then
    * encoded as 4 small codes, and query scoring is asymmetric-
    * distance computation — a (query × subspace × cell) lookup table
    * of partial dot products, folded in fixed subspace order, so the
    * full corpus scan touches only codes, never float arrays. The
    * ADC shortlist (top-`PqShortlist` per query) is re-scored with
    * exact cosine and re-ranked. At 10⁹ vectors the scan reads
    * 4 bytes of codes per vector instead of 256 bytes of floats, and
    * the exact math touches only shortlist·|queries| rows. Every fold
    * is fixed-order double arithmetic — the DuckDB mirror reproduces
    * codes, ADC scores and the final ranking bit-for-bit. */
  def pq(s: SparkSession, d: String): DataFrame = {
    // default path rides the memoized corpus + its own memoized PQ
    // model (pq trains on a PqCells-based sample, DELIBERATELY
    // different from ivfpq's annTrain codebooks — their oracles
    // mirror the respective models bit-for-bit, so they cannot
    // share). Before round 6 this re-ran count + k-means + encode on
    // every call and re-cached the corpus pqImpl-side — 2.7 s of the
    // warm bench for zero new information.
    val e = annCorpus(s, d)
    val pcents = pqSoloCents(s, d)
    val codes = pqSoloCodes(s, d)
    val approx = adcFold(codes
      .join(broadcast(pqQueryTab(queriesDf(s, d), pcents)), Seq("j", "code"))
      .filter(col("vec_id") =!= col("query_id")))
    adcShortRescore(approx, e, queriesDf(s, d), PqShortlist)
  }

  private def pqSoloCents(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "pq_cents", d)(
      pqCentsFromTrain(trainSample(annCorpus(s, d), annN(s, d), PqCells,
        TrainPerCell)))

  private def pqSoloCodes(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "pq_codes", d)(
      pqEncode(annCorpus(s, d), pqSoloCents(s, d)))

  /** `shortK` overridable so specs can force shortlist ≥ corpus —
    * then the exact re-score covers everything and the result must
    * equal brute force rank-for-rank. */
  private[graft] def pqImpl(e0: DataFrame, queries: DataFrame, shortK: Int): DataFrame = {
    // checkpointed (as in ivfImpl): feeds the training sample, the
    // encode pass and the shortlist re-score. Sample bounded by
    // TrainPerCell·PqCells (PQ needs concentration per sub-centroid,
    // not per √N cell).
    val e = graft.Checkpoints.eager(Tables.parallelize(e0))
    val n = e.count()
    val train = trainSample(e, n, PqCells, TrainPerCell)
    val pcents = graft.Checkpoints.eager(pqCentsFromTrain(train))
    val codes = pqEncode(e, pcents)
    // ADC over the WHOLE code table (no coarse pruning — that's
    // ann_ivfpq): every corpus vector scores against the broadcast
    // lookup table, reading only its 4 codes
    val approx = adcFold(codes
      .join(broadcast(pqQueryTab(queries, pcents)), Seq("j", "code"))
      .filter(col("vec_id") =!= col("query_id")))
    adcShortRescore(approx, e, queries, shortK)
  }

  /** ADC lookup table: |queries| × PqM × PqCells rows of per-subspace
    * partial dot products (shared by ann_pq and ann_ivfpq). */
  private def pqQueryTab(queries: DataFrame, pcents: DataFrame): DataFrame = {
    val qn = queries.withColumn("qnorm", vector.norm(col("q_emb")))
    val qsub = qn.select(col("query_id"), col("qnorm"),
        explode(sequence(lit(0), lit(PqM - 1))).as("j"),
        col("q_emb"))
      .select(col("query_id"), col("qnorm"), col("j"),
        subVec(col("q_emb"), col("j")).as("qs"))
    qsub.join(pcents, "j")
      .select(col("query_id"), col("qnorm"), col("j"),
        col("cell_id").as("code"),
        vector.dot(col("qs"), col("c_emb")).as("dotp"),
        vector.dot(col("c_emb"), col("c_emb")).as("cn2"))
  }

  /** Shortlist by ADC score, exact-cosine re-score, final rank
    * (shared by ann_pq and ann_ivfpq). */
  private def adcShortRescore(approx: DataFrame, e: DataFrame,
                              queries: DataFrame, shortK: Int): DataFrame = {
    import graft.functions.topk
    val short = topk.perKey(
      approx.select("query_id", "vec_id", "approx"),
      keys = Seq("query_id"),
      order = Seq(topk.Order("approx", ascending = false), topk.Order("vec_id")),
      k = shortK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val scored = short
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "neighbor_id", "cos")
    rankTopK(scored, "neighbor_id")
  }

  /** DuckDB mirror of the ENTIRE PQ pipeline — sample → per-subspace
    * seeds → two k-means sweeps → corpus encoding → ADC table →
    * fixed-order score folds → shortlist → exact re-rank. Same
    * determinism contract as the IVF mirror. */
  private def pqSql: String = {
    def sub(emb: String, j: String) = pqSubSql(emb, j)
    def l2(a: String, b: String) = pqL2Sql(a, b)
    def kmeansAssign(src: String, cents: String, out: String): String =
      pAssignSql(src, cents, out)
    def kmeansMeans(asg: String, out: String): String =
      pMeansSql(asg, out)
    s"""WITH ${qhashCtes("hh")},
       |params AS (SELECT count(*) AS n FROM embeddings),
       |train AS (
       |  SELECT hh.vec_id, hh.embedding, hh.h
       |  FROM hh, params
       |  WHERE $TrainPerCell.0 * $PqCells / params.n >= 1.0
       |     OR hh.h < cast(trunc($TrainPerCell.0 * $PqCells / params.n
       |                          * 1000000007) as bigint)),
       |js AS (SELECT unnest(range(0, $PqM)) AS j),
       |seedrows AS (
       |  SELECT cast(row_number() OVER (ORDER BY h, vec_id) - 1 as int) AS cell_id,
       |         embedding
       |  FROM train
       |  QUALIFY row_number() OVER (ORDER BY h, vec_id) <= $PqCells),
       |seed AS (
       |  SELECT j, cell_id, ${sub("embedding", "j")} AS c_emb
       |  FROM seedrows, js),
       |tsub AS (
       |  SELECT vec_id, j, ${sub("embedding", "j")} AS semb
       |  FROM train, js),
       |${kmeansAssign("tsub", "seed", "a1")},
       |${kmeansMeans("a1", "cent1")},
       |${kmeansAssign("tsub", "cent1", "a2")},
       |${kmeansMeans("a2", "cent2")},
       |esub AS (
       |  SELECT vec_id, j, ${sub("embedding", "j")} AS semb
       |  FROM embeddings, js),
       |codes AS (
       |  SELECT t.vec_id, t.j, s.cell_id
       |  FROM esub t JOIN cent2 s ON t.j = s.j
       |  QUALIFY row_number() OVER (PARTITION BY t.vec_id, t.j
       |    ORDER BY ${l2("t.semb", "s.c_emb")}, s.cell_id) = 1),
       |qn AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb,
       |         ${vector.sql.norm("embedding")} AS qnorm
       |  FROM embeddings WHERE vec_id < $NQueries),
       |qtab AS (
       |  SELECT q.query_id, q.qnorm, s.j, s.cell_id,
       |    list_reduce(list_prepend(cast(0.0 as double),
       |      list_transform(range(1, ${PqDims + 1}),
       |        i -> cast(q.q_emb[s.j*$PqDims + i] * s.c_emb[i] as double))),
       |      (acc, x) -> acc + x) AS dotp,
       |    ${vector.sql.dot("s.c_emb", "s.c_emb")} AS cn2
       |  FROM qn q, cent2 s),
       |approx0 AS (
       |  SELECT q.query_id, c.vec_id, q.qnorm,
       |    ${adcSumsSql("q")}
       |  FROM codes c JOIN qtab q ON c.j = q.j AND c.cell_id = q.cell_id
       |  WHERE c.vec_id <> q.query_id
       |  GROUP BY q.query_id, c.vec_id, q.qnorm),
       |approx AS (
       |  SELECT query_id, vec_id, qnorm, $adcTotalsSql
       |  FROM approx0),
       |short AS (
       |  SELECT query_id, vec_id
       |  FROM approx
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY adot / (qnorm * sqrt(an2)) DESC, vec_id) <= $PqShortlist)
       |SELECT s.query_id, s.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY s.query_id
       |    ORDER BY ${vector.sql.cosine("e.embedding", "q.embedding")} DESC,
       |             s.vec_id) as int) AS rank,
       |  round(${vector.sql.cosine("e.embedding", "q.embedding")}, 6) AS cosine
       |FROM short s
       |JOIN embeddings e ON s.vec_id = e.vec_id
       |JOIN embeddings q ON s.query_id = q.vec_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // ------------------------------------------------------------ ivfpq

  /** IVF + PQ composed — the production 100 TB ANN layout (the
    * FAISS "IVFPQ" shape): the coarse quantizer prunes the corpus to
    * `nProbe` cells per query, and WITHIN those cells the scan reads
    * 4-byte PQ codes instead of 256-byte float arrays, so the
    * per-query work is (probed fraction of N) × (bytes of a code).
    * Both quantizers train on the SAME bounded qhash sample (the IVF
    * sample — ≥ the PQ-only sample since cells ≥ PqCells). Codes
    * encode RESIDUALS (v − coarse centroid of v's cell) — the FAISS
    * production layout: residuals concentrate around 0 with far less
    * variance than raw vectors, so the same 4 bytes of code carry
    * more precision (AnnSpec pins recall@10 residual ≥ raw at equal
    * code bytes). ADC then scores against COMPOSITE centroids
    * (coarse-cell sub-vector + residual sub-centroid), computed per
    * (query, probed cell) — nProbe·PqM·PqCells entries per query,
    * broadcast like FAISS's per-cell lookup tables. Shortlist
    * re-scored exactly, like `ann_pq`. Every stage is the same
    * deterministic integer/sorted-fold construction as the parent
    * operators, so the DuckDB mirror reproduces the full pipeline
    * bit-for-bit. */
  def ivfpq(s: SparkSession, d: String): DataFrame =
    ivfpqResScore(annAssigned(s, d).select("vec_id", "cell_id"),
      annPqCodes(s, d), annPqCents(s, d), annCorpus(s, d),
      annCents(s, d), queriesDf(s, d),
      nProbe = DefaultNProbe, shortK = PqShortlist)

  /** SQL twin of [[adcFold]]'s grouped conditional sums. */
  private def adcSumsSql(q: String): String =
    (0 until PqM).flatMap { j =>
      Seq(s"sum(CASE WHEN $q.j = $j THEN $q.dotp END) AS d$j",
        s"sum(CASE WHEN $q.j = $j THEN $q.cn2 END) AS c$j")
    }.mkString(",\n    ")

  /** SQL twin of [[adcFold]]'s fixed-order totals. */
  private def adcTotalsSql: String =
    (0 until PqM).map(j => s"d$j").mkString(" + ") + " AS adot, " +
      (0 until PqM).map(j => s"c$j").mkString(" + ") + " AS an2"

  /** ADC fold shared by ann_pq and ann_ivfpq: input rows carry
    * (query_id, vec_id, qnorm, j, dotp, cn2); each per-subspace
    * conditional sum sees exactly ONE non-null value per group, so
    * the grouped aggregation is exact regardless of partitioning and
    * the d0+d1+d2+d3 association is fixed — deterministic in any
    * engine with no per-group list sort. */
  private def adcFold(parts: DataFrame): DataFrame = {
    val sums = (0 until PqM).flatMap { j =>
      Seq(sum(when(col("j") === j, col("dotp"))).as(s"d$j"),
        sum(when(col("j") === j, col("cn2"))).as(s"c$j"))
    }
    parts.groupBy(col("query_id"), col("vec_id"), col("qnorm"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("adot", (0 until PqM).map(j => col(s"d$j")).reduce(_ + _))
      .withColumn("an2", (0 until PqM).map(j => col(s"c$j")).reduce(_ + _))
      .withColumn("approx", col("adot") / (col("qnorm") * sqrt(col("an2"))))
  }

  /** Sub-vector explosion shared by the PQ stages. */
  private def subbed(df: DataFrame, idC: String, embC: String): DataFrame =
    df.select(col(idC), col(embC),
        explode(sequence(lit(0), lit(PqM - 1))).as("j"))
      .select(col(idC), col("j"), subVec(col(embC), col("j")).as("semb"))

  /** PQ sub-quantizers from a training sample: per-subspace seeds
    * from the PqCells lowest-hash rows, two k-means sweeps. (The
    * seed window below is single-partition by design — its input is
    * the PqCells=16-row limit, the §6 bounded-window carve-out.) */
  private def pqCentsFromTrain(train: DataFrame): DataFrame = {
    val pseedRows = train.orderBy(col("h"), col("vec_id")).limit(PqCells)
      .select(
        (row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1)
          .cast("int").as("cell_id"),
        col("embedding"))
    val pseed = subbed(pseedRows, "cell_id", "embedding")
      .select(col("j"), col("cell_id"), col("semb").as("c_emb"))
    val trainSub = subbed(train, "vec_id", "embedding")
    pqKmeansStep(trainSub, pqKmeansStep(trainSub, pseed))
  }

  /** Corpus → 4 codes/vector: nearest sub-centroid per (vector,
    * subspace) — the only full-corpus float pass on the PQ side. */
  private def pqEncode(e: DataFrame, pcents: DataFrame): DataFrame =
    subbed(e, "vec_id", "embedding")
      .join(broadcast(pcents), "j")
      .withColumn("dist", l2sq(col("semb"), col("c_emb")))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("cell_id"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.cell_id").as("code"))

  /** Residual v − c: elementwise float subtraction — the same IEEE
    * float op in both engines, so residuals are bit-identical. */
  private def resid(v: Column, c: Column): Column =
    zip_with(v, c, (x, y) => x - y)

  /** Training-sample residuals w.r.t. the final coarse quantizer:
    * assign the bounded sample to the trained centroids, subtract
    * each row's cell centroid. `h` re-joined so residual PQ seeds
    * keep the hash order. This is what the sub-quantizers train on —
    * the FAISS residual-IVFPQ training set. */
  private def trainResiduals(train: DataFrame, cents: DataFrame): DataFrame =
    coarseAssign(train, cents)
      .join(broadcast(cents), "cell_id")
      .select(col("vec_id"),
        resid(col("embedding"), col("c_emb")).as("embedding"))
      .join(train.select(col("vec_id"), col("h")), "vec_id")

  /** Corpus residuals from the memoized assignment — one broadcast
    * join + float subtraction, no extra corpus pass. */
  private def corpusResiduals(assigned: DataFrame, cents: DataFrame): DataFrame =
    assigned.join(broadcast(cents), "cell_id")
      .select(col("vec_id"),
        resid(col("embedding"), col("c_emb")).as("embedding"))

  private def annTrainRes(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "ann_trainres", d)(
      trainResiduals(annTrain(s, d), annCents(s, d)))

  /** PQ codebooks trained on the IVF (larger) sample's RESIDUALS +
    * the corpus residual codes, memoized for the default ivfpq
    * path. */
  private def annPqCents(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "ann_pqcents", d)(
      pqCentsFromTrain(annTrainRes(s, d)))

  private def annPqCodes(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "ann_pqcodes", d)(
      pqEncode(corpusResiduals(annAssigned(s, d), annCents(s, d)),
        annPqCents(s, d)))

  /** Spec hooks: nProbe = all cells AND shortK ≥ corpus degenerates
    * to exact brute force; `residual = false` keeps the raw-vector
    * encoding reachable so AnnSpec can pin recall(residual) ≥
    * recall(raw) at equal code bytes. */
  private[graft] def ivfpqImpl(e0: DataFrame, queries: DataFrame,
                               nCells: Int, nProbe: Int, shortK: Int,
                               trainPerCell: Int = TrainPerCell,
                               residual: Boolean = true): DataFrame = {
    // checkpointed, as in ivfImpl
    val e = graft.Checkpoints.eager(Tables.parallelize(e0))
    val n = e.count()
    val cells =
      if (nCells > 0) nCells
      else math.max(4, math.sqrt(n.toDouble).toInt)
    val train = trainSample(e, n, cells, trainPerCell)
    // coarse quantizer: identical construction to ann_ivf; sub-
    // quantizers: identical construction to ann_pq but trained on
    // the (larger) IVF sample — on residuals for the default path
    val cents = graft.Checkpoints.eager(coarseCentsFromTrain(train, cells))
    // checkpointed: both branches consume the full-corpus assignment twice
    // (cell lookup + residual/code build) — uncached, the
    // O(N·cells·d) assignment pass would run once per consumer on
    // this spec-driven path (the memoized ivfpq entry point already
    // reuses ann_assigned; round-7 ADVICE)
    val assignedFull = graft.Checkpoints.eager(coarseAssign(e, cents))
    if (residual) {
      val pcents = graft.Checkpoints.eager(
        pqCentsFromTrain(trainResiduals(train, cents)))
      val codes = pqEncode(corpusResiduals(assignedFull, cents), pcents)
      ivfpqResScore(assignedFull.select("vec_id", "cell_id"), codes, pcents,
        e, cents, queries, nProbe, shortK)
    } else {
      val pcents = graft.Checkpoints.eager(pqCentsFromTrain(train))
      val codes = pqEncode(e, pcents)
      ivfpqScore(assignedFull.select("vec_id", "cell_id"), codes, pcents,
        e, cents, queries, nProbe, shortK)
    }
  }

  /** Composite ADC lookup table for residual codes: per (query,
    * probed cell, subspace, code), the table entry scores against
    * the COMPOSITE centroid c_cell⊂j + r̂ (coarse sub-vector plus
    * residual sub-centroid), so Σⱼ dotp = q·(c + r̂) and Σⱼ cn2 =
    * ‖c + r̂‖² exactly — [[adcFold]] then needs no change. Size is
    * |queries|·nProbe·PqM·PqCells (FAISS's per-probed-cell table),
    * always broadcastable. Float addition for the composite, double
    * folds for the products — both mirrored bit-for-bit. */
  private def resQueryTab(queries: DataFrame, probes: DataFrame,
                          cents: DataFrame, pcents: DataFrame): DataFrame =
    queries.withColumn("qnorm", vector.norm(col("q_emb")))
      .join(probes, "query_id")
      .join(broadcast(cents), "cell_id")
      .select(col("query_id"), col("qnorm"), col("cell_id"),
        col("q_emb"), col("c_emb"),
        explode(sequence(lit(0), lit(PqM - 1))).as("j"))
      .join(broadcast(pcents.select(col("j"), col("cell_id").as("code"),
        col("c_emb").as("r_emb"))), "j")
      .withColumn("comp",
        zip_with(subVec(col("c_emb"), col("j")), col("r_emb"), (a, b) => a + b))
      .select(col("query_id"), col("qnorm"), col("cell_id"), col("j"),
        col("code"),
        vector.dot(subVec(col("q_emb"), col("j")), col("comp")).as("dotp"),
        vector.dot(col("comp"), col("comp")).as("cn2"))

  /** Residual-code scoring: candidates keep their cell_id so each
    * code row looks up the (query, cell)-specific composite table
    * entry; shortlist re-score identical to the raw path. */
  private def ivfpqResScore(assigned: DataFrame, codes: DataFrame,
                            pcents: DataFrame, e: DataFrame, cents: DataFrame,
                            queries: DataFrame, nProbe: Int,
                            shortK: Int): DataFrame = {
    import graft.functions.topk
    // probes feeds both the candidate join and the composite table
    // (which re-expands it against cents × pcents); checkpointing the
    // tiny |queries|·nProbe relation cuts the composite-ADC plan's
    // fan-out at its root — pre-checkpoint the final ann_ivfpq plan
    // carried 3,196 exchanges / 752 (broadcast-benign) BNLJ nodes of
    // repeated quantizer-training lineage, a Catalyst planning cost
    // that grows with PqM·PqCells unrolling (round-8 verdict item 2;
    // the text_ppl_bucket precedent)
    val probes = graft.Checkpoints.eager(topk.perKey(
      queries.crossJoin(broadcast(cents))
        .withColumn("dist", -vector.cosine(col("q_emb"), col("c_emb")))
        .select("query_id", "cell_id", "dist"),
      keys = Seq("query_id"),
      order = Seq(topk.Order("dist"), topk.Order("cell_id")),
      k = nProbe)
      .select("query_id", "cell_id"))
    // assigned/codes arrive as nested InMemoryRelations whose build
    // plans (the whole coarse + PQ training chains) reprint at every
    // reference; truncating them to checkpoint scans here is what
    // actually collapses the composite plan (12-byte and 16-byte rows
    // per vector — cheap blocks)
    val assignedCp = graft.Checkpoints.eager(assigned)
    val codesCp = graft.Checkpoints.eager(codes)
    val cand = assignedCp.join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "cell_id")
    // same cut for the composite table itself: |queries|·nProbe·PqM·
    // PqCells rows, always broadcastable — materializing it once
    // removes the cents/pcents training chains from the scoring plan
    val approx = adcFold(cand.join(codesCp, "vec_id")
      .join(broadcast(graft.Checkpoints.eager(
          resQueryTab(queries, probes, cents, pcents))),
        Seq("query_id", "cell_id", "j", "code")))
    adcShortRescore(approx, e, queries, shortK)
  }

  private def ivfpqScore(assigned: DataFrame, codes: DataFrame,
                         pcents: DataFrame, e: DataFrame, cents: DataFrame,
                         queries: DataFrame, nProbe: Int,
                         shortK: Int): DataFrame = {
    import graft.functions.topk
    // query side: nProbe coarse cells
    val probes = topk.perKey(
      queries.crossJoin(broadcast(cents))
        .withColumn("dist", -vector.cosine(col("q_emb"), col("c_emb")))
        .select("query_id", "cell_id", "dist"),
      keys = Seq("query_id"),
      order = Seq(topk.Order("dist"), topk.Order("cell_id")),
      k = nProbe)
      .select("query_id", "cell_id")

    // candidates = vectors in probed cells; their codes ADC-score
    // against the broadcast table — the corpus's float arrays are
    // never read past the encode pass
    val cand = assigned.join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val approx = adcFold(cand.join(codes, "vec_id")
      .join(broadcast(pqQueryTab(queries, pcents)),
        Seq("query_id", "j", "code")))
    adcShortRescore(approx, e, queries, shortK)
  }

  /** DuckDB mirror of the composed pipeline: the IVF chain (sample →
    * seeds → two coarse k-means sweeps → full assignment → probes)
    * feeding the PQ chain (sub-quantizer training on the same sample →
    * corpus encoding → ADC over PROBED CELLS ONLY → shortlist → exact
    * re-rank). */
  private def ivfpqSql: String = {
    // coarse (64-dim) and sub-space (16-dim) builders shared with
    // ivfSql / pqSql — local aliases only
    val dotTS = sqlDotTS
    def cAssign(src: String, cents: String, out: String): String =
      cAssignSql(src, cents, out)
    def cMeans(asg: String, out: String): String = cMeansSql(asg, out)
    def sub(emb: String, j: String) = pqSubSql(emb, j)
    def l2(a: String, b: String) = pqL2Sql(a, b)
    def pAssign(src: String, cents: String, out: String): String =
      pAssignSql(src, cents, out)
    def pMeans(asg: String, out: String): String = pMeansSql(asg, out)
    s"""WITH ${qhashCtes("hh")},
       |params AS (
       |  SELECT greatest(4, cast(floor(sqrt(count(*))) as bigint)) AS cells,
       |         count(*) AS n
       |  FROM embeddings),
       |train AS (
       |  SELECT hh.vec_id, hh.embedding, hh.h,
       |         ${vector.sql.norm("hh.embedding")} AS nrm
       |  FROM hh, params
       |  WHERE $TrainPerCell.0 * params.cells / params.n >= 1.0
       |     OR hh.h < cast(trunc($TrainPerCell.0 * params.cells / params.n
       |                          * 1000000007) as bigint)),
       |seed AS (
       |  SELECT cast(row_number() OVER (ORDER BY t.h, t.vec_id) - 1 as int) AS cell_id,
       |         t.embedding AS c_emb, t.nrm AS cnorm
       |  FROM train t, params p
       |  QUALIFY row_number() OVER (ORDER BY t.h, t.vec_id) <= p.cells),
       |${cAssign("train", "seed", "a1")},
       |${cMeans("a1", "cent1")},
       |${cAssign("train", "cent1", "a2")},
       |${cMeans("a2", "cent2")},
       |corpus AS (
       |  SELECT vec_id, embedding, ${vector.sql.norm("embedding")} AS nrm
       |  FROM embeddings),
       |${cAssign("corpus", "cent2", "asg")},
       |probes AS (
       |  SELECT t.vec_id AS query_id, s.cell_id
       |  FROM (SELECT * FROM corpus WHERE vec_id < $NQueries) t, cent2 s
       |  QUALIFY row_number() OVER (PARTITION BY t.vec_id
       |    ORDER BY -($dotTS / (t.nrm * s.cnorm)), s.cell_id) <= $DefaultNProbe),
       |${cAssign("train", "cent2", "tasg0")},
       |tres AS (
       |  SELECT t.vec_id, tr.h,
       |    list_transform(range(1, 65),
       |      i -> t.embedding[i] - s.c_emb[i]) AS embedding
       |  FROM tasg0 t JOIN cent2 s USING (cell_id)
       |  JOIN train tr ON tr.vec_id = t.vec_id),
       |js AS (SELECT unnest(range(0, $PqM)) AS j),
       |pseedrows AS (
       |  SELECT cast(row_number() OVER (ORDER BY h, vec_id) - 1 as int) AS cell_id,
       |         embedding
       |  FROM tres
       |  QUALIFY row_number() OVER (ORDER BY h, vec_id) <= $PqCells),
       |pseed AS (
       |  SELECT j, cell_id, ${sub("embedding", "j")} AS c_emb
       |  FROM pseedrows, js),
       |tsub AS (
       |  SELECT vec_id, j, ${sub("embedding", "j")} AS semb
       |  FROM tres, js),
       |${pAssign("tsub", "pseed", "pa1")},
       |${pMeans("pa1", "pcent1")},
       |${pAssign("tsub", "pcent1", "pa2")},
       |${pMeans("pa2", "pcent2")},
       |eres AS (
       |  SELECT a.vec_id, a.cell_id,
       |    list_transform(range(1, 65),
       |      i -> a.embedding[i] - s.c_emb[i]) AS embedding
       |  FROM asg a JOIN cent2 s USING (cell_id)),
       |esub AS (
       |  SELECT vec_id, j, ${sub("embedding", "j")} AS semb
       |  FROM eres, js),
       |codes AS (
       |  SELECT t.vec_id, t.j, s.cell_id
       |  FROM esub t JOIN pcent2 s ON t.j = s.j
       |  QUALIFY row_number() OVER (PARTITION BY t.vec_id, t.j
       |    ORDER BY ${l2("t.semb", "s.c_emb")}, s.cell_id) = 1),
       |qn AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb,
       |         ${vector.sql.norm("embedding")} AS qnorm
       |  FROM embeddings WHERE vec_id < $NQueries),
       |qtab0 AS (
       |  SELECT q.query_id, q.qnorm, p.cell_id, s.j, s.cell_id AS code,
       |    ${sub("q.q_emb", "s.j")} AS qs,
       |    list_transform(range(1, ${PqDims + 1}),
       |      i -> c2.c_emb[s.j*$PqDims + i] + s.c_emb[i]) AS comp
       |  FROM qn q
       |  JOIN probes p ON q.query_id = p.query_id
       |  JOIN cent2 c2 ON p.cell_id = c2.cell_id, pcent2 s),
       |qtab AS (
       |  SELECT query_id, qnorm, cell_id, j, code,
       |    ${vector.sql.dot("qs", "comp")} AS dotp,
       |    ${vector.sql.dot("comp", "comp")} AS cn2
       |  FROM qtab0),
       |cand AS (
       |  SELECT p.query_id, a.vec_id, a.cell_id
       |  FROM asg a JOIN probes p USING (cell_id)
       |  WHERE a.vec_id <> p.query_id),
       |approx0 AS (
       |  SELECT q.query_id, c.vec_id, q.qnorm,
       |    ${adcSumsSql("q")}
       |  FROM cand x
       |  JOIN codes c ON x.vec_id = c.vec_id
       |  JOIN qtab q ON c.j = q.j AND c.cell_id = q.code
       |    AND q.query_id = x.query_id AND q.cell_id = x.cell_id
       |  GROUP BY q.query_id, c.vec_id, q.qnorm),
       |approx AS (
       |  SELECT query_id, vec_id, qnorm, $adcTotalsSql
       |  FROM approx0),
       |short AS (
       |  SELECT query_id, vec_id
       |  FROM approx
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY adot / (qnorm * sqrt(an2)) DESC, vec_id) <= $PqShortlist)
       |SELECT s.query_id, s.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY s.query_id
       |    ORDER BY ${vector.sql.cosine("e.embedding", "q.embedding")} DESC,
       |             s.vec_id) as int) AS rank,
       |  round(${vector.sql.cosine("e.embedding", "q.embedding")}, 6) AS cosine
       |FROM short s
       |JOIN embeddings e ON s.vec_id = e.vec_id
       |JOIN embeddings q ON s.query_id = q.vec_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // ----------------------------------------------------- knn join

  private val KnnK = 5
  private val KnnTables = 4
  private val KnnBits = 4
  private val KnnBucketCap = 64

  /** All-pairs kNN join: top-k cosine neighbors for EVERY corpus
    * vector (not just a query block) — the batch-embedding-pipeline
    * primitive behind near-dup clustering, diversity sampling and
    * retrieval-index bootstrap. Candidates are LSH-bucket-local with
    * the same representative-cap discipline as the dedup family: each
    * bucket contributes member↔rep pairs only (cap lowest-id reps), so
    * a bucket of B vectors emits O(B·cap) candidates, never O(B²), and
    * only (id, id) pairs shuffle — embeddings re-attach after the
    * distinct. Per-vector ranking runs through the custom bounded-heap
    * top-k (no partition sort). Recall vs brute force is spec-bounded
    * in AnnSpec. */
  def knnJoin(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val banded = e
      .select(col("vec_id"),
        explode(DedupOps.lshBuckets(col("embedding"), KnnTables, KnnBits, 64)).as("b"))
      .select(col("vec_id"), col("b.tbl").as("tbl"), col("b.bv").as("bv"))
    val reps = graft.functions.topk.perKey(banded,
      keys = Seq("tbl", "bv"),
      order = Seq(graft.functions.topk.Order("vec_id")),
      k = KnnBucketCap)
      .select(col("tbl"), col("bv"), col("vec_id").as("rep_id"))
    val mr = banded.join(reps, Seq("tbl", "bv"))
      .filter(col("vec_id") =!= col("rep_id"))
    val cand = mr.select(col("vec_id").as("a"), col("rep_id").as("b"))
      .unionAll(mr.select(col("rep_id").as("a"), col("vec_id").as("b")))
      .distinct()
    // size-adaptive attach (broadcast within budget, else sort-free
    // shuffle_hash) — the candidate stream must never be sorted or
    // re-shuffled carrying the embedding payload (see
    // DedupOps.embAttacher; sf3 probe)
    val attach = DedupOps.embAttacher(e)
    val scored = cand
      .join(attach("a", "ea"), "a")
      .join(attach("b", "eb"), "b")
      .withColumn("cos", vector.cosine(col("ea"), col("eb")))
      .select(col("a").as("query_id"), col("b"), col("cos"))
    graft.functions.topk.perKey(scored,
      keys = Seq("query_id"),
      order = Seq(graft.functions.topk.Order("cos", ascending = false),
        graft.functions.topk.Order("b")),
      k = KnnK)
      .select(col("query_id").as("vec_id"), col("b").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))
  }

  private def knnJoinSql = {
    val cos = vector.sql.cosine("e1.embedding", "e2.embedding")
    s"""WITH cb AS (
       |${DedupOps.bandedSql("embeddings", "vec_id", KnnTables, KnnBits)}),
       |reps AS (
       |  SELECT tbl, bv, vec_id AS rep_id FROM cb
       |  QUALIFY row_number() OVER (PARTITION BY tbl, bv ORDER BY vec_id)
       |    <= $KnnBucketCap),
       |mr AS (
       |  SELECT cb.vec_id, r.rep_id
       |  FROM cb JOIN reps r USING (tbl, bv)
       |  WHERE cb.vec_id <> r.rep_id),
       |cand AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT vec_id AS a, rep_id AS b FROM mr
       |    UNION ALL
       |    SELECT rep_id AS a, vec_id AS b FROM mr))
       |SELECT c.a AS vec_id, c.b AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY c.a
       |       ORDER BY $cos DESC, c.b) as int) AS rank,
       |  round($cos, 6) AS cosine
       |FROM cand c
       |JOIN embeddings e1 ON c.a = e1.vec_id
       |JOIN embeddings e2 ON c.b = e2.vec_id
       |QUALIFY rank <= $KnnK""".stripMargin
  }

  // -------------------------------------------------- normalization

  /** Unit-norm projection of the embedding column — the standard
    * pre-ANN step (after it, cosine = dot product). The oracle
    * compares scalar digests of the unit vector (head element and a
    * sequential-fold sum, same shape both engines) rather than the
    * raw array — array cells don't canonicalize in a row-sorted hash
    * compare. */
  def normalizeEmbeddings(s: SparkSession, d: String): DataFrame = {
    val nrm = vector.norm(col("embedding"))
    val unit = transform(col("embedding"), x => x.cast("double") / nrm)
    Tables.embeddings(s, d).select(
      col("vec_id"),
      round(element_at(unit, 1), 6).as("unit_head"),
      round(aggregate(unit, lit(0.0), (acc, v) => acc + v), 6).as("unit_sum"),
      round(nrm, 6).as("l2_norm"))
  }

  private val normalizeEmbeddingsSql = {
    val n = vector.sql.norm("embedding")
    val unit = s"list_transform(embedding, x -> cast(x as double) / $n)"
    s"""SELECT vec_id,
       |  (round($unit[1], 6) + 0.0) AS unit_head,
       |  (round(list_reduce(list_prepend(cast(0.0 as double), $unit),
       |        (acc, v) -> acc + v), 6) + 0.0) AS unit_sum,
       |  round($n, 6) AS l2_norm
       |FROM embeddings""".stripMargin
  }

  // ------------------------------------------------ label centroids

  /** Per-label mean embedding (the classifier-prototype / cluster-
    * summary aggregation): posexplode → (label, dim) means via the
    * same value-sorted sequential fold the IVF centroids use (a
    * distributed avg() sums floats in partition order — last-ulp
    * nondeterminism), reassembled per label. Output is scalar digests
    * of each centroid (head / fold-sum / norm) — array cells don't
    * canonicalize in the driver's row-sorted hash compare. Two
    * partial/final shuffles, keys bounded by |labels|×dims. */
  def centroidPerLabel(s: SparkSession, d: String): DataFrame = {
    val dims = DedupOps.embParallel(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .withColumn("m",
        aggregate(col("vs"), lit(0.0), (a, x) => a + x.cast("double"))
          / size(col("vs")))
      .withColumn("n", size(col("vs")))
    dims.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"),
        max(col("n")).as("n_vecs"))
      .select(col("label"), col("n_vecs").cast("long").as("n_vecs"),
        round(element_at(col("dm"), 1).getField("m"), 6).as("centroid_head"),
        round(aggregate(col("dm"), lit(0.0), (a, x) => a + x.getField("m")), 6)
          .as("centroid_sum"),
        round(sqrt(aggregate(col("dm"), lit(0.0),
          (a, x) => a + x.getField("m") * x.getField("m"))), 6)
          .as("centroid_norm"))
  }

  private val centroidPerLabelSql =
    """WITH d AS (
      |  SELECT label, dd.dim AS dim, embedding[dd.dim + 1] AS v
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS dim) dd),
      |m AS (
      |  SELECT label, dim,
      |    list_reduce(list_prepend(cast(0.0 as double), list(v ORDER BY v)),
      |                (a, x) -> a + cast(x as double)) / count(v) AS m,
      |    count(v) AS n
      |  FROM d GROUP BY label, dim),
      |c AS (
      |  SELECT label, list(m ORDER BY dim) AS ms, max(n) AS n_vecs
      |  FROM m GROUP BY label)
      |SELECT label, cast(n_vecs as bigint) AS n_vecs,
      |  (round(ms[1], 6) + 0.0) AS centroid_head,
      |  (round(list_reduce(list_prepend(cast(0.0 as double), ms),
      |        (a, x) -> a + x), 6) + 0.0) AS centroid_sum,
      |  round(sqrt(list_reduce(list_prepend(cast(0.0 as double), ms),
      |        (a, x) -> a + x*x)), 6) AS centroid_norm
      |FROM c""".stripMargin

  // ------------------------------------------------ int8 quantization

  private val QDims = 64

  /** Scalar int8 quantization of the embedding column — the storage-
    * compression step a 10⁹-vector corpus takes before ANN serving
    * (4× smaller than float32; PQ above is the 64× lossy variant).
    * Per-dimension [min,max] comes from ONE 1-row aggregation
    * broadcast back over the corpus (the q8/q11 global-aggregate
    * pattern — no per-dim shuffle of (vec,dim) pairs), and each value
    * maps to ⌊(v−min)·255/(max−min)+0.5⌋ clamped to [0,255]. All
    * arithmetic is fixed-order IEEE double on both engines →
    * bit-identical codes; constant dimensions quantize to 0 instead
    * of dividing by zero. Output digests: head code, exact integer
    * code sum, and the fixed-order reconstruction-error sum. */
  def int8Quantize(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    // the min/max row rides the broadcast PACKED as two arrays: the
    // unrolled form (64 code + 64 error scalar trees in one Project)
    // generated a processNext() past janino's 64 KB method limit and
    // silently dropped the whole stage out of codegen — the compact
    // higher-order expressions below compute the IDENTICAL
    // left-associated folds (0 + c0 + c1 …, exact for ints; 0.0 + e0
    // ≡ e0 for the non-negative error terms) inside one small
    // codegen'd loop, so every digest bit is unchanged
    val mnA = array((0 until QDims).map(i => col(s"mn$i")): _*)
    val mxA = array((0 until QDims).map(i => col(s"mx$i")): _*)
    val idx = sequence(lit(0), lit(QDims - 1))
    def vAt(i: Column) = element_at(col("embedding"), i + 1).cast("double")
    def mnAt(i: Column) = element_at(col("mn_a"), i + 1).cast("double")
    def mxAt(i: Column) = element_at(col("mx_a"), i + 1).cast("double")
    def codeAt(i: Column): Column =
      when(element_at(col("mx_a"), i + 1) === element_at(col("mn_a"), i + 1),
        lit(0L))
        .otherwise(least(lit(255L), greatest(lit(0L),
          floor((vAt(i) - mnAt(i)) * 255.0 / (mxAt(i) - mnAt(i)) + 0.5)
            .cast("long"))))
    def errAt(i: Column): Column =
      abs(vAt(i) - (mnAt(i) + codeAt(i).cast("double") * (mxAt(i) - mnAt(i)) / 255.0))
    e.crossJoin(broadcast(sqMinMax(e).select(mnA.as("mn_a"), mxA.as("mx_a"))))
      .select(col("vec_id"),
        codeAt(lit(0)).as("code_head"),
        aggregate(transform(idx, i => codeAt(i)), lit(0L), (a, x) => a + x)
          .as("code_sum"),
        round(aggregate(transform(idx, i => errAt(i)), lit(0.0), (a, x) => a + x), 6)
          .as("recon_err"))
  }

  // ---- shared scalar-quantizer builders (ONE copy: the quantizer
  // ---- operator above and the SQ8 search path below must encode
  // ---- bit-identically, and both mirrors reuse the same SQL text)

  /** Per-dim [min,max] as ONE 1-row aggregation (broadcast back —
    * never a (vec,dim) shuffle). */
  private def sqMinMax(e: DataFrame): DataFrame = {
    val mmAgg = (0 until QDims).flatMap { i =>
      Seq(min(element_at(col("embedding"), i + 1)).as(s"mn$i"),
        max(element_at(col("embedding"), i + 1)).as(s"mx$i"))
    }
    e.agg(mmAgg.head, mmAgg.tail: _*)
  }
  private def sqV(i: Int) = element_at(col("embedding"), i + 1).cast("double")
  private def sqMn(i: Int) = col(s"mn$i").cast("double")
  private def sqMx(i: Int) = col(s"mx$i").cast("double")

  /** v ↦ ⌊(v−min)·255/(max−min)+0.5⌋ clamped to [0,255]; constant
    * dims map to 0. Fixed-order IEEE double → bit-identical codes. */
  private def sqCode(i: Int): Column =
    when(col(s"mx$i") === col(s"mn$i"), lit(0L)).otherwise(
      least(lit(255L), greatest(lit(0L),
        floor((sqV(i) - sqMn(i)) * 255.0 / (sqMx(i) - sqMn(i)) + 0.5).cast("long"))))

  /** Mirror-side twins of sqMinMax/sqCode (shared by the quantizer
    * and SQ8-search mirrors). */
  private val sqMmSqlCols = (0 until QDims).flatMap { i =>
    Seq(s"min(embedding[${i + 1}]) AS mn$i", s"max(embedding[${i + 1}]) AS mx$i")
  }.mkString(", ")
  private def sqVSql(i: Int) = s"cast(embedding[${i + 1}] as double)"
  private def sqMnSql(i: Int) = s"cast(mn$i as double)"
  private def sqMxSql(i: Int) = s"cast(mx$i as double)"
  private def sqCodeSql(i: Int) =
    s"(CASE WHEN mx$i = mn$i THEN 0 ELSE least(255, greatest(0, " +
      s"cast(floor((${sqVSql(i)} - ${sqMnSql(i)}) * 255.0 / (${sqMxSql(i)} - ${sqMnSql(i)}) + 0.5) as bigint))) END)"

  private def int8QuantizeSql: String = {
    def err(i: Int) =
      s"abs(${sqVSql(i)} - (${sqMnSql(i)} + cast(${sqCodeSql(i)} as double) * (${sqMxSql(i)} - ${sqMnSql(i)}) / 255.0))"
    s"""WITH mm AS (SELECT $sqMmSqlCols FROM embeddings)
       |SELECT vec_id,
       |  cast(${sqCodeSql(0)} as bigint) AS code_head,
       |  cast(${(0 until QDims).map(sqCodeSql).mkString("(", " + ", ")")} as bigint) AS code_sum,
       |  round(${(0 until QDims).map(err).mkString("(", " + ", ")")}, 6) AS recon_err
       |FROM embeddings, mm""".stripMargin
  }

  // ------------------------------------------ scalar-quantized search

  private val SqShortK = 50

  /** The int8-code corpus — what a production SQ8 index stores
    * instead of float arrays (64 B/vector vs 256 B). Memoized so the
    * search below and any future consumer encode once per session. */
  private def sq8Codes(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "sq8_codes", d) {
      val e = DedupOps.embParallel(s, d)
      e.crossJoin(broadcast(sqMinMax(e)))
        .select(col("vec_id"), array((0 until QDims).map(sqCode): _*).as("codes"))
    }

  /** Per-query ADC weight table: w_i = q_i·(mx_i−mn_i)/255, the exact
    * per-unit-code contribution to dot(q, dequantize(codes)). The
    * Σ q_i·mn_i offset is a per-query CONSTANT, so ranking by
    * Σ c_i·w_i is ranking by the reconstructed dot — the constant
    * never needs computing. Q×(64 doubles), broadcast. */
  private def sq8Qlut(s: SparkSession, d: String): DataFrame =
    queriesDf(s, d).withColumnRenamed("q_emb", "embedding")
      .crossJoin(broadcast(sqMinMax(DedupOps.embParallel(s, d))))
      .select(col("query_id"), col("embedding").as("q_emb"),
        array((0 until QDims).map(i =>
          sqV(i) * ((sqMx(i) - sqMn(i)) / 255.0)): _*).as("w"))

  /** SQ8 (scalar-quantized) ANN search — the serving path behind
    * emb_int8_quantize: rank by ASYMMETRIC distance (float query ×
    * dequantized int8 codes — the FAISS SQ8 ADC form) over a
    * codes-only scan, then re-score a bounded shortlist exactly.
    * At 10⁹ vectors the hot scan reads 64 B codes instead of 256 B
    * floats, the ADC fold is one codegen'd zip_with against a
    * broadcast per-query weight array, and only SqShortK ids/query
    * reach the float re-rank. Fixed-order IEEE folds on both engines
    * → the shortlist, ranks, and cosines all hash-match. */
  def sq8Search(s: SparkSession, d: String): DataFrame = {
    val scored = sq8Codes(s, d).crossJoin(broadcast(sq8Qlut(s, d)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("codes"), col("w"),
          (c, w) => c.cast("double") * w), lit(0.0),
          (acc, x) => acc + x).as("adc"))
    val short = graft.functions.topk.perKey(scored,
      keys = Seq("query_id"),
      order = Seq(graft.functions.topk.Order("adc", ascending = false),
        graft.functions.topk.Order("vec_id")),
      k = SqShortK)
      .select("query_id", "vec_id")
    val rescored = short
      .join(DedupOps.embParallel(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      .join(broadcast(queriesDf(s, d)), "query_id")
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "vec_id", "cos")
    rankTopK(rescored, "vec_id")
  }

  private def sq8SearchSql: String = {
    val codesList = (0 until QDims).map(sqCodeSql)
      .mkString("list_value(", ", ", ")")
    val wList = (0 until QDims).map(i =>
      s"(${sqVSql(i)} * ((${sqMxSql(i)} - ${sqMnSql(i)}) / 255.0))")
      .mkString("list_value(", ", ", ")")
    val adc = "list_reduce(list_prepend(cast(0.0 as double), " +
      s"list_transform(range(1, ${QDims + 1}), " +
      "i -> cast(c.codes[i] as double) * q.w[i])), (acc, x) -> acc + x)"
    val cos = vector.sql.cosine("e.embedding", "q.q_emb")
    s"""WITH mm AS (SELECT $sqMmSqlCols FROM embeddings),
       |codes AS (SELECT vec_id, $codesList AS codes FROM embeddings, mm),
       |qlut AS (SELECT vec_id AS query_id, embedding AS q_emb, $wList AS w
       |         FROM embeddings, mm WHERE vec_id < $NQueries),
       |short AS (
       |  SELECT q.query_id, c.vec_id
       |  FROM codes c, qlut q
       |  WHERE c.vec_id <> q.query_id
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY $adc DESC, c.vec_id) <= $SqShortK)
       |SELECT s.query_id, s.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY s.query_id
       |       ORDER BY $cos DESC, s.vec_id) as int) AS rank,
       |  round($cos, 6) AS cosine
       |FROM short s
       |JOIN embeddings e ON s.vec_id = e.vec_id
       |JOIN qlut q ON s.query_id = q.query_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // ------------------------------------------------- binary signatures

  /** 64-bit sign signature: bit i set ⟺ embedding[i] > 0 — the
    * 1-bit-per-dim quantization (256 B float → 8 B). Bits assemble
    * by a fixed ascending-dim addition chain of shifted flags (bit
    * 63's constant is Long.MinValue — the chain adds it LAST, so
    * partial sums never overflow in either engine). */
  private def binSig(emb: Column): Column =
    (0 until QDims).map { i =>
      when(element_at(emb, i + 1) > 0f, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  private def binSigSql(emb: String): String =
    (0 until QDims).map { i =>
      // DuckDB's << is overflow-checked at bit 63 — spell the sign
      // bit's two's-complement constant out (Spark's shiftleft wraps)
      val bit =
        if (i == 63) "(-9223372036854775807 - 1)"
        else s"(CAST(1 AS BIGINT) << $i)"
      s"(CASE WHEN $emb[${i + 1}] > 0 THEN $bit ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Binary-signature ANN search — the extreme end of the
    * quantization spectrum this family walks (float32 exact → int8
    * SQ8 → 4 B PQ → 8 B sign bits): rank by HAMMING distance between
    * 64-bit sign signatures (one xor + popcount per candidate — the
    * cheapest possible scan, 8 B/vector), then exact re-rank of the
    * [[SqShortK]]-deep shortlist. The memoized signature relation is
    * what a binary index stores; recall@10 after the re-rank is
    * AnnSpec-measured against brute force (sign bits of
    * zero-centered dims retain direction information — the SimHash
    * estimator — so the shortlist finds most true neighbors at a
    * 32× storage discount). Hamming ties break by vec_id on both
    * engines. */
  private def binSigs(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "bin_sigs", d) {
      DedupOps.embParallel(s, d)
        .select(col("vec_id"), binSig(col("embedding")).as("sig"))
    }

  def binarySearch(s: SparkSession, d: String): DataFrame = {
    val sigs = binSigs(s, d)
    val qsigs = queriesDf(s, d)
      .select(col("query_id"), binSig(col("q_emb")).as("q_sig"))
    val scored = sigs.crossJoin(broadcast(qsigs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("bit_count(sig ^ q_sig)").cast("int").as("ham"))
    val short = graft.functions.topk.perKey(scored,
      keys = Seq("query_id"),
      order = Seq(graft.functions.topk.Order("ham"),
        graft.functions.topk.Order("vec_id")),
      k = SqShortK)
      .select("query_id", "vec_id")
    val rescored = short
      .join(DedupOps.embParallel(s, d).select(col("vec_id"), col("embedding")),
        "vec_id")
      .join(broadcast(queriesDf(s, d)), "query_id")
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "vec_id", "cos")
    rankTopK(rescored, "vec_id")
  }

  private def binarySearchSql: String = {
    val cos = vector.sql.cosine("e.embedding", "q.q_emb")
    s"""WITH sigs AS (
       |  SELECT vec_id, ${binSigSql("embedding")} AS sig FROM embeddings),
       |qsigs AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb,
       |    ${binSigSql("embedding")} AS q_sig
       |  FROM embeddings WHERE vec_id < $NQueries),
       |short AS (
       |  SELECT q.query_id, s.vec_id
       |  FROM sigs s, qsigs q
       |  WHERE s.vec_id <> q.query_id
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY bit_count(xor(s.sig, q.q_sig)), s.vec_id) <= $SqShortK)
       |SELECT s.query_id, s.vec_id AS neighbor_id,
       |  cast(row_number() OVER (PARTITION BY s.query_id
       |       ORDER BY $cos DESC, s.vec_id) as int) AS rank,
       |  round($cos, 6) AS cosine
       |FROM short s
       |JOIN embeddings e ON s.vec_id = e.vec_id
       |JOIN qsigs q ON s.query_id = q.query_id
       |QUALIFY rank <= $K""".stripMargin
  }

  // --------------------------------------------------- corpus k-means

  /** Corpus clustering as a first-class operator (diversity-aware
    * sampling / cluster-balanced curation / dataset-map summaries):
    * the SAME sampled-train coarse quantizer the IVF family memoizes
    * (√N cells, bounded training sample, value-sorted-fold means,
    * single full assignment pass) exposed as per-cluster summaries —
    * size plus centroid digests. Nothing new runs when ann_ivf /
    * ann_ivfpq already executed in-session: this reads the memoized
    * assignment. Empty cells don't appear (inner join on both
    * engines). */
  def kmeansClusters(s: SparkSession, d: String): DataFrame =
    annAssigned(s, d)
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(annCents(s, d)), "cell_id")
      .select(col("cell_id").cast("int").as("cluster_id"),
        col("n_vecs").cast("long").as("n_vecs"),
        round(element_at(col("c_emb"), 1).cast("double"), 6).as("c_head"),
        round(vector.norm(col("c_emb")), 6).as("c_norm"))

  // ------------------------------------------------- semantic dedup

  private val SemTau = 0.4
  private val SemCap = 256

  /** SemDeDup-style semantic deduplication: block by the SAME
    * memoized k-means cells the IVF family trains (√N cells, one
    * full assignment pass — nothing new runs when any ann_* query
    * already executed in-session), then compare only WITHIN a cell —
    * the published recipe for pruning semantic duplicates from
    * web-scale embedding corpora (cluster first so the pair problem
    * is per-cell, never corpus-quadratic). Complements
    * `dedup_embedding`, which blocks by hyperplane LSH: the LSH path
    * answers "which pairs are near", this one answers "which VECTORS
    * survive" — per vector, `dup_of` is the smallest-id cell-mate
    * with cosine ≥ τ (−1 ⇒ kept), so each semantic-dup group keeps
    * exactly its min-id representative and `SELECT … WHERE kept` IS
    * the pruned corpus.
    *
    * Scale shape: candidate pairs are capped per cell by the dedup
    * family's representative discipline (`bucketCandidates`, cap
    * {{SemCap}}) — a cell of B vectors costs O(B·cap), never O(B²);
    * embeddings re-attach through `embAttacher`'s size-adaptive
    * broadcast/shuffle_hash strategy, so the ids-only pair stream
    * never moves carrying the float payload. Chain approximation is
    * inherited from SemDeDup itself: b may dup to a removed vector
    * (documented; AnnSpec pins the invariants that DO hold). */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val assigned = annAssigned(s, d).select(col("vec_id"), col("cell_id"))
    val cand = DedupOps.bucketCandidates(
      assigned.select(col("cell_id"), col("vec_id")),
      Seq("cell_id"), "vec_id", SemCap)
      .select(col("cand_a").as("vec_a"), col("cand_b").as("vec_b"))
    val attach = DedupOps.embAttacher(annCorpus(s, d))
    val dupOf = cand
      .join(attach("vec_a", "ea"), "vec_a")
      .join(attach("vec_b", "eb"), "vec_b")
      .filter(vector.cosine(col("ea"), col("eb")) >= SemTau)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_raw"))
    assigned
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("cell_id").cast("int").as("cell_id"),
        coalesce(col("dup_raw"), lit(-1L)).as("dup_of"),
        col("dup_raw").isNull.as("kept"))
  }

  /** The SemDeDup verdict CTEs over the shared ivf chain's `asg` —
    * names PREFIXED `s` so the chain composes next to the minhash
    * mirror's own reps/cand in one WITH (dedup_cascade). */
  private[operators] def semanticDupCte: String =
    s"""sreps AS (
       |  SELECT cell_id, vec_id FROM asg
       |  QUALIFY row_number() OVER (PARTITION BY cell_id
       |    ORDER BY vec_id) <= $SemCap),
       |scand AS (
       |  SELECT DISTINCT r.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sreps r JOIN asg b USING (cell_id)
       |  WHERE r.vec_id < b.vec_id),
       |sdup AS MATERIALIZED (
       |  SELECT c.vec_b AS vec_id, min(c.vec_a) AS dup_raw
       |  FROM scand c
       |  JOIN asg ea ON c.vec_a = ea.vec_id
       |  JOIN asg eb ON c.vec_b = eb.vec_id
       |  WHERE ${sqlDot("ea.embedding", "eb.embedding")}
       |        / (ea.nrm * eb.nrm) >= $SemTau
       |  GROUP BY 1)""".stripMargin

  /** The whole semantic chain (ivf train/assign + verdict), for
    * mirrors OUTSIDE this file. */
  private[operators] def semanticChainCtes: String =
    ivfChainSql() + ",\n" + semanticDupCte

  /** Mirror: the shared ivf chain's corpus assignment, the dedup
    * family's rep-cap QUALIFY, exact cosine, min-id keeper. */
  private def semanticDedupSql: String =
    s"""WITH ${ivfChainSql()},
       |$semanticDupCte
       |SELECT a.vec_id, cast(a.cell_id as int) AS cell_id,
       |  coalesce(d.dup_raw, -1) AS dup_of,
       |  d.dup_raw IS NULL AS kept
       |FROM asg a LEFT JOIN sdup d USING (vec_id)""".stripMargin

  /** Mirror: the ivfSql training/assignment chain (same builders, so
    * the two mirrors cannot drift) aggregated per cell. */
  private def embKmeansSql: String =
    s"""WITH ${qhashCtes("hh")},
       |params AS (
       |  SELECT greatest(4, cast(floor(sqrt(count(*))) as bigint)) AS cells,
       |         count(*) AS n
       |  FROM embeddings),
       |train AS (
       |  SELECT hh.vec_id, hh.embedding, hh.h,
       |         ${vector.sql.norm("hh.embedding")} AS nrm
       |  FROM hh, params
       |  WHERE $TrainPerCell.0 * params.cells / params.n >= 1.0
       |     OR hh.h < cast(trunc($TrainPerCell.0 * params.cells / params.n
       |                          * 1000000007) as bigint)),
       |seed AS (
       |  SELECT cast(row_number() OVER (ORDER BY t.h, t.vec_id) - 1 as int) AS cell_id,
       |         t.embedding AS c_emb, t.nrm AS cnorm
       |  FROM train t, params p
       |  QUALIFY row_number() OVER (ORDER BY t.h, t.vec_id) <= p.cells),
       |${cAssignSql("train", "seed", "a1")},
       |${cMeansSql("a1", "cent1")},
       |${cAssignSql("train", "cent1", "a2")},
       |${cMeansSql("a2", "cent2")},
       |corpus AS (
       |  SELECT vec_id, embedding, ${vector.sql.norm("embedding")} AS nrm
       |  FROM embeddings),
       |${cAssignSql("corpus", "cent2", "asg")}
       |SELECT cast(s.cell_id as int) AS cluster_id,
       |  cast(count(*) as bigint) AS n_vecs,
       |  (round(cast(s.c_emb[1] as double), 6) + 0.0) AS c_head,
       |  round(${vector.sql.norm("s.c_emb")}, 6) AS c_norm
       |FROM asg a JOIN cent2 s USING (cell_id)
       |GROUP BY s.cell_id, s.c_emb""".stripMargin

  // ------------------------------------------------- kNN classifier

  private val ClsQueries = 50
  private val ClsK = 5

  /** kNN label propagation — the semi-supervised labeling step a
    * training-data pipeline uses to spread a small set of curated
    * quality/topic labels over an unlabeled corpus (the embedding-
    * space analog of a fastText quality classifier): each query
    * vector takes the majority label of its ClsK nearest neighbors
    * (cosine), tiebroken deterministically (votes desc, label asc).
    * This registered form scores against the exact brute-force
    * neighbors — the candidate set is the swap-in point for the LSH /
    * IVF shortlists above when N makes brute force infeasible (same
    * contract as ann_lsh vs ann_bruteforce). Both ranking stages run
    * through the bounded-heap top-k operator: no per-query sort, no
    * global window. */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    import graft.functions.topk
    val e = DedupOps.embParallel(s, d)
    val qs = Tables.embeddings(s, d).filter(col("vec_id") < ClsQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("true_label"))
    val scored = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "true_label", "vec_id", "label", "cos")
    val votes = topk.perKey(scored,
        keys = Seq("query_id"),
        order = Seq(topk.Order("cos", ascending = false), topk.Order("vec_id")),
        k = ClsK)
      .groupBy(col("query_id"), col("true_label"),
        col("label").as("pred_label"))
      .agg(count(lit(1)).as("votes"))
    topk.perKey(votes,
        keys = Seq("query_id"),
        order = Seq(topk.Order("votes", ascending = false),
          topk.Order("pred_label")),
        k = 1)
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"))
  }

  private def knnClassifySql = {
    val cos = vector.sql.cosine("e.embedding", "q.embedding")
    s"""WITH nn AS (
       |  SELECT q.vec_id AS query_id, q.label AS true_label,
       |         e.label AS pred_label
       |  FROM embeddings e, embeddings q
       |  WHERE q.vec_id < $ClsQueries AND e.vec_id <> q.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $cos DESC, e.vec_id) <= $ClsK),
       |v AS (
       |  SELECT query_id, true_label, pred_label, count(*) AS votes
       |  FROM nn GROUP BY 1, 2, 3)
       |SELECT query_id, true_label, pred_label, cast(votes as bigint) AS votes
       |FROM v
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY votes DESC, pred_label) = 1""".stripMargin
  }

  // --------------------------------------------- diversity sampling

  private val DiverseK = 3

  /** Cluster-balanced diversity sampling (the SemDeDup / DataComp
    * "spread the sample across embedding space" curation step): the
    * DiverseK lowest-hash vectors per k-means cell, over the SAME
    * memoized assignment emb_kmeans / the IVF family share — so a
    * diversity sample costs one bounded-heap top-k over an already-
    * materialized relation. Deterministic (quad-hash + vec_id
    * tiebreak), mirrored end-to-end. */
  def sampleDiverse(s: SparkSession, d: String): DataFrame =
    graft.functions.topk.perKey(
      annAssigned(s, d)
        .select(col("cell_id"), col("vec_id"), qhash(col("vec_id")).as("h")),
      keys = Seq("cell_id"),
      order = Seq(graft.functions.topk.Order("h"),
        graft.functions.topk.Order("vec_id")),
      k = DiverseK)
    .select(col("cell_id").cast("int").as("cluster_id"), col("vec_id"),
      col("h"), col("rank").cast("int").as("rank"))

  /** Mirror: the kmeans chain's `asg` re-joined with the hash CTE. */
  private def sampleDiverseSql: String =
    s"""WITH ${qhashCtes("hh")},
       |params AS (
       |  SELECT greatest(4, cast(floor(sqrt(count(*))) as bigint)) AS cells,
       |         count(*) AS n
       |  FROM embeddings),
       |train AS (
       |  SELECT hh.vec_id, hh.embedding, hh.h,
       |         ${vector.sql.norm("hh.embedding")} AS nrm
       |  FROM hh, params
       |  WHERE $TrainPerCell.0 * params.cells / params.n >= 1.0
       |     OR hh.h < cast(trunc($TrainPerCell.0 * params.cells / params.n
       |                          * 1000000007) as bigint)),
       |seed AS (
       |  SELECT cast(row_number() OVER (ORDER BY t.h, t.vec_id) - 1 as int) AS cell_id,
       |         t.embedding AS c_emb, t.nrm AS cnorm
       |  FROM train t, params p
       |  QUALIFY row_number() OVER (ORDER BY t.h, t.vec_id) <= p.cells),
       |${cAssignSql("train", "seed", "a1")},
       |${cMeansSql("a1", "cent1")},
       |${cAssignSql("train", "cent1", "a2")},
       |${cMeansSql("a2", "cent2")},
       |corpus AS (
       |  SELECT vec_id, embedding, ${vector.sql.norm("embedding")} AS nrm
       |  FROM embeddings),
       |${cAssignSql("corpus", "cent2", "asg")}
       |SELECT cast(a.cell_id as int) AS cluster_id, a.vec_id, hh.h,
       |  cast(row_number() OVER (PARTITION BY a.cell_id
       |       ORDER BY hh.h, a.vec_id) as int) AS rank
       |FROM asg a JOIN hh ON a.vec_id = hh.vec_id
       |QUALIFY rank <= $DiverseK""".stripMargin

  // -------------------------------------------------- dimension stats

  /** Per-dimension embedding distribution profile — the "is this
    * embedding space healthy" diagnostic read before quantization or
    * ANN index design: per dimension, count, bounds, mean and
    * variance (dead dimensions → variance ~0; scale imbalance →
    * widely varying ranges tells you int8 needs per-dim [min,max],
    * which is exactly what emb_int8_quantize uses). posexplode fans
    * (vec, dim, v) narrow map-side; values quantize to 1e-6 integers
    * so the sums (and the n·Σq²−(Σq)² variance numerator) are exact
    * integers under any partitioning — one partial/final aggregation
    * whose final state is |dims| rows at any corpus size, then two
    * IEEE divisions per dim. */
  def dimStats(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("q", round(col("v").cast("double") * 1e6).cast("long"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sq2"))
      .select(col("dim"), col("n"), col("min_v"), col("max_v"),
        round(col("sq").cast("double") / 1e6 / col("n"), 6).as("mean"),
        // n·Σq² and (Σq)² can exceed BIGINT: take the products in
        // DOUBLE — a fixed two-multiply/one-subtract IEEE sequence on
        // identical integer inputs, bit-identical in both engines
        round((col("sq2").cast("double") * col("n").cast("double")
            - col("sq").cast("double") * col("sq").cast("double"))
          / col("n").cast("double") / col("n").cast("double") / 1e12, 6)
          .as("variance"))
  }

  /** dim-stats CTE chain ending in `dstats(dim, n, min_v, max_v,
    * mean, variance)` — shared by emb_dim_stats and emb_standardize. */
  private val dimStatsCte =
    """x AS (
      |  SELECT d.dim AS dim, embedding[d.dim + 1] AS v,
      |    cast(round(cast(embedding[d.dim + 1] as double) * 1e6) as bigint) AS q
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS dim) d),
      |a AS (
      |  SELECT dim, cast(count(*) as bigint) AS n,
      |    min(v) AS min_v, max(v) AS max_v,
      |    cast(sum(q) as bigint) AS sq, cast(sum(q * q) as bigint) AS sq2
      |  FROM x GROUP BY 1),
      |dstats AS (
      |  SELECT cast(dim as int) AS dim, n, min_v, max_v,
      |    (round(cast(sq as double) / 1e6 / n, 6) + 0.0) AS mean,
      |    (round((cast(sq2 as double) * cast(n as double)
      |        - cast(sq as double) * cast(sq as double))
      |      / cast(n as double) / cast(n as double) / 1e12, 6) + 0.0) AS variance
      |  FROM a)""".stripMargin

  private val dimStatsSql =
    s"""WITH $dimStatsCte
       |SELECT * FROM dstats""".stripMargin

  // ---------------------------------------------------- covariance

  /** Upper-triangle covariance matrix of the embedding space — the
    * one-pass distributed Gram computation PCA / whitening / ZCA
    * start from (AnnSpec power-iterates the collected matrix to the
    * dominant principal component). Values quantize to 1e-6 integers
    * (dimStats' discipline) so every Σqᵢqⱼ is an exact integer under
    * any partitioning; the covariance assembles from those integers
    * in a fixed IEEE sequence, bit-identical in both engines. Scale
    * shape: the d² pair products are generated INSIDE one narrow
    * projection (nested array transform — no self-join, no second
    * scan), and partial aggregation bounds the exchange at d(d+1)/2
    * rows per partition regardless of corpus size; per-dim sums ride
    * the same pass and broadcast back. At 10⁹ vectors the integer
    * Σqq (≤ n·10¹²) nears BIGINT range — the scale path drops
    * quantization to 1e-4 (q ≤ 10⁴, q² ≤ 10⁸, exact to n ~ 10¹⁰). */
  def covariance(s: SparkSession, d: String): DataFrame =
    covarianceBase(s, d)
      .select(col("i"), col("j"), col("n"), col("sqq"),
        round(covExpr, 6).as("cov"))

  /** The covariance feeding the pca power iteration — floor-quantized
    * (floor(x·1e6)/1e6) instead of round()ed: floor of the identical
    * IEEE expression is bit-identical across engines UNCONDITIONALLY,
    * where decimal round() can differ on a knife-edge tie (Spark
    * rounds the exact decimal expansion via BigDecimal; DuckDB rounds
    * through a float multiply). A tie in the PUBLISHED matrix flips
    * one displayed cell; a tie in THIS matrix would desync the whole
    * eigenvector — so the decision path gets the tie-free quantizer
    * and the published view keeps the friendlier round. */
  private def covarianceQ(s: SparkSession, d: String): DataFrame =
    covarianceBase(s, d)
      .select(col("i"), col("j"), (floor(covExpr * 1e6) / 1e6).as("cov"))

  /** (sqq·n − si·sj)/n²/1e12 in the fixed IEEE sequence both engines
    * share — the ONE covariance formula, consumed by both views. */
  private def covExpr =
    (col("sqq").cast("double") * col("n").cast("double")
      - col("si").cast("double") * col("sj").cast("double")) /
      col("n").cast("double") / col("n").cast("double") / 1e12

  /** Memoized: the 2080-row aggregated Gram base is shared by the
    * published covariance view AND the pca power iteration — without
    * the memo each re-ran the 64·65/2-pairs-per-vector explode over
    * the full corpus (the FLOP-heavy pass; the two consumers differ
    * only in post-aggregation quantization). */
  private def covarianceBase(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "cov_base", d)(covarianceBaseBuild(s, d))

  private[graft] def covarianceBaseBuild(s: SparkSession, d: String): DataFrame = {
    // r14 (guide §1.2; VERDICT item 6): ALL the integer sums — the
    // d(d+1)/2 upper-triangle pair products, the d linear sums, the
    // row count — fold in ONE zero-allocation fixed-width aggregate
    // (graft.plans.GramAgg) instead of a per-row named_struct
    // flatten/filter + posexplode into d²/2·|corpus| rows + hash agg
    // (measured ~21 s solo at sf10; the sums are bit-identical
    // integers either way). The 2080-cell output assembles from the
    // one aggregate row against a tiny local (pos, i, j) index map.
    val dim = 64
    val nPairs = dim * (dim + 1) / 2
    val e = DedupOps.embParallel(s, d)
    val q = e.select(
      expr("transform(embedding, v -> cast(round(cast(v as double) * 1e6) as bigint))")
        .as("q"))
    val g1 = q.agg(graft.functions.sketch.gramSums(col("q"), dim).as("g"))
    val idx = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    import s.implicits._
    val pos = idx.zipWithIndex
      .map { case ((i, j), p) => (p, i, j) }.toDF("pos", "i", "j")
    // n·Σqq and Σqi·Σqj can exceed BIGINT: covExpr combines them in
    // DOUBLE — a fixed multiply/subtract/divide sequence on identical
    // integer inputs (same as emb_dim_stats' variance)
    pos.crossJoin(broadcast(g1))
      .select(col("i"), col("j"),
        element_at(col("g"), nPairs + dim + 1).as("n"),
        element_at(col("g"), col("pos") + 1).as("sqq"),
        element_at(col("g"), col("i") + nPairs + 1).as("si"),
        element_at(col("g"), col("j") + nPairs + 1).as("sj"))
  }

  /** Covariance CTE chain ending in `covm(i, j, n, sqq, cov)` (the
    * published round()ed view) and `covq(i, j, cov)` (the
    * floor-quantized view the pca power iteration consumes — see
    * [[covarianceQ]] for why the decision path must not round). */
  private val covarianceCte =
    """q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> cast(round(cast(v as double) * 1e6) as bigint)) AS q
      |  FROM embeddings),
      |x AS (
      |  SELECT i.i AS i, j.j AS j, q[i.i + 1] * q[j.j + 1] AS p
      |  FROM q,
      |    (SELECT unnest(range(0, 64)) AS i) i,
      |    (SELECT unnest(range(0, 64)) AS j) j
      |  WHERE i.i <= j.j),
      |g AS (
      |  SELECT i, j, cast(count(*) as bigint) AS n,
      |    cast(sum(p) as bigint) AS sqq
      |  FROM x GROUP BY 1, 2),
      |ds AS (
      |  SELECT d.dim AS dim,
      |    cast(sum(q[d.dim + 1]) as bigint) AS sq
      |  FROM q, (SELECT unnest(range(0, 64)) AS dim) d
      |  GROUP BY 1),
      |covm AS (
      |  SELECT cast(g.i as int) AS i, cast(g.j as int) AS j, g.n, g.sqq,
      |    -- + 0.0 normalizes IEEE -0.0 → +0.0: DuckDB's round() keeps the
      |    -- sign of a tiny negative (-1e-9 → -0.0) where Spark's
      |    -- BigDecimal-based round yields +0.0 — without it one
      |    -- knife-edge cell hash-mismatches (bit at sf0.01: cell (5,9))
      |    (round((cast(g.sqq as double) * cast(g.n as double)
      |        - cast(si.sq as double) * cast(sj.sq as double))
      |      / cast(g.n as double) / cast(g.n as double) / 1e12, 6) + 0.0) AS cov
      |  FROM g
      |  JOIN ds si ON g.i = si.dim
      |  JOIN ds sj ON g.j = sj.dim),
      |covq AS (
      |  SELECT cast(g.i as int) AS i, cast(g.j as int) AS j,
      |    floor((cast(g.sqq as double) * cast(g.n as double)
      |        - cast(si.sq as double) * cast(sj.sq as double))
      |      / cast(g.n as double) / cast(g.n as double) / 1e12 * 1e6) / 1e6
      |      AS cov
      |  FROM g
      |  JOIN ds si ON g.i = si.dim
      |  JOIN ds sj ON g.j = sj.dim)""".stripMargin

  private val covarianceSql =
    s"""WITH $covarianceCte
       |SELECT * FROM covm""".stripMargin

  // --------------------------------------------------- standardize

  /** Per-dimension z-scoring of the embedding space — the whitening-
    * lite preprocessing step (subtract dim mean, divide by dim std)
    * that equalizes dimension scales before distance computations or
    * quantization; dead dimensions (variance 0) map to 0 rather than
    * NaN. Completes the embedding-prep family: emb_normalize (L2),
    * emb_int8_quantize (compression), emb_standardize (scale
    * equalization). Plan shape: the 64 (mean, variance) pairs
    * aggregate to ONE row of two dim-ordered arrays that broadcast-
    * crossJoins back over the scan, and the z-transform is a nested
    * zip_with — fully lazy, ZERO shuffles on the corpus side at any
    * scale (the only exchange is the |dims|-bounded stats agg).
    * Stats come from emb_dim_stats' 6-dp-rounded outputs, so both
    * engines transform with bit-identical constants.
    *
    * [[standardizeVectors]] is the full-array API; the ORACLED
    * [[standardize]] publishes per-vector scalar digests (head,
    * sequential-fold sum, min, max) like emb_normalize does — the
    * driver's row-sort+hash compare cannot canonicalize array cells
    * (round 5: it crashed on z_vec, leaving the query unverified). */
  def standardizeVectors(s: SparkSession, d: String): DataFrame = {
    val statsRow = dimStats(s, d)
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mean))), x -> x.mean)")
          .as("means"),
        expr("transform(array_sort(collect_list(struct(dim, variance))), x -> x.variance)")
          .as("vars"))
    DedupOps.embParallel(s, d)
      .crossJoin(broadcast(statsRow))
      .select(col("vec_id"),
        expr(
          """zip_with(
            |  zip_with(embedding, means, (v, m) -> cast(v as double) - m),
            |  vars,
            |  (x, vr) -> CASE WHEN vr > 0 THEN round(x / sqrt(vr), 6)
            |             ELSE cast(0 as double) END)""".stripMargin).as("z_vec"))
  }

  /** Oracled digest view of [[standardizeVectors]]: one row per
    * vector, scalar columns only (driver-hashable contract). */
  def standardize(s: SparkSession, d: String): DataFrame =
    standardizeVectors(s, d).select(
      col("vec_id"),
      element_at(col("z_vec"), 1).as("z_head"),
      round(aggregate(col("z_vec"), lit(0.0), (acc, v) => acc + v), 6)
        .as("z_sum"),
      array_min(col("z_vec")).as("z_min"),
      array_max(col("z_vec")).as("z_max"))

  private val standardizeSql =
    s"""WITH $dimStatsCte,
       |m AS (
       |  SELECT list(mean ORDER BY dim) AS means,
       |    list(variance ORDER BY dim) AS vars
       |  FROM dstats),
       |z AS (
       |  SELECT e.vec_id,
       |    list_transform(range(1, 65),
       |      i -> CASE WHEN m.vars[i] > 0
       |           THEN round((cast(e.embedding[i] as double) - m.means[i])
       |             / sqrt(m.vars[i]), 6) + 0.0
       |           ELSE cast(0 as double) END) AS z_vec
       |  FROM embeddings e, m)
       |SELECT vec_id,
       |  z_vec[1] AS z_head,
       |  (round(list_reduce(list_prepend(cast(0.0 as double), z_vec),
       |        (acc, v) -> acc + v), 6) + 0.0) AS z_sum,
       |  list_aggregate(z_vec, 'min') AS z_min,
       |  list_aggregate(z_vec, 'max') AS z_max
       |FROM z""".stripMargin

  // ----------------------------------------------------------- pca

  private val PcaDim = 64
  private val PcaIters = 10

  /** Dominant principal component of the embedding space — PCA's
    * first axis, the projection a curation pipeline reads for
    * embedding-space drift and as the cheapest 1-d "semantic
    * coordinate". Computed the way a 100 TB pipeline must: the d×d
    * covariance is DISTRIBUTED (emb_covariance's exact-integer pass;
    * exchange bounded by d², not corpus size), the O(T·d²) power
    * iteration runs on the collected 64×64 matrix at the driver —
    * 40k flops of bounded state — and the resulting unit vector
    * broadcasts back for a narrow zip_with projection over the scan.
    * Cross-engine determinism: both engines iterate from the exact
    * binary value 1/8·𝟙 over the SAME floor-quantized covariance
    * entries (covarianceQ — tie-free, unlike decimal round()), with
    * every accumulation a left-fold in ascending index
    * order — the identical IEEE op sequence (÷, ×, +, sqrt are all
    * correctly-rounded), so v and λ match bit-for-bit without any
    * intermediate quantization; the sign is pinned by negating when
    * v₁ < 0. 10 iterations is part of the operator CONTRACT (both
    * engines run exactly 10), not a convergence heuristic — AnnSpec
    * checks the eigenpair against an exact driver-side recount. */
  def pca(s: SparkSession, d: String): DataFrame = {
    val m = Array.ofDim[Double](PcaDim, PcaDim)
    covarianceQ(s, d).select("i", "j", "cov").collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    val (v, lambda) = powerIterate(m)
    val vLit = array(v.map(lit).toIndexedSeq: _*)
    Tables.embeddings(s, d).select(col("vec_id"),
      round(aggregate(
        zip_with(col("embedding"), vLit, (e, c) => e.cast("double") * c),
        lit(0.0), (acc, x) => acc + x), 6).as("pc1"),
      round(lit(lambda), 6).as("eigval"))
  }

  /** The shared driver-side iteration — also the spec's recount
    * path. Every loop accumulates in ascending index order to mirror
    * the oracle's list_reduce left-folds exactly. */
  private[graft] def powerIterate(
      m: Array[Array[Double]]): (Array[Double], Double) = {
    def matVec(v: Array[Double]): Array[Double] = {
      val w = Array.ofDim[Double](PcaDim)
      var i = 0
      while (i < PcaDim) {
        var acc = 0.0
        var j = 0
        while (j < PcaDim) { acc = acc + m(i)(j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      w
    }
    var v = Array.fill(PcaDim)(0.125)
    var t = 0
    while (t < PcaIters) {
      val w = matVec(v)
      var nrm2 = 0.0
      var i = 0
      while (i < PcaDim) { nrm2 = nrm2 + w(i) * w(i); i += 1 }
      val nrm = math.sqrt(nrm2)
      v = if (nrm > 0) w.map(_ / nrm) else w
      t += 1
    }
    if (v(0) < 0) v = v.map(x => -x)
    val w = matVec(v)
    var lambda = 0.0
    var i = 0
    while (i < PcaDim) { lambda = lambda + v(i) * w(i); i += 1 }
    (v, lambda)
  }

  private def pcaSql: String = {
    val matVec =
      """list_transform(range(1, 65),
        |      i -> list_reduce(list_prepend(cast(0.0 as double),
        |        list_transform(range(1, 65), j -> mat[i][j] * v[j])),
        |        (a, x) -> a + x))""".stripMargin
    val steps = (1 to PcaIters).map { k =>
      s"""v$k AS (
         |  SELECT CASE WHEN nrm > 0
         |    THEN list_transform(w, x -> x / nrm) ELSE w END AS v
         |  FROM (
         |    SELECT w, sqrt(list_reduce(list_prepend(cast(0.0 as double),
         |      list_transform(w, x -> x * x)), (a, x) -> a + x)) AS nrm
         |    FROM (SELECT $matVec AS w FROM m, v${k - 1})))""".stripMargin
    }.mkString(",\n")
    s"""WITH $covarianceCte,
       |full_m AS (
       |  SELECT i, j, cov FROM covq
       |  UNION ALL
       |  SELECT j AS i, i AS j, cov FROM covq WHERE i < j),
       |rows_m AS (SELECT i, list(cov ORDER BY j) AS r FROM full_m GROUP BY i),
       |m AS (SELECT list(r ORDER BY i) AS mat FROM rows_m),
       |v0 AS (SELECT list_transform(range(1, 65),
       |  x -> cast(0.125 as double)) AS v),
       |$steps,
       |vf AS (
       |  SELECT CASE WHEN v[1] < 0 THEN list_transform(v, x -> -x)
       |         ELSE v END AS v
       |  FROM v$PcaIters),
       |lam AS (
       |  SELECT v, round(list_reduce(list_prepend(cast(0.0 as double),
       |      list_transform(range(1, 65), i -> v[i] * w[i])),
       |      (a, x) -> a + x), 6) AS eigval
       |  FROM (SELECT v, $matVec AS w FROM m, vf))
       |SELECT e.vec_id,
       |  (round(list_reduce(list_prepend(cast(0.0 as double),
       |    list_transform(range(1, 65),
       |      i -> cast(e.embedding[i] as double) * l.v[i])),
       |    (a, x) -> a + x), 6) + 0.0) AS pc1,
       |  l.eigval
       |FROM embeddings e, lam l""".stripMargin
  }

  // ------------------------------------------------------ cell stats

  /** IVF index-balance report — the one-row diagnostic read after
    * building the coarse quantizer (a skewed cell-size distribution
    * means probe cost is unpredictable and the k-means needs more
    * sample or different seeding). All integer counting over the
    * memoized assignment; imbalance = max/avg in exact ppm. */
  def cellStats(s: SparkSession, d: String): DataFrame =
    annAssigned(s, d).groupBy(col("cell_id")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_cells"), sum(col("sz")).as("n_vecs"),
        min(col("sz")).as("min_sz"), max(col("sz")).as("max_sz"))
      .select(col("n_cells"), col("n_vecs"), col("min_sz"), col("max_sz"),
        expr("n_vecs * 100 div n_cells").as("avg_sz_x100"),
        expr("max_sz * n_cells * 1000000 div n_vecs").as("imbalance_ppm"))

  private def cellStatsSql: String =
    s"""WITH ${ivfChainSql()},
       |cells AS (
       |  SELECT cell_id, cast(count(*) as bigint) AS sz
       |  FROM asg GROUP BY 1)
       |SELECT cast(count(*) as bigint) AS n_cells,
       |  cast(sum(sz) as bigint) AS n_vecs,
       |  cast(min(sz) as bigint) AS min_sz,
       |  cast(max(sz) as bigint) AS max_sz,
       |  cast(sum(sz) * 100 // count(*) as bigint) AS avg_sz_x100,
       |  cast(max(sz) * count(*) * 1000000 // sum(sz) as bigint)
       |    AS imbalance_ppm
       |FROM cells""".stripMargin

  // ------------------------------------------------------- clipping

  /** Per-dimension 3σ clipping report — the "how much tail mass would
    * value clipping remove" preprocessing decision (winsorization for
    * vectors, run before int8 quantization so a single wild
    * coordinate doesn't stretch a dimension's [min,max] range).
    * Bounds are RAW IEEE assemblies of exact integer sums (mean ±
    * 3σ, no rounding — bit-identical cross-engine), published via the
    * floor discipline; the clip decisions compare raw doubles.
    * Scale shape: two bounded |dims| exchanges with the 64-row bound
    * table broadcast back over the second narrow pass. */
  def clipStats(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val dims = e.select(posexplode(col("embedding")).as(Seq("dim", "v")))
    val bounds = dims
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("v").cast("double") * 1e6).cast("long")).as("sq"),
        sum(round(col("v").cast("double") * 1e6).cast("long")
          * round(col("v").cast("double") * 1e6).cast("long")).as("sq2"))
      .select(col("dim"), col("n"),
        (col("sq").cast("double") / 1e6 / col("n")
          - lit(3.0) * sqrt(
            (col("sq2").cast("double") * col("n").cast("double")
              - col("sq").cast("double") * col("sq").cast("double"))
            / col("n").cast("double") / col("n").cast("double") / 1e12))
          .as("lo_raw"),
        (col("sq").cast("double") / 1e6 / col("n")
          + lit(3.0) * sqrt(
            (col("sq2").cast("double") * col("n").cast("double")
              - col("sq").cast("double") * col("sq").cast("double"))
            / col("n").cast("double") / col("n").cast("double") / 1e12))
          .as("hi_raw"))
    dims.join(broadcast(bounds), "dim")
      .groupBy(col("dim"))
      .agg(max(col("n")).as("n"),
        sum(when(col("v").cast("double") < col("lo_raw"), 1L).otherwise(0L))
          .as("lo_clip"),
        sum(when(col("v").cast("double") > col("hi_raw"), 1L).otherwise(0L))
          .as("hi_clip"),
        (floor(max(col("lo_raw")) * 1e6).cast("double") / 1e6).as("lo_bound"),
        (floor(max(col("hi_raw")) * 1e6).cast("double") / 1e6).as("hi_bound"))
      .select(col("dim"), col("n"), col("lo_clip"), col("hi_clip"),
        col("lo_bound"), col("hi_bound"))
  }

  private val clipStatsSql =
    """WITH d AS (
      |  SELECT dd.dim AS dim, embedding[dd.dim + 1] AS v
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS dim) dd),
      |a AS (
      |  SELECT dim, cast(count(*) as bigint) AS n,
      |    cast(sum(cast(round(cast(v as double) * 1e6) as bigint))
      |      as bigint) AS sq,
      |    cast(sum(cast(round(cast(v as double) * 1e6) as bigint)
      |           * cast(round(cast(v as double) * 1e6) as bigint))
      |      as bigint) AS sq2
      |  FROM d GROUP BY 1),
      |b AS (
      |  SELECT dim, n,
      |    cast(sq as double) / 1e6 / n
      |      - 3.0 * sqrt((cast(sq2 as double) * cast(n as double)
      |          - cast(sq as double) * cast(sq as double))
      |        / cast(n as double) / cast(n as double) / 1e12) AS lo_raw,
      |    cast(sq as double) / 1e6 / n
      |      + 3.0 * sqrt((cast(sq2 as double) * cast(n as double)
      |          - cast(sq as double) * cast(sq as double))
      |        / cast(n as double) / cast(n as double) / 1e12) AS hi_raw
      |  FROM a)
      |SELECT cast(d.dim as int) AS dim, b.n,
      |  cast(sum(CASE WHEN cast(d.v as double) < b.lo_raw
      |           THEN 1 ELSE 0 END) as bigint) AS lo_clip,
      |  cast(sum(CASE WHEN cast(d.v as double) > b.hi_raw
      |           THEN 1 ELSE 0 END) as bigint) AS hi_clip,
      |  cast(floor(max(b.lo_raw) * 1e6) as double) / 1e6 AS lo_bound,
      |  cast(floor(max(b.hi_raw) * 1e6) as double) / 1e6 AS hi_bound
      |FROM d JOIN b USING (dim)
      |GROUP BY d.dim, b.n""".stripMargin

  // -------------------------------------------------- hard negatives

  /** Hard-negative mining: for each query vector, the most similar
    * corpus vectors with a DIFFERENT label — the contrastive-training
    * staple (a good negative is nearly-positive). Same scale shape as
    * brute force (broadcast query block, one corpus pass, bounded-heap
    * top-k) with a label-mismatch predicate fused into the scan; at
    * production scale the candidate pass swaps to the IVF probe chain
    * unchanged, because the ranking contract is identical. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("q_label"))
      .withColumn("cos", vector.cosine(col("embedding"), col("q_emb")))
      .select("query_id", "q_label", "vec_id", "label", "cos")
    graft.functions.topk.perKey(scored,
      keys = Seq("query_id"),
      order = Seq(graft.functions.topk.Order("cos", ascending = false),
        graft.functions.topk.Order("vec_id")),
      k = K)
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("negative_id"), col("label").as("neg_label"),
        col("rank"), round(col("cos"), 6).as("cosine"))
  }

  private val hardNegativesSql = {
    val cos = vector.sql.cosine("e.embedding", "q.embedding")
    s"""SELECT q.vec_id AS query_id, q.label AS q_label,
       |  e.vec_id AS negative_id, e.label AS neg_label,
       |  cast(row_number() OVER (PARTITION BY q.vec_id
       |       ORDER BY $cos DESC, e.vec_id) as int) AS rank,
       |  round($cos, 6) AS cosine
       |FROM embeddings e, embeddings q
       |WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id
       |  AND e.label <> q.label
       |QUALIFY rank <= $K""".stripMargin
  }

  // ------------------------------------------------------- outliers

  /** Distance-to-centroid outlier detection: flag vectors more than
    * 2σ farther from their label centroid than typical — the "mislabeled
    * or corrupted embedding" screen run before training on labeled
    * vectors. Determinism discipline: centroids come from exact
    * integer dim-sums (1e-6 quantization, 6-dp rounding), each
    * distance is a fixed ascending-dim left-fold + sqrt, the
    * per-label statistics run on floor-quantized integer distances,
    * and the flag compares the RAW doubles — no rounding in any
    * decision path (see the floor note at the dist relation).
    * Scale shape: two bounded exchanges
    * (|labels|×dims, then |labels|), two broadcasts back over narrow
    * maps — the corpus never shuffles. */
  def outliers(s: SparkSession, d: String): DataFrame = {
    val e = DedupOps.embParallel(s, d)
    val means = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("v").cast("double") * 1e6).cast("long")).as("sq"))
      // NO round on the mean: sq and n are exact integers, so the raw
      // quotient is already bit-identical cross-engine — a 6-dp round
      // here would re-introduce the decimal-string tie hazard the
      // floor discipline below exists to avoid
      .withColumn("m", col("sq").cast("double") / 1e6 / col("n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("label"), expr("transform(dm, x -> x.m)").as("mean_vec"))
    // raw distances are bit-identical across engines (fixed-order
    // fold); published values go through floor(x·1e6), NOT round —
    // Spark's round() reads the double's shortest DECIMAL repr
    // (BigDecimal) while DuckDB rounds the BINARY value, so a
    // shortest-repr 6-dp tie rounds apart (bit one sf0.1 row);
    // floor of the same double is engine-independent. The flag
    // compares the RAW doubles — no rounding in any decision path.
    val dist = e.join(broadcast(means), "label")
      .select(col("vec_id"), col("label"),
        sqrt(aggregate(
          zip_with(col("embedding"), col("mean_vec"),
            (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
          lit(0.0), (a, x) => a + x)).as("raw"))
      .withColumn("dq", floor(col("raw") * 1e6).cast("long"))
    val thresh = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("dq")).as("sd"),
        sum(col("dq") * col("dq")).as("sd2"))
      .select(col("label"),
        (col("sd").cast("double") / col("n").cast("double") / 1e6
          + lit(2.0) * sqrt(
            (col("sd2").cast("double") * col("n").cast("double")
              - col("sd").cast("double") * col("sd").cast("double"))
            / col("n").cast("double") / col("n").cast("double") / 1e12))
          .as("traw"))
    dist.join(broadcast(thresh), "label")
      .select(col("vec_id"), col("label"),
        (col("dq").cast("double") / 1e6).as("dist"),
        (floor(col("traw") * 1e6).cast("double") / 1e6).as("thresh"),
        (col("raw") > col("traw")).as("is_outlier"))
  }

  private val outliersSql =
    """WITH d AS (
      |  SELECT label, dd.dim AS dim, embedding[dd.dim + 1] AS v
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS dim) dd),
      |a AS (
      |  SELECT label, dim, cast(count(*) as bigint) AS n,
      |    cast(sum(cast(round(cast(v as double) * 1e6) as bigint)) as bigint)
      |      AS sq
      |  FROM d GROUP BY 1, 2),
      |mv AS (
      |  SELECT label,
      |    list(cast(sq as double) / 1e6 / n ORDER BY dim) AS mean_vec
      |  FROM a GROUP BY 1),
      |dist AS (
      |  SELECT e.vec_id, e.label,
      |    sqrt(list_reduce(list_prepend(cast(0.0 as double),
      |      list_transform(range(1, 65),
      |        i -> (cast(e.embedding[i] as double) - mv.mean_vec[i])
      |           * (cast(e.embedding[i] as double) - mv.mean_vec[i]))),
      |      (acc, x) -> acc + x)) AS raw
      |  FROM embeddings e JOIN mv USING (label)),
      |dq AS (SELECT vec_id, label, raw,
      |         cast(floor(raw * 1e6) as bigint) AS dq
      |       FROM dist),
      |th AS (
      |  SELECT label,
      |    cast(sum(dq) as double) / cast(count(*) as double) / 1e6
      |      + 2.0 * sqrt(
      |        (cast(sum(dq * dq) as double) * cast(count(*) as double)
      |          - cast(sum(dq) as double) * cast(sum(dq) as double))
      |        / cast(count(*) as double) / cast(count(*) as double) / 1e12)
      |      AS traw
      |  FROM dq GROUP BY 1)
      |SELECT dq.vec_id, dq.label,
      |  cast(dq.dq as double) / 1e6 AS dist,
      |  cast(floor(th.traw * 1e6) as double) / 1e6 AS thresh,
      |  dq.raw > th.traw AS is_outlier
      |FROM dq JOIN th USING (label)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_cell_stats" -> (cellStats _),
    "emb_clip" -> (clipStats _),
    "ann_hard_negatives" -> (hardNegatives _),
    "emb_outliers" -> (outliers _),
    "emb_pca" -> (pca _),
    "emb_standardize" -> (standardize _),
    "emb_covariance" -> (covariance _),
    "emb_dim_stats" -> (dimStats _),
    "ann_bruteforce" -> (bruteForce _),
    "ann_lsh" -> (lsh _),
    "emb_mips" -> (mips _),
    "ann_ivf" -> (ivf _),
    "ann_pq" -> (pq _),
    "ann_ivfpq" -> (ivfpq _),
    "ann_knn_join" -> (knnJoin _),
    "emb_centroid_label" -> (centroidPerLabel _),
    "emb_normalize" -> (normalizeEmbeddings _),
    "emb_int8_quantize" -> (int8Quantize _),
    "emb_kmeans" -> (kmeansClusters _),
    "emb_knn_classify" -> (knnClassify _),
    "sample_diverse" -> (sampleDiverse _),
    "ann_range_search" -> (rangeSearch _),
    "ann_recall_eval" -> (recallEval _),
    "ann_probe_curve" -> (probeCurve _),
    "ann_filtered" -> (filteredSearch _),
    "ann_sq8" -> (sq8Search _),
    "ann_binary" -> (binarySearch _),
    "dedup_semantic" -> (semanticDedup _),
    "emb_matryoshka" -> (matryoshkaEval _))

  val oracle: Map[String, String] = Map(
    "ann_cell_stats" -> cellStatsSql,
    "emb_clip" -> clipStatsSql,
    "ann_hard_negatives" -> hardNegativesSql,
    "emb_outliers" -> outliersSql,
    "emb_pca" -> pcaSql,
    "emb_standardize" -> standardizeSql,
    "emb_covariance" -> covarianceSql,
    "emb_dim_stats" -> dimStatsSql,
    "ann_bruteforce" -> bruteForceSql,
    "ann_lsh" -> lshSql,
    "emb_mips" -> mipsSql,
    "ann_ivf" -> ivfSql,
    "ann_probe_curve" -> probeCurveSql,
    "ann_pq" -> pqSql,
    "ann_ivfpq" -> ivfpqSql,
    "ann_knn_join" -> knnJoinSql,
    "emb_centroid_label" -> centroidPerLabelSql,
    "emb_normalize" -> normalizeEmbeddingsSql,
    "emb_int8_quantize" -> int8QuantizeSql,
    "emb_kmeans" -> embKmeansSql,
    "emb_knn_classify" -> knnClassifySql,
    "sample_diverse" -> sampleDiverseSql,
    "ann_range_search" -> rangeSearchSql,
    "ann_recall_eval" -> recallEvalSql,
    "ann_filtered" -> filteredSearchSql,
    "ann_sq8" -> sq8SearchSql,
    "ann_binary" -> binarySearchSql,
    "dedup_semantic" -> semanticDedupSql,
    "emb_matryoshka" -> matryoshkaEvalSql)
}

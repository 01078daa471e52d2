package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.B extension — iterative graph analytics over the star schema.
  *
  * The reference's warehouse (README SQL over a telemetry time
  * series) has no graph surface, but a 100 TB commerce warehouse
  * derives entity-importance signals from the order graph; PageRank
  * over the customer↔supplier bipartite graph is the canonical
  * shape (same loop skeleton as `dedup_clusters`' label
  * propagation: per-iteration join + aggregate, lineage cut between
  * rounds).
  *
  * Determinism contract: ranks are BIGINT NANORANKS (units of 1e-9).
  * Every iteration is integer-only — contribution = rank div degree,
  * damping = (85·sum) div 100 — so sums are exact under ANY
  * partitioning and the DuckDB mirror reproduces every iteration
  * bit-for-bit (no float accumulation order anywhere). The dust lost
  * to integer division is deterministic and identical in both
  * engines.
  */
object GraphOps {

  private val Iterations = 3

  /** ONE okey-partitioned DISTINCT (okey, suppkey) projection of
    * lineitem — the shared base of BOTH fact-fact graph fills (r14,
    * guide §2.4 "two operations keyed the same way share one
    * exchange"): [[assocEdges]] self-joins it on okey and
    * [[bipartitePairs]] attaches orders on okey, so the single
    * repartition here is the only shuffle of the fact table either
    * build pays. The explicit `repartition(okey)` (not the distinct's
    * implicit hash(okey, sk) exchange) is what makes that true:
    * HashPartitioning(okey) satisfies the dedup aggregate's
    * ClusteredDistribution(okey, sk) and matches the join keys
    * downstream — previously the distinct exchanged on (okey, sk) and every
    * consumer re-exchanged by okey (2 extra full-relation shuffles at
    * sf10), while bipartite_pairs shuffled raw lineitem separately. */
  private[graft] def orderSuppsRaw(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("sk"))
      .repartition(col("okey"))
      .dropDuplicates("okey", "sk")

  private[graft] def orderSupps(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "order_supps", d)(orderSuppsRaw(s, d))

  /** DISTINCT customer↔supplier co-occurrence pairs through
    * orders⋈lineitem (node ids: 2·custkey / 2·suppkey+1 — disjoint
    * integer spaces) — the bipartite graph model shared by PageRank
    * and BFS. Memoized so the one fact-fact shuffle builds once per
    * dataset per process; both consumers previously rebuilt it
    * independently. The lineitem side is the shared [[orderSupps]]
    * projection (value-identical: duplicate (okey, sk) rows collapse
    * in the (cust, supp) distinct anyway), already partitioned by the
    * join key — only the orders side shuffles here. */
  private[graft] def bipartitePairsRaw(s: SparkSession, d: String): DataFrame =
    orderSupps(s, d)
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("okey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cust_node"),
        (col("sk") * 2 + 1).as("supp_node"))
      .distinct()

  private[graft] def bipartitePairs(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "bipartite_pairs", d)(bipartitePairsRaw(s, d))

  /** Customer↔supplier PageRank (3 unrolled iterations).
    *
    * Edges: DISTINCT (customer, supplier) pairs observed through
    * orders⋈lineitem, both directions (node ids: 2·custkey for
    * customers, 2·suppkey+1 for suppliers — disjoint integer spaces,
    * no string keys in the shuffle). Per iteration: one join of the
    * rank vector to the (src, dst, deg) edge list + one integer-sum
    * aggregation on dst — the textbook distributed PageRank step.
    * At 100 TB: edge list partitions by src, rank vector is
    * |nodes| ≪ |edges| rows, and hub skew hits the AGGREGATION
    * (integer sum — partial/final, no per-node list), never a
    * collect. Output: suppliers ranked by final nanorank. */
  def pagerankSupplier(s: SparkSession, d: String): DataFrame = {
    // the graph model is materialized ONCE (memoized bipartitePairs —
    // the orders⋈lineitem distinct is the only fact-fact shuffle) and
    // the degree table once per call. The three unrolled rounds then
    // stay LAZY against these in-memory relations, so the whole rank
    // computation is one job — for a variable/large iteration count,
    // re-introduce a per-round checkpoint exactly as dedup_clusters'
    // label propagation does.
    val pairs = bipartitePairs(s, d)
    val edges = pairs.select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .union(pairs.select(col("supp_node").as("src"), col("cust_node").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .transform(graft.Checkpoints.eager)
    val edgesD = edges.join(deg, "src")
    val nodes = deg.select(col("src").as("node"), col("deg"))
    val n = deg.count()

    val unit = 1000000000L
    val r0 = unit / n
    val base = (15L * unit) / (100L * n)

    var ranks = nodes.select(col("node"), lit(r0).as("r"))
    (1 to Iterations).foreach { _ =>
      val sums = edgesD
        .join(ranks, edgesD("src") === ranks("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      ranks = nodes
        .join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(m, 0L)) div 100")).as("r"))
    }
    ranks.filter(col("node") % 2 === 1)
      .select(((col("node") - 1) / 2).cast("long").as("s_suppkey"),
        col("r").as("rank_nano"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name"), "s_suppkey")
      .select("s_suppkey", "s_name", "rank_nano")
  }

  private val pagerankSql = {
    // MATERIALIZED for the same reason as bfsSql below: the edge
    // build is referenced once per unrolled iteration, and an
    // inlining planner would re-run the 2x|lineitem| distinct per
    // level (linear here, not exponential, but still a multi-minute
    // tax at sf1 for zero benefit)
    def iter(prev: String, out: String): String =
      s"""${out}_s AS MATERIALIZED (
         |  SELECT e.dst AS node, cast(sum(p.r // e.deg) as bigint) AS m
         |  FROM edges e JOIN $prev p ON e.src = p.node
         |  GROUP BY e.dst),
         |$out AS MATERIALIZED (
         |  SELECT n.node,
         |    (SELECT base FROM params) + (85 * coalesce(s.m, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN ${out}_s s ON n.node = s.node)""".stripMargin
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey * 2 AS cust_node,
       |         l.l_suppkey * 2 + 1 AS supp_node
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges0 AS MATERIALIZED (
       |  SELECT cust_node AS src, supp_node AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp_node AS src, cust_node AS dst FROM pairs),
       |deg AS MATERIALIZED (SELECT src, cast(count(*) as bigint) AS deg FROM edges0 GROUP BY src),
       |edges AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges0 e JOIN deg d ON e.src = d.src),
       |nodes AS MATERIALIZED (SELECT src AS node FROM deg),
       |params AS (
       |  SELECT 1000000000 // count(*) AS r0,
       |         15000000000 // (100 * count(*)) AS base
       |  FROM nodes),
       |it0 AS (SELECT node, (SELECT r0 FROM params) AS r FROM nodes),
       |${iter("it0", "it1")},
       |${iter("it1", "it2")},
       |${iter("it2", "it3")}
       |SELECT (t.node - 1) // 2 AS s_suppkey, s.s_name, t.r AS rank_nano
       |FROM it3 t JOIN supplier s ON (t.node - 1) // 2 = s.s_suppkey
       |WHERE t.node % 2 = 1""".stripMargin
  }

  private val BfsRounds = 4

  /** BFS hop-distance histogram from the minimum-id node of the
    * customer↔supplier graph — the reachability companion to
    * PageRank (how many hops until the whole graph is covered; the
    * "how connected is this marketplace" diagnostic).
    *
    * Same loop skeleton as PageRank: per round, one join of the
    * frontier to the edge list + one min-aggregation on dst, rounds
    * unrolled lazily against the once-checkpointed edge list. All
    * distances are integers; min/+1 is exact under any partitioning,
    * so the DuckDB mirror reproduces every round bit-for-bit. The
    * three-way CASE (not `least`) keeps NULL semantics identical in
    * both engines. Unreached nodes report hops = −1. */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    val pairs = bipartitePairs(s, d)
    val edges = pairs.select(col("cust_node").as("src"), col("supp_node").as("dst"))
      .union(pairs.select(col("supp_node").as("src"), col("cust_node").as("dst")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val seed = nodes.agg(min(col("node")).as("sn"))

    var dist = nodes.crossJoin(broadcast(seed))
      .select(col("node"),
        when(col("node") === col("sn"), 0L).otherwise(lit(null).cast("long"))
          .as("dist"))
    // frontier-delta BFS: each round joins the edge list against only
    // the nodes DISCOVERED last round, not every reached node — with
    // unit edge weights a node's first-discovery distance is final, so
    // the layers partition the graph and the total join work over all
    // rounds is O(E), not O(rounds·E). That is the difference between
    // a plan that survives 100× scale-up and one whose later rounds
    // re-join an O(V) reached-set every time.
    var frontier = dist.filter(col("dist").isNotNull)
    // frontier-attach strategy (r13, the embAttacher discipline): the
    // frontier is ≤|V| rows, but the planner only sees ESTIMATES — at
    // sf10 it picked a sort-merge join that re-shuffled the full 100M-
    // row edge list EVERY round (3.3 GB/round of exchange for a merge
    // that touches ≤|V| keys). Broadcast the frontier explicitly while
    // |V| fits the budget (round 1's frontier is one row; later rounds
    // read |V| off the round-1 checkpoint — a cached count); above the
    // budget fall back to a sort-free shuffled-hash attach, the
    // 1000-executor Pregel shape.
    val BcastBudgetRows = 16L * 1024 * 1024 // ~256 MB of (node, dist)
    // gate on the FRONTIER's own size, not |V| (r14, ADVICE): dist
    // holds one row per node reached or not, so a |V|-keyed gate
    // force-broadcast near-|V| frontiers on graphs just under the
    // budget and shuffle-attached even one-row frontiers above it
    var frontierRows = 1L // round 1: the seed node only
    (1 to BfsRounds).foreach { _ =>
      // one shuffle per round: the candidate stream (edges ⋈ frontier)
      // UNIONS with the current dist vector and ONE keyed aggregation
      // merges them — the classic Pregel message+state combine. The
      // former shape (agg candidates, then left-join dist) paid a
      // second barrier per round for the same merge; the union adds
      // only |V| rows to a shuffle that already carries the
      // O(E_layer) candidates, so at 100× it is the same asymptotics
      // with half the round latency.
      val fr =
        if (frontierRows <= BcastBudgetRows) broadcast(frontier)
        else frontier.hint("shuffle_hash")
      val cand = edges
        .join(fr, edges("src") === fr("node"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("d"),
          lit(false).as("old"))
      // materialize each round: dist feeds BOTH the union and (via
      // the filter below) the next frontier, so an unrolled lazy
      // chain duplicates the whole prefix plan per round (2^rounds
      // subplans for Catalyst when exchange reuse misses). The state
      // is one row per node — checkpointing it is O(V), the same
      // state a Pregel round holds
      dist = dist
        .select(col("node"), col("dist").as("d"), lit(true).as("old"))
        .union(cand)
        .groupBy("node")
        .agg(min(when(col("old"), col("d"))).as("od"),
          min(when(!col("old"), col("d"))).as("nd"))
        .select(col("node"),
          // a reached node's dist is final in unit-weight BFS (min-
          // layer discovery); an unreached node adopts the min
          // candidate if one arrived
          when(col("od").isNull, col("nd")).otherwise(col("od")).as("dist"),
          // newly discovered ⇔ was unreached and a candidate arrived
          (col("od").isNull && col("nd").isNotNull).as("fresh"))
        .transform(graft.Checkpoints.eager)
      // frontier reads back from the checkpoint just taken — a filter
      // over materialized rows, no second materialization needed
      frontier = dist.filter(col("fresh")).select(col("node"), col("dist"))
      // next round's attach strategy gates on the frontier size read
      // off the just-materialized checkpoint (cached scan, one tiny
      // job — same cost as the old full-dist count, better signal)
      frontierRows = dist
        .agg(count(when(col("fresh"), lit(1))).as("nf"))
        .head().getLong(0)
      dist = dist.select(col("node"), col("dist"))
    }
    dist.groupBy(coalesce(col("dist"), lit(-1L)).as("hops"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  private val bfsSql = {
    // every chained CTE is MATERIALIZED: each level references the
    // previous one twice and edges0 once, so an inlining planner
    // re-evaluates the 2×|lineitem| edge build O(2^levels) times —
    // invisible at sf0.1, a 20+-minute blowup at sf1 (the EXACT
    // plan-duplication pathology the Spark side fixed in round 6
    // with per-round checkpoints; the oracle needs the same cut)
    def iter(prev: String, out: String): String =
      s"""${out}_f AS MATERIALIZED (
         |  SELECT e.dst AS node, min(p.dist) + 1 AS nd
         |  FROM edges0 e JOIN $prev p ON e.src = p.node
         |  WHERE p.dist IS NOT NULL
         |  GROUP BY e.dst),
         |$out AS MATERIALIZED (
         |  SELECT n.node,
         |    CASE WHEN n.dist IS NULL THEN f.nd
         |         WHEN f.nd IS NULL THEN n.dist
         |         WHEN f.nd < n.dist THEN f.nd
         |         ELSE n.dist END AS dist
         |  FROM $prev n LEFT JOIN ${out}_f f ON n.node = f.node)""".stripMargin
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey * 2 AS cust_node,
       |         l.l_suppkey * 2 + 1 AS supp_node
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges0 AS MATERIALIZED (
       |  SELECT cust_node AS src, supp_node AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp_node AS src, cust_node AS dst FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges0),
       |d0 AS MATERIALIZED (
       |  SELECT node,
       |    CASE WHEN node = (SELECT min(node) FROM nodes)
       |         THEN cast(0 as bigint) ELSE NULL END AS dist
       |  FROM nodes),
       |${iter("d0", "d1")},
       |${iter("d1", "d2")},
       |${iter("d2", "d3")},
       |${iter("d3", "d4")}
       |SELECT coalesce(dist, -1) AS hops, count(*) AS n_nodes
       |FROM d4 GROUP BY 1""".stripMargin
  }

  private val KnnPartners = 8

  /** This family's shared memoized relations — consumed by
    * [[graft.Memo.fill]]. */
  private[graft] def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "order_supps" -> (() => { orderSupps(s, d); () }),
    "assoc_edges" -> (() => { assocEdges(s, d); () }),
    "bipartite_pairs" -> (() => { bipartitePairs(s, d); () }))

  /** Canonical top-K association edge set (u < v, deduped,
    * memo-cached) — shared by the triangle census and the
    * degree distribution; memoized so the co-occurrence join runs
    * once per dataset per process. */
  private[graft] def assocEdges(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "assoc_edges", d)(assocEdgesRaw(s, d))

  private[graft] def assocEdgesRaw(s: SparkSession, d: String): DataFrame = {
      // the shared okey-partitioned projection (see [[orderSupps]]):
      // both self-join sides read it at its existing partitioning, so
      // the pair enumeration starts sort-only, exchange-free
      val os = orderSupps(s, d)
      val cow = os.as("a").join(os.as("b"),
          col("a.okey") === col("b.okey") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("cu"), col("b.sk").as("cv"))
        .groupBy(col("cu"), col("cv")).agg(count(lit(1)).as("w"))
      val dir = cow.select(col("cu").as("src"), col("cv").as("dst"), col("w"))
        .union(cow.select(col("cv").as("src"), col("cu").as("dst"), col("w")))
      val knn = graft.functions.topk.perKey(dir,
        keys = Seq("src"),
        order = Seq(graft.functions.topk.Order("w", ascending = false),
          graft.functions.topk.Order("dst")),
        k = KnnPartners)
      knn.select(
          least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
    }

  private def assocDegrees(e0: DataFrame): DataFrame =
    e0.select(col("u").as("node"))
      .union(e0.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Edge-set CTE chain ending in `e(u, v)` — the SQL twin of
    * [[assocEdges]], shared by the triangle and degree-dist mirrors. */
  private val assocCte =
    s"""os AS (SELECT DISTINCT l_orderkey AS okey, l_suppkey AS sk
      |            FROM lineitem),
      |cow AS (
      |  SELECT a.sk AS cu, b.sk AS cv, count(*) AS w
      |  FROM os a JOIN os b ON a.okey = b.okey AND a.sk < b.sk
      |  GROUP BY 1, 2),
      |dir AS (
      |  SELECT cu AS src, cv AS dst, w FROM cow
      |  UNION ALL
      |  SELECT cv AS src, cu AS dst, w FROM cow),
      |knn AS (
      |  SELECT src, dst FROM dir
      |  QUALIFY row_number() OVER (PARTITION BY src
      |    ORDER BY w DESC, dst) <= $KnnPartners),
      |e AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM knn),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY 1)""".stripMargin

  /** Degree distribution of the association graph — the shape
    * diagnostic (hub concentration, K-saturation) read before any
    * graph algorithm is trusted. Pure integer counting over the
    * shared bounded-degree edge set; shares in exact ppm. */
  def degreeDist(s: SparkSession, d: String): DataFrame = {
    val deg = assocDegrees(assocEdges(s, d))
    val tot = deg.agg(count(lit(1)).as("n_total"))
    deg.groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(tot))
      .select(col("deg"), col("n_nodes"),
        expr("n_nodes * 1000000 div n_total").as("share_ppm"))
  }

  private val degreeDistSql =
    s"""WITH $assocCte,
       |tot AS (SELECT cast(count(*) as bigint) AS n_total FROM deg)
       |SELECT cast(deg as bigint) AS deg,
       |  cast(count(*) as bigint) AS n_nodes,
       |  cast(count(*) * 1000000 // max(tot.n_total) as bigint) AS share_ppm
       |FROM deg, tot
       |GROUP BY deg""".stripMargin

  /** Triangle census of the supplier ASSOCIATION graph — the
    * connectivity/community diagnostic next to PageRank's centrality
    * and BFS's reachability. One row: nodes, edges, wedges
    * (Σ C(deg,2)), triangles, and the global clustering coefficient
    * 3·Δ/wedges.
    *
    * The raw co-occurrence graph (suppliers sharing an order) is 90%+
    * DENSE at warehouse scale — every popular supplier eventually
    * meets every other, so its triangle count is a vacuous ~C(n,3)
    * and the wedge join is quadratic. The graph that carries signal
    * is the top-K association graph practitioners actually build
    * (related-products style): each supplier keeps its K=8 strongest
    * partners by co-occurrence count (tie-break by id, so the graph
    * is deterministic cross-engine), ranked through the custom
    * bounded-heap top-k operator — degree is bounded by construction
    * (≤ 2K after symmetrization), making every downstream join
    * linear in nodes at ANY corpus size.
    *
    * Triangle counting then runs the DISTRIBUTED way — degree
    * orientation: every edge points from its (degree, id)-smaller
    * endpoint, the wedge self-join pairs out-edges at their source
    * (fan-out ≤ out-degree ≤ 2K), and a semi-join back to the
    * canonical edge set closes triangles. The count is
    * orientation-invariant, so the DuckDB mirror uses the textbook
    * id-ordered triple join — different algorithm, provably the same
    * number. Everything is integer counting: exact under any
    * partitioning. */
  def triangleCount(s: SparkSession, d: String): DataFrame = {
    val e0 = assocEdges(s, d)
    val deg = assocDegrees(e0)
    val withDeg = e0
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val out = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"))
    val wedges = out.as("e1").join(out.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
    val tri = wedges.join(e0, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(col("n_triangles") * lit(3.0) / col("n_wedges"), 6)
          .as("clustering"))
  }

  private val triangleSql =
    s"""WITH $assocCte,
      |tri AS (
      |  SELECT cast(count(*) as bigint) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
      |            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
      |stats AS (
      |  SELECT cast(count(*) as bigint) AS n_nodes,
      |    cast(sum(deg) // 2 as bigint) AS n_edges,
      |    cast(sum(deg * (deg - 1) // 2) as bigint) AS n_wedges
      |  FROM deg)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  round(n_triangles * 3.0 / n_wedges, 6) AS clustering
      |FROM stats, tri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank_supplier" -> (pagerankSupplier _),
    "q_bfs_hops" -> (bfsHops _),
    "q_degree_dist" -> (degreeDist _),
    "q_triangle_count" -> (triangleCount _))

  val oracle: Map[String, String] = Map(
    "q_pagerank_supplier" -> pagerankSql,
    "q_bfs_hops" -> bfsSql,
    "q_degree_dist" -> degreeDistSql,
    "q_triangle_count" -> triangleSql)
}

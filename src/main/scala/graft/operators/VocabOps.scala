package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.OracleDsl.oCount
import graft.functions.{text, topk}

/** §2.E — corpus-level vocabulary statistics over `documents`.
  *
  * Where TextOps is all narrow per-document maps, these two operators
  * are the corpus-global aggregations a tokenizer/vocab-building stage
  * needs: document frequency with pruning decisions, and per-language
  * n-gram frequency ranking. Both are single-shuffle aggregations
  * whose reduce keys are tokens/n-grams — at 100 TB the heavy explode
  * happens map-side and partial aggregation collapses each partition's
  * token multiset before anything moves, so shuffle volume is bounded
  * by per-partition DISTINCT tokens, not corpus token count.
  */
object VocabOps {

  /** This family's shared memoized relations — consumed by
    * [[graft.Memo.fill]]. doc_toks is the ONE tokenize pass the
    * whole vocab/doc family fans out from; token_freq and doc_tf are
    * the two aggregate granularities consumers re-derive most. */
  private[graft] def memoFills(s: SparkSession, d: String): Seq[(String, () => Unit)] = Seq(
    "doc_toks" -> (() => { docToks(s, d); () }),
    "token_freq" -> (() => { tokenFreq(s, d); () }),
    "doc_tf" -> (() => { docTf(s, d); () }),
    "lm_scores" -> (() => { lmScore(s, d); () }),
    "bpe_chain" -> (() => { bpeChain(s, d); () }))

  /** The tokenized corpus — (doc_id, lang, source, toks) with the
    * family's single pinned tokenizer (functions.text.tokens), run
    * ONCE per dataset per process and memoized. Nine operators in
    * this file previously each re-ran the tokenize regex over the
    * full corpus; at 100 TB that is the difference between one
    * CPU-heavy scan and nine. The array granularity (not exploded)
    * is deliberate: bigram/shape consumers need token ORDER, and the
    * flat (doc, token) stream is a narrow explode away. */
  private[graft] def docToks(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "doc_toks", d) {
      DedupOps.docsParallel(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          text.tokens(col("text")).as("toks"))
    }

  /** Flat (doc_id, token) occurrence stream — a NARROW explode over
    * the memoized array relation, so not separately cached (caching
    * it would store the same tokens twice). */
  private[graft] def docTokens(s: SparkSession, d: String): DataFrame =
    docToks(s, d).select(col("doc_id"), explode(col("toks")).as("token"))

  /** Global (token, freq) corpus counts. */
  private[graft] def tokenFreq(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "token_freq", d) {
      docTokens(s, d).groupBy("token").agg(count(lit(1)).as("freq"))
    }

  /** Per-document term frequencies (doc_id, token, tf) — one row per
    * DISTINCT (doc, token), so `select(doc_id, token)` doubles as the
    * per-doc distinct-token relation document-frequency consumers
    * need. */
  private[graft] def docTf(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "doc_tf", d) {
      docTokens(s, d).groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    }

  /** Vocab pruning bounds: drop tokens seen in < MinDf docs (noise /
    * typos) or in more than half the corpus (stopwords carry no
    * signal). Both thresholds compare INTEGERS (doc_freq·2 ≤ n_docs),
    * so the keep flag is exact in both engines; df_ratio is published
    * for inspection only. */
  private val MinDf = 2

  /** Per-token document frequency + keep/prune decision. The corpus
    * size joins in as a broadcast 1-row aggregate — no driver action,
    * no second scan barrier in the plan. */
  def docFreq(s: SparkSession, d: String): DataFrame = {
    // doc_tf is one row per distinct (doc, token) — its token column
    // IS the per-doc-distinct stream docFreqFromDocs derives by
    // array_distinct, minus the redundant re-tokenize
    val df = docTf(s, d).groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val nd = DedupOps.docsParallel(s, d).agg(count(lit(1)).as("n_docs"))
    docFreqAssemble(df, nd)
  }

  /** `docs` needs a `text` column. */
  private[graft] def docFreqFromDocs(docs: DataFrame): DataFrame = {
    val tok = docs.select(
      explode(array_distinct(text.tokens(col("text")))).as("token"))
    val df = tok.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    docFreqAssemble(df, nd)
  }

  private def docFreqAssemble(df: DataFrame, nd: DataFrame): DataFrame =
    df.crossJoin(broadcast(nd)).select(
      col("token"),
      col("doc_freq"),
      (col("doc_freq") * lit(1.0) / col("n_docs")).as("df_ratio"),
      (col("doc_freq") >= MinDf && col("doc_freq") * 2 <= col("n_docs"))
        .as("keep"))

  private val docFreqSql = {
    val toks = text.tokensSql
    s"""WITH tok AS (
       |  SELECT unnest(list_distinct($toks)) AS token FROM documents),
       |df AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY 1),
       |nd AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT token, doc_freq,
       |  doc_freq * 1.0 / n_docs AS df_ratio,
       |  (doc_freq >= $MinDf AND doc_freq * 2 <= n_docs) AS keep
       |FROM df, nd""".stripMargin
  }

  private val TfidfK = 5

  /** Per-document top-K TF-IDF terms — the keyword-extraction /
    * retrieval-indexing primitive (what goes in a sparse index or a
    * dataset card's "characteristic terms"). tf and df come from ONE
    * tokenize+explode pass (df is derived from the distinct (doc,
    * token) counts, not a second scan); idf is the rational
    * (N−df+0.5)/(df+0.5) form — no ln, so the score is bit-identical
    * cross-engine; ranking runs through the bounded-heap top-k. Only
    * (doc, token, count) triples shuffle — partial aggregation
    * collapses each partition's token multiset map-side. */
  def docTfidf(s: SparkSession, d: String): DataFrame = {
    // shared memoized (doc_id, token, tf) — reused as the score input
    // AND the df aggregation source
    val tf = docTf(s, d)
    val df = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val nd = DedupOps.docsParallel(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "token").crossJoin(broadcast(nd))
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n_docs").cast("double") - col("doc_freq") + lit(0.5)) /
            (col("doc_freq").cast("double") + lit(0.5))))
    graft.functions.topk.perKey(
      scored.select("doc_id", "token", "tf", "score"),
      keys = Seq("doc_id"),
      order = Seq(graft.functions.topk.Order("score", ascending = false),
        graft.functions.topk.Order("token")),
      k = TfidfK)
      .select(col("doc_id"), col("token"), col("tf"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  private val docTfidfSql = {
    val toks = text.tokensSql
    val score = "cast(tf as double) * ((cast(n_docs as double) - doc_freq + 0.5)" +
      " / (cast(doc_freq as double) + 0.5))"
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toks) AS token FROM documents),
       |tf AS (
       |  SELECT doc_id, token, cast(count(*) as bigint) AS tf
       |  FROM tok GROUP BY 1, 2),
       |df AS (
       |  SELECT token, cast(count(*) as bigint) AS doc_freq
       |  FROM tf GROUP BY 1),
       |nd AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents)
       |SELECT doc_id, token, tf,
       |  cast(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY $score DESC, token) as int) AS rank,
       |  round($score, 6) AS score
       |FROM tf JOIN df USING (token), nd
       |QUALIFY rank <= $TfidfK""".stripMargin
  }

  private val TopK = 20

  /** Top-K bigrams per language by occurrence count, ranked through
    * the custom bounded-heap top-k operator (map-side partial heaps —
    * the (lang, ngram) count relation never sorts globally). */
  def ngramTopK(s: SparkSession, d: String): DataFrame = {
    val grams = docToks(s, d).select(col("lang"),
      explode(text.ngrams(col("toks"), 2)).as("ngram"))
    val counts = grams.groupBy("lang", "ngram").agg(count(lit(1)).as("n"))
    graft.functions.topk.perKey(counts,
      keys = Seq("lang"),
      order = Seq(graft.functions.topk.Order("n", ascending = false),
        graft.functions.topk.Order("ngram")),
      k = TopK)
  }

  private val ngramTopKSql = {
    val toks = text.tokensSql
    s"""WITH t AS (SELECT lang, $toks AS toks FROM documents),
       |g AS (
       |  SELECT lang,
       |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
       |      AS ngram
       |  FROM t),
       |c AS (SELECT lang, ngram, count(*) AS n FROM g GROUP BY 1, 2)
       |SELECT lang, ngram, n,
       |  cast(row_number() OVER (PARTITION BY lang ORDER BY n DESC, ngram) as int) AS rank
       |FROM c
       |QUALIFY rank <= $TopK""".stripMargin
  }

  // ------------------------------------------------------------- bm25

  private val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25TopK = 20

  /** BM25 relevance of every document against a fixed query-term set
    * — the retrieval-scoring pass a training-data curation run uses
    * for quality/topicality ranking. Shape: because the query terms
    * are a FIXED small list, per-term tf is a NARROW array count (no
    * explode, no per-term shuffle); the only aggregation is ONE 1-row
    * corpus summary (N, Σdl, per-term df as conditional sums)
    * broadcast back over the scan, and the final top-K is a
    * TakeOrdered. Scales as a single pass over the corpus.
    *
    * Determinism: the idf is the rational (N−df+0.5)/(df+0.5) form —
    * no ln/exp (libm results aren't bit-portable across engines);
    * contributions add in FIXED term order, so the double score is
    * bit-identical on any partitioning and engine. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val toks = col("toks")
    // narrow size/filter folds over the memoized shared tokenize
    // pass; referenced by the 1-row corpus aggregate AND the scored
    // crossJoin — both recompute only the cheap folds, never the
    // tokenizer regex
    val withTf = docToks(s, d).select(
      (col("doc_id") +:
        size(toks).as("dl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === t)).as(s"tf$i")
        }): _*)
    val aggs =
      count(lit(1)).as("n_docs") +:
        sum(col("dl").cast("long")).as("sum_dl") +:
        Bm25Terms.indices.map { i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
        }
    val corpus = withTf.agg(aggs.head, aggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(corpus))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contribs = Bm25Terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      val denom = tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
      when(col(s"tf$i") > 0, idf * (tf * lit(2.2)) / denom).otherwise(lit(0.0))
    }
    scored
      .select(col("doc_id"), col("dl").as("n_tokens"),
        contribs.reduceLeft(_ + _).as("bm25"))
      .filter(col("bm25") > 0.0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  private val bm25Sql = {
    val toks = text.tokensSql
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"cast(len(list_filter(toks, x -> x = '$t')) as int) AS tf$i"
    }.mkString(",\n       |    ")
    val dfCols = Bm25Terms.indices.map { i =>
      s"cast(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) as bigint) AS df$i"
    }.mkString(",\n       |    ")
    val contribs = Bm25Terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |      ((cast(n_docs as double) - df$i + 0.5) / (cast(df$i as double) + 0.5))
         |      * (cast(tf$i as double) * 2.2)
         |      / (cast(tf$i as double)
         |         + 1.2 * (0.25 + 0.75 * (cast(dl as double)
         |             / (cast(sum_dl as double) / n_docs))))
         |    ELSE 0.0 END""".stripMargin
    }.mkString("(", "\n    + ", ")")
    s"""WITH t AS (
       |  SELECT doc_id, cast(len(toks) as int) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |c AS (
       |  SELECT cast(count(*) as bigint) AS n_docs,
       |    cast(sum(cast(dl as bigint)) as bigint) AS sum_dl,
       |    $dfCols
       |  FROM t)
       |SELECT doc_id, dl AS n_tokens, $contribs AS bm25
       |FROM t, c
       |WHERE $contribs > 0.0
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // --------------------------------------------------------- lm score

  /** Bigram language-model fluency score — the KenLM-perplexity-
    * filter analog: each doc's mean corpus-bigram probability
    * p(w2|w1) = C(w1w2)/C(w1·), where the counts come from the whole
    * corpus (the corpus is its own LM). High scores = docs made of
    * common continuations; near-zero = word salad. Shapes: two
    * global bigram aggregations (partial/final, keys = distinct
    * grams), then a per-doc rollup; only (doc, gram) pairs shuffle.
    *
    * Determinism: per-doc summation of float probabilities is made
    * order-independent by scaling each p to an integer
    * (round(p·10¹²)) before the sum — the same exact-sum discipline
    * as the money aggregates; both engines divide once at the end. */
  def lmScore(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, "lm_scores", d) {
    // memoized: TWO operators consume the scored relation
    // (text_lm_score reports it; text_ppl_bucket terciles it), and
    // the bigram chain is one of the costlier text passes
    val docs = DedupOps.docsParallel(s, d)
    // checkpointed: the exploded gram relation feeds the c2
    // aggregation (and through it c1) AND the per-doc probe join —
    // unmaterialized, the full-corpus bigram explode runs three
    // times. Registered eager checkpoint, NOT a bare .cache(): a
    // plain SQL cache is held strongly by the CacheManager and
    // survives Memo.clear — the round-9 MemSoak found exactly this
    // entry still resident after a full build/clear cycle
    val g = docToks(s, d).select(col("doc_id"),
      explode(text.ngrams(col("toks"), 2)).as("g"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .transform(graft.Checkpoints.eager)
    val c2 = g.groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val c1 = c2.withColumn("w1", element_at(split(col("g"), " "), 1))
      .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val p = col("c2").cast("double") / col("c1")
    val perDoc = g
      .join(c2, "g")
      .join(c1, "w1")
      .groupBy(col("doc_id"))
      .agg(sum(round(p * 1e12).cast("long")).as("sp"),
        count(lit(1)).as("n_bigrams"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0,
          col("sp").cast("double") / (lit(1e12) * col("n_bigrams")))
          .otherwise(0.0).as("lm_score"))
  }

  private[operators] val lmScoreSql = {
    val toks = text.tokensSql
    s"""WITH t AS (SELECT doc_id, $toks AS t FROM documents),
       |g AS (
       |  SELECT doc_id, g, string_split(g, ' ')[1] AS w1
       |  FROM (
       |    SELECT doc_id,
       |      unnest(CASE WHEN len(t) < 2 THEN cast([] as varchar[])
       |        ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |        END) AS g
       |    FROM t)),
       |c2 AS (SELECT g, cast(count(*) as bigint) AS c2 FROM g GROUP BY 1),
       |c1 AS (
       |  SELECT string_split(g, ' ')[1] AS w1, cast(sum(c2) as bigint) AS c1
       |  FROM c2 GROUP BY 1),
       |pd AS (
       |  SELECT g.doc_id,
       |    cast(sum(cast(round(cast(c2.c2 as double) / c1.c1 * 1e12) as bigint))
       |      as bigint) AS sp,
       |    cast(count(*) as bigint) AS n_bigrams
       |  FROM g JOIN c2 USING (g) JOIN c1 USING (w1)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(n_bigrams, 0) AS n_bigrams,
       |  CASE WHEN n_bigrams > 0
       |    THEN cast(sp as double) / (1e12 * n_bigrams)
       |    ELSE 0.0 END AS lm_score
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin
  }

  // ---------------------------------------------- perplexity buckets

  /** CCNet-style quality bucketing: split each language's documents
    * into head / middle / tail terciles of the corpus-LM fluency
    * score — the published recipe for stratifying a web crawl by
    * language-model perplexity before sampling (train mostly from
    * the head, audit the tail). The score is [[lmScore]]'s exact
    * integer-sum bigram probability, quantized to ppm so every
    * comparison is integer.
    *
    * Scale shape: NO per-language sort or rank window over the
    * corpus. The tercile cuts come from a value-DOMAIN-bounded
    * histogram — distinct (lang, score_ppm) cells, ≤ 10⁶ per
    * language whatever the corpus size — so the only window runs on
    * that bounded relation (the q_skyline discipline), and docs get
    * their bucket by comparing against the broadcast per-lang cuts
    * map-side. Cut definition: smallest score with cumulative count
    * ≥ ⌈n/3⌉ (resp. ⌈2n/3⌉) — ties at a cut land in the lower
    * bucket on both engines. */
  def pplBucket(s: SparkSession, d: String): DataFrame = {
    val docs = DedupOps.docsParallel(s, d).select(col("doc_id"), col("lang"))
    // two consumers (the histogram chain and the final bucket join)
    // — checkpoint so the lm chain computes once per call
    val scored = lmScore(s, d)
      .select(col("doc_id"),
        round(col("lm_score") * 1e6).cast("long").as("score_ppm"))
      .join(docs, "doc_id")
      .transform(graft.Checkpoints.eager)
    val hist = scored.groupBy(col("lang"), col("score_ppm"))
      .agg(count(lit(1)).as("n"))
    val tot = hist.groupBy(col("lang")).agg(sum(col("n")).as("n_docs"))
    val cum = hist
      .withColumn("cum",
        sum(col("n")).over(Window.partitionBy(col("lang"))
          .orderBy(col("score_ppm"))))
      .join(broadcast(tot), "lang")
    val cuts = cum.groupBy(col("lang")).agg(
      min(when(col("cum") * 3 >= col("n_docs"), col("score_ppm")))
        .as("cut_tail"),
      min(when(col("cum") * 3 >= col("n_docs") * 2, col("score_ppm")))
        .as("cut_mid"))
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("score_ppm"),
        when(col("score_ppm") <= col("cut_tail"), "tail")
          .when(col("score_ppm") <= col("cut_mid"), "middle")
          .otherwise("head").as("ppl_bucket"))
  }

  private val pplBucketSql =
    s"""WITH base AS ($lmScoreSql),
       |scored AS (
       |  SELECT b.doc_id, d.lang,
       |    cast(round(b.lm_score * 1e6) as bigint) AS score_ppm
       |  FROM base b JOIN documents d USING (doc_id)),
       |hist AS (
       |  SELECT lang, score_ppm, cast(count(*) as bigint) AS n
       |  FROM scored GROUP BY 1, 2),
       |tot AS (SELECT lang, cast(sum(n) as bigint) AS n_docs
       |        FROM hist GROUP BY 1),
       |cum AS (
       |  SELECT lang, score_ppm,
       |    cast(sum(n) OVER (PARTITION BY lang ORDER BY score_ppm)
       |      as bigint) AS cum
       |  FROM hist),
       |cuts AS (
       |  SELECT c.lang,
       |    min(CASE WHEN cum * 3 >= t.n_docs THEN score_ppm END)
       |      AS cut_tail,
       |    min(CASE WHEN cum * 3 >= t.n_docs * 2 THEN score_ppm END)
       |      AS cut_mid
       |  FROM cum c JOIN tot t USING (lang) GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.score_ppm,
       |  CASE WHEN s.score_ppm <= cut_tail THEN 'tail'
       |       WHEN s.score_ppm <= cut_mid THEN 'middle'
       |       ELSE 'head' END AS ppl_bucket
       |FROM scored s JOIN cuts USING (lang)""".stripMargin

  private val PmiMinCount = 5
  private val PmiTopK = 100

  /** Collocation detection: top-100 adjacent token pairs by
    * PMI-style association — n_ab·T² / (P·n_a·n_b), the ratio of
    * observed bigram probability to the independence expectation
    * (monotone in PMI; no log, so the score is one fixed-order IEEE
    * expression both engines compute bit-identically from INTEGER
    * counts). The word2vec/phrase-mining co-occurrence statistic: ONE
    * tokenize pass feeds both the unigram marginals and the bigram
    * counts, rare pairs (< $PmiMinCount) drop before the marginals
    * join, and the two joins key on tokens — partial aggregation
    * collapses per-partition multisets map-side, so shuffle volume is
    * distinct tokens/bigrams, not corpus token count. */
  def pmi(s: SparkSession, d: String): DataFrame = {
    // both explodes read the shared memoized tokenize pass; unigram
    // marginals are the shared token_freq relation under pmi's
    // column names
    val toksArr = docToks(s, d)
    val uni = tokenFreq(s, d)
      .select(col("token").as("w"), col("freq").as("n_w"))
    // totals DERIVE from the aggregates — no extra corpus pass:
    // T = Σ n_w, P = Σ n_ab over the pre-filter bigram counts
    val tot = uni.agg(sum(col("n_w")).as("t"))
    // registered checkpoint, not .cache() — same MemSoak leak class
    // as the lm chain's gram relation (two consumers: ptot + bic)
    val bic0 = toksArr.select(explode(text.ngrams(col("toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_ab"))
      .transform(graft.Checkpoints.eager)
    val ptot = bic0.agg(sum(col("n_ab")).as("p"))
    val bic = bic0
      .filter(col("n_ab") >= PmiMinCount)
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .withColumn("b", split(col("bg"), " ").getItem(1))
    bic
      .join(uni.select(col("w").as("a"), col("n_w").as("n_a")), "a")
      .join(uni.select(col("w").as("b"), col("n_w").as("n_b")), "b")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(ptot))
      .withColumn("assoc",
        col("n_ab").cast("double") * col("t").cast("double") *
          col("t").cast("double") /
          (col("p").cast("double") * col("n_a").cast("double") *
            col("n_b").cast("double")))
      .select(col("bg"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("assoc"), 6).as("assoc"))
      .orderBy(col("assoc").desc, col("bg"))
      .limit(PmiTopK)
  }

  private val pmiSql = {
    val toks = text.tokensSql
    s"""WITH t0 AS (SELECT $toks AS toks FROM documents),
       |tok AS (SELECT unnest(toks) AS w FROM t0),
       |uni AS (SELECT w, cast(count(*) as bigint) AS n_w FROM tok GROUP BY 1),
       |tot AS (SELECT cast(count(*) as bigint) AS t FROM tok),
       |bi0 AS (
       |  SELECT unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM t0),
       |ptot AS (SELECT cast(count(*) as bigint) AS p FROM bi0),
       |bic AS (
       |  SELECT bg, cast(count(*) as bigint) AS n_ab FROM bi0 GROUP BY 1
       |  HAVING count(*) >= $PmiMinCount)
       |SELECT c.bg, c.n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
       |  round(cast(c.n_ab as double) * cast(tot.t as double)
       |    * cast(tot.t as double)
       |    / (cast(ptot.p as double) * cast(ua.n_w as double)
       |       * cast(ub.n_w as double)), 6) AS assoc
       |FROM bic c
       |JOIN uni ua ON string_split(c.bg, ' ')[1] = ua.w
       |JOIN uni ub ON string_split(c.bg, ' ')[2] = ub.w
       |CROSS JOIN tot CROSS JOIN ptot
       |ORDER BY assoc DESC, c.bg
       |LIMIT $PmiTopK""".stripMargin
  }

  private val CoverageTopK = 30

  /** Vocabulary coverage curve: the top-K tokens by corpus frequency
    * with each token's CUMULATIVE share of all token occurrences —
    * the "how big must the vocab be to cover X% of the stream"
    * tokenizer-design question, and the head of the Zipf plot.
    *
    * Shape: one tokenize+explode pass collapses map-side into
    * (token, cnt); the global top-K routes through the bounded-heap
    * operator (every partition surrenders at most K candidates — no
    * full sort, no single-reducer funnel on the full vocabulary);
    * the cumulative sum then runs over exactly K rows (bounded by
    * construction). The share is published in integer ppm
    * (cum·1e6 div total) so both engines agree bit-for-bit. */
  def coverage(s: SparkSession, d: String): DataFrame = {
    val tc = tokenFreq(s, d).select(col("token"), col("freq").as("cnt"))
    val tot = tc.agg(sum(col("cnt")).as("total"))
    val top = topk.perKey(tc.withColumn("g", lit(1)), Seq("g"),
      Seq(topk.Order("cnt", ascending = false), topk.Order("token")),
      CoverageTopK)
    // window over ≤ CoverageTopK rows — bounded by construction
    val w = Window.orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // rank cast to long: DuckDB row_number() is BIGINT and the
    // driver's compare hashes pandas DTYPES, so int32 vs int64 fails
    // even with equal values (round-5 regression)
    top.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("cnt")).over(w))
      .select(col("rank").cast("long").as("rank"), col("token"), col("cnt"),
        expr("cum * 1000000 div total").as("cum_ppm"))
  }

  private val coverageSql = {
    val toks = text.tokensSql
    s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
       |tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
       |tot AS (SELECT sum(cnt) AS total FROM tc),
       |r AS (
       |  SELECT token, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, token) AS rank
       |  FROM tc
       |  QUALIFY rank <= $CoverageTopK)
       |SELECT rank, token, cnt,
       |  cast(sum(cnt) OVER (ORDER BY rank) * 1000000 // total as bigint)
       |    AS cum_ppm
       |FROM r, tot""".stripMargin
  }

  /** Frequency-of-frequencies spectrum — the Zipf/Good-Turing
    * diagnostic a tokenizer-building pass reads first: for each
    * observed token frequency, how many distinct tokens have it and
    * how much of the corpus mass they carry (hapax count = the
    * freq=1 row; heavy stopword head = the high-freq tail). Two
    * chained partial/final aggregations — token counts, then counts
    * of counts — all integers, so the spectrum is exact under any
    * partitioning. The second aggregation's key domain (distinct
    * frequency values) is O(√corpus-tokens) by a counting argument,
    * so the final frame stays tiny at any scale; mass_ppm derives
    * from one integer division against the broadcast total. */
  def freqSpectrum(s: SparkSession, d: String): DataFrame = {
    val tf = tokenFreq(s, d)
    val spectrum = tf.groupBy("freq").agg(count(lit(1)).as("n_tokens"))
      .withColumn("mass", col("freq") * col("n_tokens"))
    val tot = spectrum.agg(sum(col("mass")).as("total_mass"))
    spectrum.crossJoin(broadcast(tot))
      .select(col("freq"), col("n_tokens"), col("mass"),
        expr("mass * 1000000 div total_mass").as("mass_ppm"))
  }

  private val freqSpectrumSql = {
    val toks = text.tokensSql
    s"""WITH tok AS (
       |  SELECT unnest($toks) AS token FROM documents),
       |tf AS (SELECT token, $oCount AS freq FROM tok GROUP BY 1),
       |sp AS (
       |  SELECT freq, $oCount AS n_tokens,
       |    cast(freq * count(*) as bigint) AS mass
       |  FROM tf GROUP BY 1),
       |tot AS (SELECT cast(sum(mass) as bigint) AS total_mass FROM sp)
       |SELECT freq, n_tokens, mass,
       |  cast(mass * 1000000 // total_mass as bigint) AS mass_ppm
       |FROM sp, tot""".stripMargin
  }

  private val OovVocabK = 16

  /** Per-document out-of-vocabulary rate against the top-K corpus
    * vocabulary — the tokenizer-fit diagnostic (how much of each doc
    * a K-entry vocab fails to cover; the per-doc drilldown of
    * vocab_coverage's corpus curve). The vocab is the top-K tokens
    * by corpus frequency (deterministic tie-break by token) from one
    * token-count aggregation bounded by TakeOrdered; it broadcasts
    * (K rows) into a map-side semi-probe, so the only shuffle is the
    * per-doc count aggregation. oov_ppm is one integer division —
    * exact in both engines. K=16 sits inside this corpus's ~31-token
    * synthetic vocabulary so the rate actually discriminates. */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val tok = docTokens(s, d)
    val vocab = tokenFreq(s, d)
      .orderBy(col("freq").desc, col("token"))
      .limit(OovVocabK)
      .select("token")
    val perDoc = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val inVocab = tok.join(broadcast(vocab), "token")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_in"))
    perDoc.join(inVocab, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("n_in"), lit(0L))).as("n_oov"),
        expr("(n_tok - coalesce(n_in, 0L)) * 1000000 div n_tok")
          .as("oov_ppm"))
  }

  private val oovRateSql = {
    val toks = text.tokensSql
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toks) AS token FROM documents),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS freq FROM tok GROUP BY 1)
       |  ORDER BY freq DESC, token LIMIT $OovVocabK),
       |pd AS (SELECT doc_id, cast(count(*) as bigint) AS n_tok
       |       FROM tok GROUP BY 1),
       |iv AS (
       |  SELECT doc_id, cast(count(*) as bigint) AS n_in
       |  FROM tok JOIN vocab USING (token) GROUP BY 1)
       |SELECT pd.doc_id, pd.n_tok,
       |  pd.n_tok - coalesce(iv.n_in, 0) AS n_oov,
       |  cast((pd.n_tok - coalesce(iv.n_in, 0)) * 1000000 // pd.n_tok
       |    as bigint) AS oov_ppm
       |FROM pd LEFT JOIN iv ON pd.doc_id = iv.doc_id""".stripMargin
  }

  // ----------------------------------------------------- vocab growth

  /** Heaps-law vocabulary growth curve: cumulative distinct-token
    * count across ten deciles of the hash-shuffled corpus — the
    * tokenizer-sizing question ("how fast does vocab still grow?")
    * answered scan-scalably: each token's contribution is its FIRST
    * decile (a min aggregate over (token, decile) pairs — map-side
    * combined, shuffle bounded by distinct tokens), and the
    * cumulative rollup runs on ≤10 rows (domain-bounded window).
    * The decile order is the same deterministic hash rank as
    * corpus_shuffle, so the curve is sample-order-unbiased and
    * engine-reproducible. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val base = DedupOps.docsParallel(s, d)
      .select(col("doc_id"),
        graft.functions.ihash.quad(col("doc_id")).as("h"))
    val pos = PipelineOps.hashRankPositions(base, "doc_id")
    val tot = pos.agg(count(lit(1)).as("n"))
    val dd = pos.crossJoin(broadcast(tot))
      .select(col("doc_id"),
        least(expr("pos * 10 div n"), lit(9L)).cast("int").as("decile"))
    // the decile map is doc-level; tokens come from the shared
    // memoized tokenize pass via one doc_id equi-join
    val toks = dd.join(docToks(s, d).select(col("doc_id"), col("toks")), "doc_id")
      .select(col("decile"), explode(col("toks")).as("token"))
    val newVocab = toks.groupBy(col("token"))
      .agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_new_vocab"))
    val occ = toks.groupBy(col("decile")).agg(count(lit(1)).as("n_occ"))
    val nd = dd.groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nd.join(occ, Seq("decile"), "left")
      .join(newVocab, Seq("decile"), "left")
      .select(col("decile"),
        sum(col("n_docs")).over(w).as("n_docs_cum"),
        sum(coalesce(col("n_occ"), lit(0L))).over(w).as("n_tokens_cum"),
        sum(coalesce(col("n_new_vocab"), lit(0L))).over(w).as("n_vocab_cum"),
        coalesce(col("n_new_vocab"), lit(0L)).as("n_new_vocab"))
  }

  private def vocabGrowthSql: String = {
    val toks = text.tokensSql
    val hash = graft.functions.ihash.quadSqlNested("doc_id")
    s"""WITH f AS (SELECT doc_id, text, $hash AS h FROM documents),
       |r AS (
       |  SELECT doc_id, text,
       |    row_number() OVER (ORDER BY h, doc_id) - 1 AS pos,
       |    count(*) OVER () AS n
       |  FROM f),
       |dd AS (
       |  SELECT doc_id, text,
       |    cast(least(pos * 10 // n, 9) as int) AS decile
       |  FROM r),
       |tk AS (
       |  SELECT decile, unnest($toks) AS token FROM dd),
       |nv AS (
       |  SELECT decile, cast(count(*) as bigint) AS n_new_vocab
       |  FROM (SELECT token, min(decile) AS decile FROM tk GROUP BY 1)
       |  GROUP BY 1),
       |occ AS (SELECT decile, cast(count(*) as bigint) AS n_occ
       |        FROM tk GROUP BY 1),
       |nd AS (SELECT decile, cast(count(*) as bigint) AS n_docs
       |       FROM dd GROUP BY 1)
       |SELECT nd.decile,
       |  cast(sum(nd.n_docs) OVER (ORDER BY nd.decile
       |    ROWS UNBOUNDED PRECEDING) as bigint) AS n_docs_cum,
       |  cast(sum(coalesce(occ.n_occ, 0)) OVER (ORDER BY nd.decile
       |    ROWS UNBOUNDED PRECEDING) as bigint) AS n_tokens_cum,
       |  cast(sum(coalesce(nv.n_new_vocab, 0)) OVER (ORDER BY nd.decile
       |    ROWS UNBOUNDED PRECEDING) as bigint) AS n_vocab_cum,
       |  cast(coalesce(nv.n_new_vocab, 0) as bigint) AS n_new_vocab
       |FROM nd
       |LEFT JOIN occ ON nd.decile = occ.decile
       |LEFT JOIN nv ON nd.decile = nv.decile""".stripMargin
  }

  // ---------------------------------------------------- hybrid search

  private val RrfK = 60
  private val HybridListK = 50
  private val HybridTopK = 10

  /** Hybrid retrieval: the BM25 lexical ranking and a semantic
    * ranking (cosine over the hashing-trick embeddings, query string
    * embedded through the SAME path) fused by reciprocal-rank fusion
    * score = Σ 1/(60+rank) — the standard RAG/retrieval pattern
    * where neither signal alone suffices. Everything heavy is
    * shared/bounded: the sparse hash counts are one pass (the
    * doc_hash_embed relation), the query vector is a 3-row
    * broadcast, per-doc dot/norm are two partial/final aggs, and
    * each system contributes a bounded top-50 list so the fusion
    * join touches ≤100 rows. Determinism: dots and norms are exact
    * integers, cosine/rrf are fixed-order IEEE expressions — no
    * libm beyond correctly-rounded sqrt. */
  def hybridSearch(s: SparkSession, d: String): DataFrame = {
    val counts = TextOps.hashEmbedCountsFromTokens(docTokens(s, d))
    // the query string rides the same embed path as the corpus
    val qdocs = s.createDataFrame(Seq((0L, Bm25Terms.mkString(" "))))
      .toDF("doc_id", "text")
    val qc = TextOps.hashEmbedCounts(qdocs)
      .select(col("dim"), col("cnt").as("qcnt"))
    val nq = qc.agg(sum(col("qcnt") * col("qcnt")).as("nq"))
    val dots = counts.join(broadcast(qc), "dim")
      .groupBy(col("doc_id")).agg(sum(col("cnt") * col("qcnt")).as("dot"))
    val norms = counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("cnt")).as("nv"))
    val cos = col("dot").cast("double") /
      (sqrt(col("nv").cast("double")) * sqrt(col("nq").cast("double")))
    val sem = topk.perKey(
      dots.join(norms, "doc_id").crossJoin(broadcast(nq))
        .select(col("doc_id"), (-cos).as("negcos"), lit(0).as("g")),
      keys = Seq("g"),
      order = Seq(topk.Order("negcos"), topk.Order("doc_id")),
      k = HybridListK)
      .select(col("doc_id"), col("rank").as("srank"))
    val lex = bm25(s, d)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).as("lrank"))
    val rrf =
      coalesce(lit(1.0) / (lit(RrfK) + col("lrank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("srank")), lit(0.0))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lrank").cast("int").as("lex_rank"),
        col("srank").cast("int").as("sem_rank"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(HybridTopK)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(col("rrf"), 6).as("rrf_score"))
  }

  private def hybridSearchSql: String = {
    val toks = text.tokensSql
    val dim = TextOps.hashEmbedDim
    val qStr = Bm25Terms.mkString(" ")
    s"""WITH tokh AS (
       |  SELECT doc_id, ${DedupOps.fpSql("token")} AS h
       |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents)),
       |counts AS (
       |  SELECT doc_id, cast(h % $dim as int) AS dim,
       |    cast(sum(CASE WHEN h % ${2 * dim} < $dim THEN 1 ELSE -1 END)
       |      as bigint) AS cnt
       |  FROM tokh GROUP BY 1, 2),
       |qtokh AS (
       |  SELECT ${DedupOps.fpSql("token")} AS h
       |  FROM (SELECT unnest($toks) AS token
       |        FROM (SELECT '$qStr' AS text))),
       |qc AS (
       |  SELECT cast(h % $dim as int) AS dim,
       |    cast(sum(CASE WHEN h % ${2 * dim} < $dim THEN 1 ELSE -1 END)
       |      as bigint) AS qcnt
       |  FROM qtokh GROUP BY 1),
       |nqt AS (SELECT cast(sum(qcnt * qcnt) as bigint) AS nq FROM qc),
       |dots AS (
       |  SELECT c.doc_id, cast(sum(c.cnt * q.qcnt) as bigint) AS dot
       |  FROM counts c JOIN qc q USING (dim) GROUP BY 1),
       |norms AS (
       |  SELECT doc_id, cast(sum(cnt * cnt) as bigint) AS nv
       |  FROM counts GROUP BY 1),
       |sem AS (
       |  SELECT d.doc_id,
       |    row_number() OVER (ORDER BY
       |      cast(d.dot as double)
       |        / (sqrt(cast(n.nv as double)) * sqrt(cast(t.nq as double))) DESC,
       |      d.doc_id) AS srank
       |  FROM dots d JOIN norms n USING (doc_id), nqt t
       |  QUALIFY srank <= $HybridListK),
       |lex0 AS ($bm25Sql),
       |lex AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lrank
       |  FROM lex0),
       |fused AS (
       |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lrank, s.srank,
       |    coalesce(cast(1 as double) / ($RrfK + l.lrank), cast(0 as double))
       |    + coalesce(cast(1 as double) / ($RrfK + s.srank), cast(0 as double))
       |      AS rrf
       |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
       |SELECT doc_id, cast(lrank as int) AS lex_rank,
       |  cast(srank as int) AS sem_rank, round(rrf, 6) AS rrf_score
       |FROM fused
       |ORDER BY rrf DESC, doc_id
       |LIMIT $HybridTopK""".stripMargin
  }

  private val KeynessK = 20

  /** χ² keyness: the K most source-distinctive tokens per source —
    * the "what characterizes this corpus slice" diagnostic a data
    * card prints. Per token×source the 2×2 contingency (in-source df
    * vs rest-of-corpus df) reduces to four exact integer margins;
    * χ² = N(ad−bc)²/(row·col margins) is assembled in one fixed IEEE
    * multiply chain on those integers — the log-likelihood-ratio
    * variant would drag in libm ln, χ² ranks identically for top-K.
    * Only over-represented tokens (ad>bc) qualify. Scale shape: one
    * tokenize pass, (source, token) partial/final agg, a token-keyed
    * join against the df totals, then a per-source bounded window
    * over |vocab| rows; integer products stay exact to ~10⁹ docs
    * (beyond: the margins move to DOUBLE, same op sequence). */
  def keyness(s: SparkSession, d: String): DataFrame = {
    val docs = DedupOps.docsParallel(s, d)
    val a = docToks(s, d)
      .select(col("source"),
        explode(array_distinct(col("toks"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("a"))
    val dfTot = a.groupBy("token").agg(sum(col("a")).as("df_tot"))
    val srcN = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val tot = docs.agg(count(lit(1)).as("n_all"))
    val j = a.join(dfTot, "token")
      .join(broadcast(srcN), "source")
      .crossJoin(broadcast(tot))
      .filter(col("df_tot") < col("n_all"))
      .withColumn("b", col("n_src") - col("a"))
      .withColumn("c", col("df_tot") - col("a"))
      .withColumn("dd", col("n_all") - col("n_src") - col("c"))
      .filter(col("a") * col("dd") > col("b") * col("c"))
      .withColumn("diff", col("a") * col("dd") - col("b") * col("c"))
      // raw chi2 (fixed IEEE chain on exact integers) drives the
      // RANKING; the published value goes through floor(x·1e6)/1e6 —
      // round() would read the shortest decimal repr and can split a
      // 6-dp tie across engines (§7e.7's second hazard class)
      .withColumn("chi2_raw",
        col("n_all").cast("double") * col("diff").cast("double")
          * col("diff").cast("double")
          / (col("n_src").cast("double")
            * (col("n_all") - col("n_src")).cast("double")
            * col("df_tot").cast("double")
            * (col("n_all") - col("df_tot")).cast("double")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("chi2_raw").desc, col("token"))
    j.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= KeynessK)
      .select(col("source"), col("token"), col("a").as("df_in_source"),
        col("c").as("df_rest"),
        (floor(col("chi2_raw") * 1e6).cast("double") / 1e6).as("chi2"),
        col("rank"))
  }

  private val keynessSql = {
    val toks = text.tokensSql
    s"""WITH ts AS (
       |  SELECT source, unnest(list_distinct($toks)) AS token
       |  FROM documents),
       |a AS (SELECT source, token, cast(count(*) as bigint) AS a
       |      FROM ts GROUP BY 1, 2),
       |dft AS (SELECT token, cast(sum(a) as bigint) AS df_tot
       |        FROM a GROUP BY 1),
       |sn AS (SELECT source, cast(count(*) as bigint) AS n_src
       |       FROM documents GROUP BY 1),
       |tot AS (SELECT cast(count(*) as bigint) AS n_all FROM documents),
       |j AS (
       |  SELECT a.source, a.token, a.a, dft.df_tot, sn.n_src, tot.n_all,
       |    sn.n_src - a.a AS b, dft.df_tot - a.a AS c,
       |    tot.n_all - sn.n_src - (dft.df_tot - a.a) AS dd
       |  FROM a
       |  JOIN dft USING (token) JOIN sn ON a.source = sn.source, tot
       |  WHERE dft.df_tot < tot.n_all),
       |k AS (
       |  SELECT source, token, a AS df_in_source, c AS df_rest,
       |    cast(n_all as double)
       |        * cast(a * dd - b * c as double)
       |        * cast(a * dd - b * c as double)
       |      / (cast(n_src as double)
       |        * cast(n_all - n_src as double)
       |        * cast(df_tot as double)
       |        * cast(n_all - df_tot as double)) AS chi2_raw
       |  FROM j WHERE a * dd > b * c)
       |SELECT source, token, df_in_source, df_rest,
       |  cast(floor(chi2_raw * 1e6) as double) / 1e6 AS chi2,
       |  cast(row_number() OVER (PARTITION BY source
       |       ORDER BY chi2_raw DESC, token) as int) AS rank
       |FROM k
       |QUALIFY rank <= $KeynessK""".stripMargin
  }

  /** Token-shape profile for tokenizer design: BPE-pretokenizer
    * classes (letter runs / digit runs / single symbols) × length,
    * with occurrence counts and distinct-type counts — the table
    * that sizes a subword vocabulary (how much of the stream is
    * short alpha runs vs digits vs punctuation). One regexp extract
    * + two-level partial/final agg bounded by classes × lengths. */
  def tokenShapes(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.parallelize(Tables.documents(s, d))
      .select(explode(expr(
        s"regexp_extract_all(${text.asciiLowerSql("text")}, '[a-z]+|[0-9]+|[^a-z0-9 \\\\t\\\\n\\\\x0b\\\\f\\\\r]', 0)"))
        .as("tok"))
      .select(col("tok"),
        when(col("tok").rlike("^[a-z]+$"), "alpha")
          .when(col("tok").rlike("^[0-9]+$"), "digit")
          .otherwise("symbol").as("cls"),
        length(col("tok")).as("len"))
    toks.groupBy(col("cls"), col("len"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("tok")).as("n_types"))
      .select(col("cls"), col("len").cast("int").as("len"),
        col("n_occurrences"), col("n_types"))
  }

  private val tokenShapesSql =
    s"""SELECT cls, cast(len as int) AS len,
      |  cast(count(*) as bigint) AS n_occurrences,
      |  cast(count(DISTINCT tok) as bigint) AS n_types
      |FROM (
      |  SELECT tok,
      |    CASE WHEN regexp_full_match(tok, '[a-z]+') THEN 'alpha'
      |         WHEN regexp_full_match(tok, '[0-9]+') THEN 'digit'
      |         ELSE 'symbol' END AS cls,
      |    length(tok) AS len
      |  FROM (
      |    SELECT unnest(regexp_extract_all(${text.asciiLowerSql("text")},
      |      '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0b\\f\\r]')) AS tok
      |    FROM documents))
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------ BPE merges

  /** Merge rounds the REGISTERED queries (vocab_bpe_merges /
    * vocab_bpe_segment) train and cross-engine-verify; [[trainBpe]]
    * takes any round count. */
  private[graft] val BpeSteps = 8

  /** First-k BPE merge learning — the inner loop of byte-pair-
    * encoding tokenizer training (the step `vocab_token_shapes`
    * sizes and `vocab_coverage` evaluates), looped for the first
    * [[BpeSteps]] merges: per step, count adjacent symbol pairs over
    * the DISTINCT-word relation weighted by corpus frequency, take
    * the argmax pair (count desc, then lexicographic — the
    * deterministic tiebreak real BPE trainers pin), and merge it
    * greedily left-to-right in every word. A production 30k-merge
    * run drives this same loop with a larger `steps` via
    * [[trainBpe]]; eight verified rounds are the design probe.
    *
    * Scale shape: everything is VOCAB-bounded, never corpus-bounded —
    * the word relation is the memoized (token, freq) aggregate, each
    * pair count is one partial/final agg over ≤ Σ|word| symbol pairs
    * of distinct words, the argmax is a 1-row broadcast, and the
    * merge is a narrow string map. Words are encoded as
    * space-wrapped symbol runs (" l  o  w ") so the merge is ONE
    * literal `replace(" a  b " → " ab ")` with identical
    * left-to-right non-overlap semantics in both engines — no regex,
    * no lookahead (RE2 has none). */
  // shared BPE step builders — bpeMerges (learn) and bpeSegment
  // (apply/report) walk the SAME chain, so these exist once
  private def bpeWords0(s: SparkSession, d: String): DataFrame =
    bpeEncode(tokenFreq(s, d))

  /** (token, freq) → space-wrapped symbol encoding (spec hook: the
    * property test drives synthetic corpora through the same chain). */
  private[graft] def bpeEncode(freq: DataFrame): DataFrame =
    freq.select(regexp_replace(col("token"), "(.)", " $1 ").as("enc"),
      col("freq"))

  private[graft] def bpePairs(words: DataFrame): DataFrame = {
    val syms = split(trim(col("enc")), "  ")
    val prs = when(size(syms) < 2,
      array().cast("array<struct<a:string,b:string>>"))
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("a"),
          element_at(syms, i + 1).as("b"))))
    words.select(col("freq"), explode(prs).as("p"))
      .select(col("freq"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(sum(col("freq")).as("n"))
  }

  private[graft] def bpeBest(pairsDf: DataFrame): DataFrame =
    pairsDf
      .agg(min(struct((-col("n")).as("negn"), col("a").as("a"),
        col("b").as("b"))).as("bp"))
      .select(col("bp.a").as("a"), col("bp.b").as("b"),
        (-col("bp.negn")).as("n"))

  private[graft] def bpeMerge(words: DataFrame, bestDf: DataFrame): DataFrame =
    // coalesce: a DRY step (no pairs anywhere — only possible on a
    // degenerate corpus of single-symbol words) leaves words unchanged
    // instead of nulling them
    words.crossJoin(broadcast(bestDf))
      .select(coalesce(expr("replace(enc, concat(' ', a, '  ', b, ' '), " +
        "concat(' ', a, b, ' '))"), col("enc")).as("enc"), col("freq"))

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeChain(s, d)._1

  /** The trained [[BpeSteps]]-round BPE chain, ONCE per dataset per
    * session: (merge table (step, left_sym, right_sym, pair_n,
    * merged), keyed per-step words (step, token, enc, freq) for
    * steps 0..[[BpeSteps]]). All three registered BPE consumers
    * (vocab_bpe_merges / vocab_bpe_segment / vocab_fertility)
    * previously re-ran the identical fold — steps × (one
    * vocab-bounded pair aggregation + one merge map) each — so the
    * training cost was paid three times per session; one shared
    * training pass is also the production shape (you train a
    * tokenizer once, then read its artifacts). Each step's words and
    * best-pair row are eagerly checkpointed (vocab-bounded, a few
    * MB); the chain is a [[graft.Memo.value]], so a query racing the
    * fill waits on the one training pass, and [[graft.Memo.clear]]
    * drops it and releases its checkpoints. */
  private[graft] def bpeChain(s: SparkSession,
                              d: String): (DataFrame, DataFrame) =
    graft.Memo.value(s, "bpe_chain", d) {
      val w0 = tokenFreq(s, d).select(col("token"),
        regexp_replace(col("token"), "(.)", " $1 ").as("enc"), col("freq"))
      val (stepRows, wordRows, _) = (1 to BpeSteps).foldLeft(
        (Seq.empty[DataFrame],
          Seq(w0.select(lit(0).as("step"), col("token"), col("enc"),
            col("freq"))), w0)) { case ((acc, ws, words), step) =>
        val b = graft.Checkpoints.eager(bpeBest(bpePairs(words)))
        val row = b.where(col("a").isNotNull)
          .select(lit(step).as("step"), col("a").as("left_sym"),
            col("b").as("right_sym"), col("n").as("pair_n"),
            concat(col("a"), col("b")).as("merged"))
        val merged = graft.Checkpoints.eager(bpeMergeKeyed(words, b))
        (acc :+ row,
          ws :+ merged.select(lit(step).as("step"), col("token"),
            col("enc"), col("freq")), merged)
      }
      (stepRows.reduce(_ unionAll _), wordRows.reduce(_ unionAll _))
    }

  /** Production entry: learn `steps` merges over the corpus token
    * frequencies. Identical chain to the registered probe, just a
    * caller-chosen round count — per-round eager checkpoints keep
    * the lineage flat, so cost is steps × (one vocab-bounded agg +
    * one narrow merge map); a 30k-merge run is 30k small jobs over a
    * vocab-sized relation, never a corpus rescan. */
  def trainBpe(s: SparkSession, d: String, steps: Int): DataFrame =
    bpeMergesFromWords(bpeWords0(s, d), steps)

  /** Instrumented training loop for the long-horizon scale probe
    * (graft.tools.BpeBench): the IDENTICAL per-round chain as
    * [[trainBpe]], materialized round by round, yielding (step, wall
    * seconds, executed-plan node count of that round's merged-words
    * checkpoint). The cost-model claim under test: per-round wall and
    * plan size stay FLAT as merges accumulate — each round reads only
    * the previous round's materialized checkpoint (vocab-bounded, a
    * few MB), never the chain back to the corpus, so a 30k-merge run
    * is 30k small jobs. Plan nodes are sampled every `planEvery`
    * rounds (collecting the executed plan costs a job itself). */
  private[graft] def bpeProbe(s: SparkSession, d: String, steps: Int,
                              planEvery: Int): Seq[(Int, Double, Int)] = {
    var words = bpeWords0(s, d)
    (1 to steps).map { step =>
      val t0 = System.nanoTime()
      val b = bpeBest(bpePairs(words))
      words = graft.Checkpoints.eager(bpeMerge(words, b))
      val secs = (System.nanoTime() - t0) / 1e9
      val nodes =
        if (step == 1 || step % planEvery == 0)
          words.queryExecution.executedPlan.collect { case p => p }.size
        else -1
      (step, secs, nodes)
    }
  }

  private[graft] def bpeMergesFromWords(
      words0: DataFrame, steps: Int = BpeSteps): DataFrame = {
    val (rows, _) = (1 to steps).foldLeft(
      (Seq.empty[DataFrame], words0)) { case ((acc, words), step) =>
      val b = bpeBest(bpePairs(words))
      // a dry step emits no row (filter, not a null row)
      val row = b.where(col("a").isNotNull)
        .select(lit(step).as("step"), col("a").as("left_sym"),
        col("b").as("right_sym"), col("n").as("pair_n"),
        concat(col("a"), col("b")).as("merged"))
      // per-step eager checkpoint: the next round's pair count and
      // every downstream consumer read the MATERIALIZED merged words
      // instead of re-deriving the whole chain (same per-round
      // lineage-cut discipline as the GraphOps iterative loops);
      // vocab-bounded, so the checkpoint is a few MB
      (acc :+ row, graft.Checkpoints.eager(bpeMerge(words, b)))
    }
    rows.reduce(_ unionAll _)
  }

  /** Shared mirror chain: tok → tf → w0, then per step k the CTEs
    * s$k (symbol lists) / p$k (pair counts) / b$k (argmax) / w${k+1}
    * (merged words) — both BPE mirrors compose this. */
  private def bpeChainSql(steps: Int): String = {
    val toks = text.tokensSql
    def iter(k: Int): String = {
      val w = s"w$k"
      s"""s$k AS (
         |  SELECT freq, string_split(trim(enc), '  ') AS syms FROM $w),
         |p$k AS (
         |  SELECT p.a AS a, p.b AS b, cast(sum(freq) as bigint) AS n
         |  FROM (SELECT freq,
         |          unnest(list_transform(range(1, len(syms)),
         |            i -> {'a': syms[i], 'b': syms[i+1]})) AS p
         |        FROM s$k)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
         |w${k + 1} AS MATERIALIZED (
         |  -- LEFT JOIN ON true + coalesce keeps the step TOTAL: a dry
         |  -- step (empty b$k) must leave words unchanged, exactly like
         |  -- the Spark side's coalesce in bpeMerge — a comma cross-join
         |  -- would return zero rows and empty every later step
         |  SELECT tok,
         |         coalesce(replace(enc, ' ' || b$k.a || '  ' || b$k.b || ' ',
         |                          ' ' || b$k.a || b$k.b || ' '), enc) AS enc,
         |         freq
         |  FROM $w LEFT JOIN b$k ON true)""".stripMargin
    }
    s"""tok AS (SELECT unnest($toks) AS w FROM documents),
       |tf AS (SELECT w, cast(count(*) as bigint) AS freq FROM tok GROUP BY 1),
       |w0 AS (SELECT w AS tok, regexp_replace(w, '(.)', ' \\1 ', 'g') AS enc,
       |              freq
       |       FROM tf),
       |${(0 until steps).map(iter).mkString(",\n")}""".stripMargin
  }

  private val bpeMergesSql = {
    val unions = (0 until BpeSteps).map { k =>
      s"SELECT ${k + 1} AS step, a AS left_sym, b AS right_sym, " +
        s"n AS pair_n, a || b AS merged FROM b$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeChainSql(BpeSteps)}
       |  $unions""".stripMargin
  }

  /** [[bpeMerge]] carrying the source `token` key through the merge
    * (the fertility table needs token → FINAL encoding). */
  private def bpeMergeKeyed(words: DataFrame, bestDf: DataFrame): DataFrame =
    words.crossJoin(broadcast(bestDf))
      .select(col("token"),
        coalesce(expr("replace(enc, concat(' ', a, '  ', b, ' '), " +
          "concat(' ', a, b, ' '))"), col("enc")).as("enc"), col("freq"))

  /** Per-LANGUAGE subword fertility under the trained [[BpeSteps]]
    * merges — the multilingual tokenizer-budget table (fertility =
    * subword symbols emitted per word; a language at 2× fertility
    * pays 2× the sequence length, compute, and context budget for
    * the same text — THE number a multilingual data mix is balanced
    * against). One global tokenizer (the production shape: merges
    * train corpus-wide, exactly [[bpeMerges]]' chain with the token
    * key riding along), then per-lang exact integer rollups: token
    * occurrences by language × each token's FINAL symbol count.
    *
    * Scale shape: the merge fold is vocab-bounded (identical to
    * bpeMerges — per-round eager checkpoint, one narrow map + one
    * vocab agg per round); the per-lang counts are one
    * map-side-combined agg over the memoized tokenize pass; the
    * final join is vocab × langs. Nothing corpus-sized shuffles. */
  def fertility(s: SparkSession, d: String): DataFrame = {
    // final-step encodings off the session-trained chain (the same
    // keyed fold this query previously re-ran privately)
    val finalEnc = bpeChain(s, d)._2.filter(col("step") === BpeSteps)
    val nSyms = finalEnc.select(col("token"),
      size(split(trim(col("enc")), "  ")).cast("long").as("n_syms"))
    val byLang = docToks(s, d)
      .select(col("lang"), explode(col("toks")).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("freq"))
    byLang.join(nSyms, "token")
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * col("n_syms")).as("n_syms"))
      .select(col("lang"), col("n_tokens"), col("n_syms"),
        expr("n_syms * 1000000 div n_tokens").as("fertility_ppm"))
  }

  private val fertilitySql = {
    val toks = text.tokensSql
    s"""WITH ${bpeChainSql(BpeSteps)},
       |nsyms AS (
       |  SELECT tok AS token,
       |    cast(len(string_split(trim(enc), '  ')) as bigint) AS n_syms
       |  FROM w$BpeSteps),
       |bylang AS (
       |  SELECT lang, token, cast(count(*) as bigint) AS freq
       |  FROM (SELECT lang, unnest($toks) AS token FROM documents)
       |  GROUP BY 1, 2)
       |SELECT b.lang, cast(sum(b.freq) as bigint) AS n_tokens,
       |  cast(sum(b.freq * n.n_syms) as bigint) AS n_syms,
       |  cast(sum(b.freq * n.n_syms) * 1000000 // sum(b.freq) as bigint)
       |    AS fertility_ppm
       |FROM bylang b JOIN nsyms n USING (token)
       |GROUP BY 1""".stripMargin
  }

  /** The APPLY side of BPE training — segment the corpus with the
    * first 0..[[BpeSteps]] learned merges and report the compression
    * curve: weighted total symbols, exact symbols-per-token in ppm,
    * and the cumulative symbol-count reduction vs the character
    * baseline (step 0). This is the number that decides how many
    * merges a vocabulary budget buys (the marginal compression of
    * each merge), read before committing a tokenizer to a 100 TB
    * encode. Same vocab-bounded chain as vocab_bpe_merges — one
    * symbol-count aggregation per step, token totals broadcast as a
    * 1-row relation. */
  def bpeSegment(s: SparkSession, d: String): DataFrame = {
    // one aggregation over the session-trained chain's per-step words
    // (9 × vocab rows) instead of re-running the whole training fold
    val st = bpeChain(s, d)._2
      .select(col("step"), col("freq"),
        size(split(trim(col("enc")), "  ")).cast("long").as("ns"))
      .groupBy(col("step"))
      .agg(sum(col("freq")).as("n_tokens"),
        sum(col("freq") * col("ns")).as("n_syms"))
    val base = st.filter(col("step") === 0)
      .select(col("n_syms").as("base_syms"))
    st.crossJoin(broadcast(base))
      .select(col("step"), col("n_tokens"), col("n_syms"),
        expr("n_syms * 1000000 div n_tokens").as("syms_per_token_ppm"),
        expr("(base_syms - n_syms) * 1000000 div base_syms")
          .as("reduction_ppm"))
  }

  private val bpeSegmentSql = {
    // w0..w3 exist in the chain; s_k lists only up to steps-1, so
    // count symbols directly from each w_k
    val stats = (0 to BpeSteps).map { k =>
      s"SELECT $k AS step, cast(sum(freq) as bigint) AS n_tokens, " +
        s"cast(sum(freq * len(string_split(trim(enc), '  '))) as bigint) " +
        s"AS n_syms FROM w$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeChainSql(BpeSteps)},
       |st AS (
       |  $stats),
       |base AS (SELECT n_syms AS base_syms FROM st WHERE step = 0)
       |SELECT step, n_tokens, n_syms,
       |  cast(n_syms * 1000000 // n_tokens as bigint) AS syms_per_token_ppm,
       |  cast((base_syms - n_syms) * 1000000 // base_syms as bigint)
       |    AS reduction_ppm
       |FROM st, base""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vocab_bpe_merges" -> (bpeMerges _),
    "vocab_fertility" -> (fertility _),
    "vocab_bpe_segment" -> (bpeSegment _),
    "vocab_token_shapes" -> (tokenShapes _),
    "vocab_keyness" -> (keyness _),
    "doc_hybrid_search" -> (hybridSearch _),
    "vocab_growth" -> (vocabGrowth _),
    "vocab_oov_rate" -> (oovRate _),
    "vocab_freq_spectrum" -> (freqSpectrum _),
    "vocab_coverage" -> (coverage _),
    "vocab_pmi" -> (pmi _),
    "vocab_df" -> (docFreq _),
    "doc_tfidf" -> (docTfidf _),
    "vocab_ngram_topk" -> (ngramTopK _),
    "doc_bm25" -> (bm25 _),
    "text_lm_score" -> (lmScore _),
    "text_ppl_bucket" -> (pplBucket _))

  val oracle: Map[String, String] = Map(
    "vocab_bpe_merges" -> bpeMergesSql,
    "vocab_fertility" -> fertilitySql,
    "vocab_bpe_segment" -> bpeSegmentSql,
    "vocab_token_shapes" -> tokenShapesSql,
    "vocab_keyness" -> keynessSql,
    "doc_hybrid_search" -> hybridSearchSql,
    "vocab_growth" -> vocabGrowthSql,
    "vocab_oov_rate" -> oovRateSql,
    "vocab_freq_spectrum" -> freqSpectrumSql,
    "vocab_coverage" -> coverageSql,
    "vocab_pmi" -> pmiSql,
    "vocab_df" -> docFreqSql,
    "doc_tfidf" -> docTfidfSql,
    "vocab_ngram_topk" -> ngramTopKSql,
    "doc_bm25" -> bm25Sql,
    "text_lm_score" -> lmScoreSql,
    "text_ppl_bucket" -> pplBucketSql)
}

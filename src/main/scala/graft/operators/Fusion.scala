package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank fusion for hybrid retrieval: combine per-query rankings from
  * heterogeneous retrievers (BM25 lexical, dense-vector ANN, …) with
  * reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
  * the standard score-free fusion that needs NO calibration between
  * retriever score scales because only ranks enter.
  *
  * Reference analogue: none (beyond-reference retrieval capability,
  * composing the engine's existing BM25 and ANN operators).
  *
  * Exactness: RRF contributions are INTEGER fixed-point —
  * `Scale div (k + rank)` — so fused scores are exact sums, ordering
  * is engine-deterministic (ties broken by doc id), and the fusion is
  * oracle-checkable whenever the input rankings are.
  *
  * Scale: each retriever already emits a top-k per query, so the
  * fusion input is (queries × sources × k) rows — bounded by
  * construction, never corpus-sized. One (query, doc) partial-agg
  * shuffle, then a rank window whose partitions hold ≤ sources·k rows.
  */
object Fusion {

  /** Fixed-point numerator: contribution of rank r is
    * `Scale div (k + r)` — integer-exact on both engines. */
  val Scale = 1000000000L

  /** Fuse rankings, each shaped (queryCol, docCol, rankCol) with
    * 1-based integer ranks. Output per query: top `topK` docs by
    * (rrf_fp DESC, doc) with columns (queryCol, rank, docCol, rrf_fp,
    * n_sources). A doc absent from one source simply gets no
    * contribution from it (standard RRF). */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, docCol: String,
              rankCol: String, topK: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contrib = rankings.map(_.select(
      col(queryCol), col(docCol),
      expr(s"${Scale}L div (${kRrf}L + cast($rankCol as long))")
        .as("__c")))
    val fused = contrib.reduce(_.unionByName(_))
      .groupBy(col(queryCol), col(docCol))
      .agg(sum(col("__c")).as("rrf_fp"), count(lit(1)).as("n_sources"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_fp").desc, col(docCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(queryCol), col("rank"), col(docCol), col("rrf_fp"),
        col("n_sources"))
  }

  /** Exact retrieval evaluation — per-query Recall@k and fixed-point
    * reciprocal rank against a relevance-pair ground truth: the eval
    * primitive that closes the retrieval loop (BM25 / ANN / fusion
    * emit rankings; this scores them). All integer —
    * `recall_bp = hits·10⁴ div min(k, n_truth)` (the @k-attainable
    * denominator) and `rr_fp = 10⁶ div first_rank` (0 when no truth
    * doc ranks) — so the whole report is engine-exact; mean MRR/recall
    * are one trivial aggregate over the output. Output per truth
    * query: (query, n_truth, hits, first_rank, recall_bp, rr_fp);
    * queries with no truth pairs are omitted (recall undefined).
    *
    * Scale: truth pairs dedupe once (checkpointed — the per-query
    * count and the hit join both read them); hits are one
    * (query, doc) equi-join + a per-query partial agg. Rankings are
    * top-k-bounded by construction, truth stays a distributed frame —
    * nothing is broadcast by assumption, no windows. */
  def retrievalMetrics(results: DataFrame, truth: DataFrame,
                       queryCol: String, docCol: String, rankCol: String,
                       k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val res = results.filter(col(rankCol) <= k)
      .select(col(queryCol), col(docCol), col(rankCol).cast("long").as("__rk"))
    val tr = truth.select(col(queryCol), col(docCol)).distinct()
      .transform(Materialize(_)) // n_truth agg + hit join both read it
    val nTruth = tr.groupBy(col(queryCol)).agg(count(lit(1)).as("n_truth"))
    val hits = res.join(tr, Seq(queryCol, docCol))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("hits"), min(col("__rk")).as("first_rank"))
    nTruth.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("first_rank"), lit(0L)).as("first_rank"))
      .withColumn("recall_bp",
        expr(s"(hits * 10000L) div least(n_truth, ${k}L)"))
      .withColumn("rr_fp",
        when(col("first_rank") > 0, expr("1000000L div first_rank"))
          .otherwise(lit(0L)))
  }

  /** Hybrid lexical+dense retrieval: BM25 over `text`/`textCol` fused
    * with exact cosine top-k over `emb`/`embCol`, RRF-combined. The
    * two retrievers run on their own tables (ids must agree);
    * `queries` supplies (query_id, query_text) for BM25 and
    * `queryPred` selects the matching query rows in `emb` for the
    * dense side. Per-retriever depth `kEach` defaults to 4× the fused
    * `topK` (fusion can promote a doc ranked deep in one list). */
  def hybridTopK(text: DataFrame, idCol: String, textCol: String,
                 emb: DataFrame, embIdCol: String, embCol: String,
                 queries: Seq[(Long, String)], queryPred: Column,
                 topK: Int, kEach: Int = 0, kRrf: Int = 60): DataFrame = {
    val depth = if (kEach > 0) kEach else topK * 4
    val lexical = TextIndex.bm25TopK(text, idCol, textCol, queries, depth)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.topK(emb, embIdCol, embCol, queryPred, depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lexical, dense), "query_id", "doc_id", "rank", topK, kRrf)
  }

  /** ENGINE-EXACT hybrid retrieval: [[TextIndex.bm25TopKExactFp]]
    * (integer BM25) fused with [[Quantize.topKQuantized]] (int8
    * integer-MIPS dense ranking) through the integer RRF kernel —
    * every input rank and every fused score is an integer, so the
    * whole hybrid result hash-checks. The dense retriever is the int8
    * quantized-MIPS one (the standard first compression step at
    * corpus scale) rather than float cosine — rankings agree wherever
    * the quantization gap doesn't flip a pair, and the float variant
    * [[hybridTopK]] stays for calibration studies. Same plan shape:
    * both retrievers emit panel×depth rows; fusion is one partial-agg
    * shuffle plus a ≤ 2·depth-row per-query rank window. */
  def hybridTopKExactFp(text: DataFrame, idCol: String, textCol: String,
                        emb: DataFrame, embIdCol: String, embCol: String,
                        queries: Seq[(Long, String)], queryPred: Column,
                        topK: Int, kEach: Int = 0,
                        kRrf: Int = 60): DataFrame = {
    val depth = if (kEach > 0) kEach else topK * 4
    val lexical = TextIndex.bm25TopKExactFp(text, idCol, textCol,
        queries, depth)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Quantize.topKQuantized(emb, embIdCol, embCol, queryPred,
        depth, Quantize.scaleOf(emb, embCol))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lexical, dense), "query_id", "doc_id", "rank", topK, kRrf)
  }

  /** Fixed-point DCG discount table: round(scale / log2(r+1)) for
    * r = 1..k — pure math constants; embed the SAME literals in any
    * oracle (the [[graft.operators.Profile.BenfordFp]] pattern). */
  def ndcgDiscFp(k: Int, scale: Long = 1000000L): Seq[Long] =
    (1 to k).map(r => math.round(scale / (math.log(r + 1.0) / math.log(2.0))))

  /** Exact NDCG@k (binary relevance) per query — positional quality
    * where Recall@k is positional-blind: DCG_fp sums the fixed-point
    * discount of each hit's rank, IDCG_fp is the discount prefix-sum at
    * min(k, n_truth), and ndcg_fp = scale·DCG div IDCG. Because the
    * discounts are embedded integer constants, the whole metric is
    * engine-exact despite the log in its definition.
    *
    * Scale: same shape as [[retrievalMetrics]] — truth dedupes once
    * (checkpointed), results dedupe on (query, doc) keeping the best
    * rank (a duplicated doc must not earn its discount twice), hits
    * are one (query, doc) equi-join with a per-row array-literal
    * discount lookup, per-query partial aggs; nothing ranks globally.
    * Queries without truth are dropped; queries with no hits report 0.
    * Output: (queryCol, n_truth, dcg_fp, idcg_fp, ndcg_fp). */
  def ndcgAtK(results: DataFrame, truth: DataFrame, queryCol: String,
              docCol: String, rankCol: String, k: Int,
              scale: Long = 1000000L): DataFrame = {
    require(k >= 1 && k <= 1000, "k must be in [1, 1000]")
    val disc = ndcgDiscFp(k, scale)
    val cum = disc.scanLeft(0L)(_ + _).tail
    // dedupe on (query, doc) keeping the best rank: a doc listed
    // twice in a ranking must not earn its discount twice
    val res = results.filter(col(rankCol) >= 1 && col(rankCol) <= k)
      .groupBy(col(queryCol), col(docCol))
      .agg(min(col(rankCol).cast("int")).as("__rk"))
    val tr = truth.select(col(queryCol), col(docCol)).distinct()
      .transform(Materialize(_)) // n_truth agg + hit join both read it
    val nT = tr.groupBy(col(queryCol)).agg(count(lit(1)).as("n_truth"))
    val dcg = res.join(tr, Seq(queryCol, docCol))
      .select(col(queryCol),
        element_at(array(disc.map(lit): _*), col("__rk")).as("__d"))
      .groupBy(col(queryCol)).agg(sum(col("__d")).as("dcg_fp"))
    nT.join(dcg, Seq(queryCol), "left")
      .na.fill(0L, Seq("dcg_fp"))
      .withColumn("idcg_fp",
        element_at(array(cum.map(lit): _*),
          least(col("n_truth"), lit(k.toLong)).cast("int")))
      .withColumn("ndcg_fp", expr(s"($scale * dcg_fp) div idcg_fp"))
  }

  /** Exact-integer Average Precision@k (binary relevance) per query —
    * the rank-sensitive retrieval score NDCG's log discount smooths
    * over: each HIT at rank j contributes its precision-at-j, and the
    * sum normalizes by the best achievable hit count. Declared integer
    * procedure (the [[ndcgAtK]] posture): per-hit terms floor once —
    * `term_j = (scale·relcnt_j) div j` — and
    * `ap_fp = Σ term_j div min(n_truth, k)`, so any engine reproduces
    * the value bit-for-bit.
    *
    * Scale: truth dedupes once (checkpointed); results dedupe on
    * (query, doc) keeping the best rank (a duplicated doc must not
    * inflate relcnt or n_hits); hits are one (query, doc) equi-join;
    * relcnt is a row_number over each query's ≤ k HIT rows
    * (fine-keyed, k-bounded partitions); one per-query partial agg.
    * Queries without truth are dropped; queries with no hits report
    * 0. Output: (queryCol, n_truth, n_hits, ap_fp). */
  def averagePrecisionAtK(results: DataFrame, truth: DataFrame,
                          queryCol: String, docCol: String,
                          rankCol: String, k: Int,
                          scale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    require(scale >= 1, "scale must be >= 1")
    val res = results.filter(col(rankCol) >= 1 && col(rankCol) <= k)
      .groupBy(col(queryCol), col(docCol))
      .agg(min(col(rankCol).cast("long")).as("__rk"))
    val tr = truth.select(col(queryCol), col(docCol)).distinct()
      .transform(Materialize(_)) // n_truth agg + hit join both read it
    val nT = tr.groupBy(col(queryCol)).agg(count(lit(1)).as("n_truth"))
    val wq = Window.partitionBy(col(queryCol)).orderBy(col("__rk"))
    val ap = res.join(tr, Seq(queryCol, docCol))
      .withColumn("__relcnt", row_number().over(wq).cast("long"))
      .withColumn("__term", expr(s"($scale * __relcnt) div __rk"))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_hits"), sum(col("__term")).as("__sum"))
    nT.join(ap, Seq(queryCol), "left")
      .na.fill(0L, Seq("n_hits", "__sum"))
      .withColumn("ap_fp",
        expr(s"__sum div least(n_truth, ${k.toLong}L)"))
      .drop("__sum")
  }

  /** Rank-biased overlap at depth k (Webber, Moffat & Zobel TOIS'10)
    * with persistence p = 1/2 — the RANKING-DRIFT monitor: how much do
    * two rankers agree, top-weighted, without any relevance labels
    * (retrievalMetrics/ndcg score one ranking against truth; RBO
    * compares two rankings against each other — the "did the new
    * ranker version change results?" release gate). p = 1/2 makes
    * every depth weight `(1−p)p^(d−1) = 2^−d` exactly dyadic, so
    * `rbo_fp = Σ_{d≤k} ⌊scale·|A_d ∩ B_d| / (d·2^d)⌋` is a declared
    * integer procedure any engine reproduces (truncated-at-k RBO:
    * identical rankings score scale·(1−2^−k) minus floor dust).
    *
    * Scale: one (query, doc) equi-join of the two rank frames — a
    * shared doc contributes to every depth ≥ max(rank_a, rank_b), so
    * overlaps reduce to a ≤ k-row per-query tally exploded over the
    * ≤ k remaining depths (grid ≤ queries × k, never docs); the 2^d
    * divisors are generated literals (no float pow). Output:
    * (queryCol, rbo_fp), 0 for zero-overlap queries. */
  def rboAtK(a: DataFrame, b: DataFrame, queryCol: String,
             docCol: String, rankCol: String, k: Int,
             scale: Long = 1000000L): DataFrame = {
    require(k >= 1 && k <= 30, s"depth $k outside [1, 30]")
    def side(df: DataFrame, as: String) = df.select(
        col(queryCol), col(docCol),
        col(rankCol).cast("long").as(as))
      .filter(col(as).between(1, k))
    val shared = side(a, "__ra").join(side(b, "__rb"),
        Seq(queryCol, docCol))
      .select(col(queryCol),
        greatest(col("__ra"), col("__rb")).cast("int").as("__m"))
      .groupBy(col(queryCol), col("__m"))
      .agg(count(lit(1)).as("__c"))
    val pow2 = (1 to k).map(1L << _)
    val perQuery = shared
      .withColumn("__d", explode(expr(s"sequence(__m, $k)")))
      .groupBy(col(queryCol), col("__d"))
      .agg(sum(col("__c")).as("__ov"))
      .withColumn("__t", expr(s"($scale * __ov) div " +
        s"(cast(__d as bigint) * " +
        s"element_at(array(${pow2.mkString("L,")}L), __d))"))
      .groupBy(col(queryCol))
      .agg(sum(col("__t")).as("rbo_fp"))
    val queries = a.select(col(queryCol))
      .unionByName(b.select(col(queryCol))).distinct()
    queries.join(perQuery, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("rbo_fp"), lit(0L)).as("rbo_fp"))
  }
}

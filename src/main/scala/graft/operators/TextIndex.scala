package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus indexing: inverted-index postings and BM25 retrieval.
  *
  * Tokenization matches the engine's whitespace convention
  * (`split(trim(text), "\s+")` — same as topVocab / token counting), so
  * the postings are oracle-checkable with DuckDB's
  * `regexp_split_to_array`.
  */
object TextIndex {

  private def terms(text: Column): Column = split(trim(text), "\\s+")

  /** Inverted-index postings: (term, doc_id, tf) for terms whose document
    * frequency is ≥ `minDf` (vocabulary pruning — drops the hapax tail
    * that dominates raw vocab size but serves no retrieval purpose).
    *
    * Plan shape: one explode → one (term, doc) partial-agg shuffle for
    * tf; df comes from `groupBy(term)` over tf — map-side partial
    * aggregation collapses even a stopword's postings to one count per
    * input partition, so that shuffle carries term counts, never
    * postings. The vocabulary is pruned to `df ≥ minDf` FIRST and then
    * attached by broadcast join — the postings are shuffled exactly
    * once, and a window over bare (skewed) `term` never appears.
    * tf is locally checkpointed because both the vocabulary build and
    * the probe side read it (Catalyst would otherwise prune the two
    * branches into different subtrees and scan + explode the corpus
    * twice) — postings are (8B, 8B, 8B) rows, spillable, and an index
    * build materializes them anyway.
    */
  /** `broadcastVocab`: the pruned vocabulary is small at moderate scale
    * and broadcasting it keeps the postings un-reshuffled — but Heaps'
    * law means a web-scale corpus keeps tens of millions of `df ≥
    * minDf` terms, past any broadcast budget. Set it false there to
    * attach df by the same salted join `characteristicTerms` uses
    * (graceful: one more postings shuffle, spread across salt keys,
    * no driver/executor memory cliff). */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Int, broadcastVocab: Boolean = true,
                    dfSalt: Int = 8): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(terms(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_))
    val vocab = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    (if (broadcastVocab) tf.join(broadcast(vocab), Seq("term"))
     else Skew.saltedJoin(tf, vocab, Seq("term"), salt = dfSalt))
      .select("term", "doc_id", "tf")
  }

  /** Exact keyword extraction: the k most characteristic terms per
    * document, ranked by (tf DESC, df ASC, term ASC) — the TF-IDF
    * ordering realized with pure integer/string comparisons, so the
    * result is engine-exact (no float idf anywhere).
    *
    * Unlike `invertedIndex` there is no df prune here, so the full
    * vocabulary (hapax tail included) is too large to broadcast at
    * corpus scale. df still comes from a `groupBy(term)` partial agg
    * (tiny shuffle), but it is attached with a SALTED join
    * ([[Skew.saltedJoin]], df table replicated across `dfSalt`
    * sub-keys): a stopword's postings spread over `dfSalt` tasks
    * instead of landing in one window partition. The final per-doc rank
    * window partitions by doc_id, which is naturally unskewed (bounded
    * by document length). Output (doc_id, rank, term, tf, df).
    */
  def characteristicTerms(df: DataFrame, idCol: String, textCol: String,
                          k: Int, dfSalt: Int = 8): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = df.select(col(idCol).as("doc_id"),
        explode(terms(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df"), col("term"))
    Skew.saltedJoin(tf, dfTbl, Seq("term"), salt = dfSalt)
      .withColumn("rank", row_number().over(wd))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"),
        col("term"), col("tf"), col("df"))
  }

  /** Exact phrase search: documents containing the consecutive token
    * sequence `phrase`, with the exact occurrence count (overlapping
    * occurrences count — "a a a" contains "a a" twice). Output:
    * (doc_id, n_matches). The positional-index retrieval primitive
    * next to [[bm25TopK]]'s bag-of-words scoring.
    *
    * Scale: ONE tokenize + posexplode pass keeps only phrase-term
    * positions (the `isin` filter runs before any shuffle, so a
    * 50-term vocabulary document contributes just its phrase-term
    * hits), then the match is |phrase|−1 equi-joins on
    * (doc_id, anchor_pos) — all co-located after the first shuffle;
    * the filtered position table is locally checkpointed because every
    * chain step probes it. No windows, all integer — hash-checks
    * against the same join chain over `generate_subscripts`. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phrase must have at least 2 tokens")
    require(phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "phrase tokens must be non-empty and whitespace-free")
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(terms(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .transform(Materialize(_)) // probed once per phrase token
    var cur = toks.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("__p0"))
    for (i <- 1 until phrase.size)
      cur = cur.join(
        toks.filter(col("term") === phrase(i))
          .select(col("doc_id"), (col("pos") - i).as("__p0")),
        Seq("doc_id", "__p0"))
    cur.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }

  /** BM25 top-k retrieval for a small set of queries (broadcast).
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)); score = Σ_t idf(t) ·
    * tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)). Output
    * (query_id, rank, doc_id, score). Scores are floats → rows-only +
    * spec, not hash-oracled. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val docTerms = df.select(col(idCol).as("doc_id"),
        terms(col(textCol)).as("__terms"))
      .select(col("doc_id"), size(col("__terms")).as("dl"),
        explode(col("__terms")).as("term"))
    val tf = docTerms.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

    // Corpus stats: N and avgdl are scalars (cheap distributed aggs);
    // df per term rides the same (term) partitioning as the join below.
    val stats = df.select(col(idCol), size(terms(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")).head
    val nDocs = stats.getLong(0)
    // empty corpus: avg(dl) is null; the placeholder is never used
    // downstream because tf is empty, but getDouble would NPE
    val avgdl = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)

    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qTerms = queries.toDF("query_id", "__qtext")
      .select(col("query_id"),
        explode(array_distinct(terms(col("__qtext")))).as("term"),
        lit(1.0).as("__qw"))
    bm25Score(tf, dfTbl, qTerms, nDocs, avgdl, k, k1, b)
  }

  /** ENGINE-EXACT BM25 top-k at the (k1 = 1.2, b = 0.75) default
    * profile — the hash-checkable twin of [[bm25TopK]]: every float in
    * the classic formula is replaced by an exact integer form, so the
    * scores (and therefore the ranking, ties and all) reproduce
    * bit-for-bit on any engine.
    *
    *  - idf: ln(1 + (N−df+0.5)/(df+0.5)) = ln((N+1)/(df+0.5)) becomes
    *    `idf_fp = PortableLn.lnFp(2(N+1), 2df+1)` ≈ 10^6·ln — the
    *    portable shift-and-square fixed-point log, computed DRIVER-side
    *    for just the query terms' df values (queries are a driver Seq
    *    by contract, so this panel is model-sized) and attached as a
    *    broadcast literal frame.
    *  - saturation: with k1 = 6/5, b = 3/4 and avgdl = T/N (T = total
    *    tokens), tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) multiplies out to
    *    the single integer division 22·tf·T / (10·tf·T + 3·T + 9·dl·N),
    *    so each term's weight is ONE floor division:
    *    `w_fp = (idf_fp·22·tf·T) div (10·tf·T + 3·T + 9·dl·N)`.
    *
    * Magnitudes are REQUIREd into signed-64 range up front from the
    * collected (N, T, max dl) — a corpus past that gets the loud
    * bounds error, not a silent wrap (ANSI posture).
    *
    * Scale: same plan as [[bm25TopK]] — one tokenize/explode, one
    * (term, doc) partial agg, query-term df by one filtered partial
    * agg, broadcast query join, per-query top-k window over the
    * candidate set. Output (query_id, rank, doc_id, score_fp). */
  def bm25TopKExactFp(df: DataFrame, idCol: String, textCol: String,
                      queries: Seq[(Long, String)], k: Int): DataFrame = {
    require(queries.nonEmpty, "at least one query")
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    val docTerms = df.select(col(idCol).as("doc_id"),
        terms(col(textCol)).as("__terms"))
      .select(col("doc_id"), size(col("__terms")).as("dl"),
        explode(col("__terms")).as("term"))
    val tf = docTerms.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_)) // probed by the df agg AND the score join

    // null-text docs (dl = −1 under size()) carry no terms and score
    // nowhere; exclude them from the corpus constants too
    val stats = df.select(size(terms(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") >= 0)
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t"),
        max(col("dl")).as("m")).head
    val nDocs = stats.getLong(0)
    require(nDocs > 0, "empty corpus")
    val tTok = stats.getLong(1)
    val maxDl = stats.getLong(2)

    val qTerms = queries.flatMap { case (qid, qt) =>
      qt.trim.split("\\s+").distinct.map(t => (qid, t)) }
    val termSet = qTerms.map(_._2).distinct
    val dfMap = tf.filter(col("term").isin(termSet: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val idfMap = dfMap.map { case (term, d) =>
      term -> graft.functions.PortableLn.lnFp(
        BigInt(2) * (nDocs + 1), BigInt(2) * d + 1) }
    val maxIdf = if (idfMap.isEmpty) 0L else idfMap.values.max
    require(BigInt(maxIdf) * 22 * maxDl * tTok <= Long.MaxValue &&
      BigInt(10) * maxDl * tTok + 3L * tTok +
        BigInt(9) * maxDl * nDocs <= Long.MaxValue,
      s"bm25TopKExactFp: corpus constants (N=$nDocs, T=$tTok, " +
        s"maxdl=$maxDl) push the integer score past signed-64 — " +
        "shard the corpus or rescale")
    val qidf = qTerms.collect { case (qid, term)
        if idfMap.contains(term) => (qid, term, idfMap(term)) }
      .toDF("query_id", "term", "idf_fp")

    val scored = tf.join(broadcast(qidf), Seq("term"))
      .withColumn("__w", expr(
        s"(idf_fp * 22 * tf * ${tTok}L) div " +
          s"(10 * tf * ${tTok}L + 3 * ${tTok}L + 9 * dl * ${nDocs}L)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__w")).as("score_fp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score_fp"))
  }

  /** Shared weighted-BM25 scoring tail: a (query_id, term, __qw)
    * weighted query table scores against the corpus tf/df tables; the
    * per-(query, doc) score is Σ __qw·idf·tf-saturation and top-k
    * resolves per query. `qTerms` must be broadcast-small. */
  private def bm25Score(tf: DataFrame, dfTbl: DataFrame,
                        qTerms: DataFrame, nDocs: Long, avgdl: Double,
                        k: Int, k1: Double, b: Double): DataFrame = {
    val scored = tf
      .join(broadcast(qTerms), Seq("term")) // only query terms survive
      .join(dfTbl, Seq("term"))
      .withColumn("__idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("__w",
        col("__qw") * col("__idf") * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__w")).as("score"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score"))
  }

  /** RM3 pseudo-relevance feedback retrieval (Lavrenko & Croft 2001 /
    * Abdul-Jaleel et al. 2004, public formulation): run [[bm25TopK]],
    * estimate a relevance model from the top `fbDocs` documents
    * (`P(t|R) ∝ Σ_d tf_{t,d}/dl_d`, uniform doc prior), keep the top
    * `fbTerms` expansion terms, interpolate with the original query
    * (`λ·P_mle(t|q) + (1−λ)·P_rm1(t)`), and re-score the corpus with
    * the weighted query — the classic fix for vocabulary mismatch (a
    * "car" query retrieving "auto"-only documents via the feedback
    * bridge). Float scores → rows-only; the spec pins the synonym-
    * bridge behavior.
    *
    * Scale: the corpus tf/df tables build ONCE (checkpointed) and feed
    * both passes; the feedback join touches only queries×fbDocs rows
    * (broadcast); expansion-term selection is a row_number over each
    * query's ≤ fbDocs·|doc vocab| candidate rows. Output:
    * (query_id, rank, doc_id, score). */
  def rm3TopK(df: DataFrame, idCol: String, textCol: String,
              queries: Seq[(Long, String)], k: Int, fbDocs: Int = 5,
              fbTerms: Int = 10, lambdaOrig: Double = 0.5,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(fbDocs >= 1 && fbTerms >= 1, "fbDocs/fbTerms must be >= 1")
    require(lambdaOrig >= 0.0 && lambdaOrig <= 1.0, "lambda in [0,1]")

    val docTerms = df.select(col(idCol).as("doc_id"),
        terms(col(textCol)).as("__terms"))
      .select(col("doc_id"), size(col("__terms")).as("dl"),
        explode(col("__terms")).as("term"))
    val tf = docTerms.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_)) // both retrieval passes + the feedback join
    val stats = df.select(col(idCol), size(terms(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")).head
    val nDocs = stats.getLong(0)
    val avgdl = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .transform(Materialize(_))

    val qTerms1 = queries.toDF("query_id", "__qtext")
      .select(col("query_id"),
        explode(array_distinct(terms(col("__qtext")))).as("term"),
        lit(1.0).as("__qw"))
    val fb = bm25Score(tf, dfTbl, qTerms1, nDocs, avgdl, fbDocs, k1, b)
      .select(col("query_id"), col("doc_id"))

    // relevance model over the feedback docs; top fbTerms per query
    val wExp = Window.partitionBy(col("query_id"))
      .orderBy(col("__rm").desc, col("term"))
    val rm1 = tf.join(broadcast(fb), Seq("doc_id"))
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf").cast("double") / col("dl")).as("__rm"))
      .withColumn("__rn", row_number().over(wExp))
      .filter(col("__rn") <= fbTerms)
      .drop("__rn")
    val wNorm = Window.partitionBy(col("query_id"))
    val expTerms = rm1.withColumn("__rmn",
      col("__rm") / sum(col("__rm")).over(wNorm))

    // interpolate with the original query MLE (1/|q| per distinct term)
    val qSizes = qTerms1.groupBy("query_id")
      .agg(count(lit(1)).as("__ql"))
    val orig = qTerms1.join(qSizes, Seq("query_id"))
      .select(col("query_id"), col("term"),
        (lit(lambdaOrig) / col("__ql")).as("__qw"))
    val expanded = expTerms
      .select(col("query_id"), col("term"),
        (lit(1.0 - lambdaOrig) * col("__rmn")).as("__qw"))
    val qTerms2 = orig.unionByName(expanded)
      .groupBy("query_id", "term")
      .agg(sum(col("__qw")).as("__qw"))

    bm25Score(tf, dfTbl, qTerms2, nDocs, avgdl, k, k1, b)
  }

  /** ENGINE-EXACT twin of [[rm3TopK]] at the (k1=1.2, b=0.75) integer
    * profile: both BM25 passes run the [[bm25TopKExactFp]] kernel (idf
    * through the portable integer ln, saturation as one floor
    * division), the relevance model is a sum of per-doc 10^6
    * fixed-point floors `Σ tf·10^6 div dl`, and the interpolated query
    * weights clear denominators — per query every weight is multiplied
    * by `lamDen·|q|·R` (R = Σ kept rm_fp), turning
    * `λ/|q| + (1−λ)·rm/R` into the INTEGER
    * `w = lamNum·R·[t∈q] + (lamDen−lamNum)·|q|·rm_fp(t)`. Scaling is
    * per-query positive, so the ranking is exactly [[rm3TopK]]'s under
    * the same floors, and every score hash-checks. A query with an
    * empty relevance model (R = 0) falls back to w = [t∈q] — plain
    * BM25 ranking, the float path's behavior. λ = lamNum/lamDen.
    *
    * Scale: same shape as the float path — tf builds once
    * (checkpointed) and feeds both passes; the feedback docs and
    * expansion terms are panel-sized driver literals (queries×fbDocs /
    * ×fbTerms rows), so the weighted second pass is one broadcast join
    * over tf. Corpus constants are REQUIRE-bounded so the integer
    * score cannot overflow signed-64 mid-task.
    * Output (query_id, rank, doc_id, score_fp). */
  def rm3TopKExactFp(df: DataFrame, idCol: String, textCol: String,
                     queries: Seq[(Long, String)], k: Int,
                     fbDocs: Int = 5, fbTerms: Int = 10,
                     lamNum: Long = 1, lamDen: Long = 2): DataFrame = {
    require(queries.nonEmpty, "at least one query")
    require(k > 0, "k must be positive")
    require(fbDocs >= 1 && fbTerms >= 1, "fbDocs/fbTerms must be >= 1")
    require(lamDen >= 1 && lamNum >= 0 && lamNum <= lamDen,
      "lambda = lamNum/lamDen must lie in [0,1]")
    val spark = df.sparkSession
    import spark.implicits._
    val RmScale = 1000000L

    val docTerms = df.select(col(idCol).as("doc_id"),
        terms(col(textCol)).as("__terms"))
      .select(col("doc_id"), size(col("__terms")).as("dl"),
        explode(col("__terms")).as("term"))
    val tf = docTerms.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_)) // both passes + the feedback join probe it
    val stats = df.select(size(terms(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") >= 0)
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t"),
        max(col("dl")).as("m")).head
    val nDocs = stats.getLong(0)
    require(nDocs > 0, "empty corpus")
    val tTok = stats.getLong(1)
    val maxDl = stats.getLong(2)
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .transform(Materialize(_))
    def idfOf(d: Long): Long = graft.functions.PortableLn.lnFp(
      BigInt(2) * (nDocs + 1), BigInt(2) * d + 1)
    def dfOf(termSet: Seq[String]): Map[String, Long] =
      dfTbl.filter(col("term").isin(termSet: _*))
        .as[(String, Long)].collect().toMap
    // the shared saturation·idf kernel (exact bm25TopKExactFp profile)
    val satExpr =
      s"(__idf * 22 * tf * ${tTok}L) div " +
        s"(10 * tf * ${tTok}L + 3 * ${tTok}L + 9 * dl * ${nDocs}L)"

    // ---- pass 1: plain exact BM25, top fbDocs per query ----
    val qTerms = queries.flatMap { case (qid, qt) =>
      qt.trim.split("\\s+").distinct.map(t => (qid, t)) }
    val idf1 = dfOf(qTerms.map(_._2).distinct).map {
      case (t, d) => t -> idfOf(d) }
    val maxIdf1 = if (idf1.isEmpty) 0L else idf1.values.max
    require(BigInt(maxIdf1) * 22 * maxDl * tTok <= Long.MaxValue &&
      BigInt(10) * maxDl * tTok + 3L * tTok +
        BigInt(9) * maxDl * nDocs <= Long.MaxValue,
      s"rm3TopKExactFp: corpus constants (N=$nDocs, T=$tTok, " +
        s"maxdl=$maxDl) push the integer score past signed-64 — " +
        "shard the corpus or rescale")
    val qidf1 = qTerms.collect { case (qid, t) if idf1.contains(t) =>
      (qid, t, idf1(t)) }.toDF("query_id", "term", "__idf")
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    val fbRows = tf.join(broadcast(qidf1), Seq("term"))
      .withColumn("__w", expr(satExpr))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__w")).as("score_fp"))
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= fbDocs)
      .select(col("query_id"), col("doc_id"))
      .as[(Long, Long)].collect()

    // ---- relevance model over the feedback docs (panel-sized) ----
    val wExp = Window.partitionBy(col("query_id"))
      .orderBy(col("__rm").desc, col("term"))
    val rmTop: Seq[(Long, String, Long)] =
      if (fbRows.isEmpty) Nil
      else tf.join(
          broadcast(fbRows.toSeq.toDF("query_id", "doc_id")),
          Seq("doc_id"))
        .groupBy(col("query_id"), col("term"))
        .agg(sum(expr(s"tf * ${RmScale}L div dl")).as("__rm"))
        .withColumn("__rn", row_number().over(wExp))
        .filter(col("__rn") <= fbTerms)
        .select(col("query_id"), col("term"), col("__rm"))
        .as[(Long, String, Long)].collect().toSeq

    // ---- integer interpolation weights (cleared denominators) ----
    val nq: Map[Long, Long] = qTerms.groupBy(_._1).map {
      case (q, ts) => q -> ts.size.toLong }
    val rByQ: Map[Long, Long] = rmTop.groupBy(_._1).map {
      case (q, rows) => q -> rows.map(_._3).sum }
    val orig = qTerms.map { case (qid, t) =>
      val r = rByQ.getOrElse(qid, 0L)
      (qid, t, if (r > 0) lamNum * r else 1L) }
    val exp = rmTop.map { case (qid, t, rm) =>
      (qid, t, (lamDen - lamNum) * nq(qid) * rm) }
    val wRows = (orig ++ exp).groupBy(x => (x._1, x._2))
      .map { case ((qid, t), xs) => (qid, t, xs.map(_._3).sum) }.toSeq

    // ---- pass 2: weighted exact BM25 over the full corpus ----
    val idf2 = dfOf(wRows.map(_._2).distinct).map {
      case (t, d) => t -> idfOf(d) }
    val maxIdf2 = if (idf2.isEmpty) 0L else idf2.values.max
    val maxW = if (wRows.isEmpty) 1L else wRows.map(_._3).max
    val maxTermsPerQ = wRows.groupBy(_._1).values
      .foldLeft(1)((m, xs) => math.max(m, xs.size))
    // expansion terms can be rarer than the originals (maxIdf2 >
    // maxIdf1), so the pass-2 satExpr numerator __idf*22*tf*T needs its
    // own bound — the pass-1 require only covered maxIdf1 (the
    // denominator terms are corpus constants, already checked there)
    require(BigInt(maxIdf2) * 22 * maxDl * tTok <= Long.MaxValue,
      s"rm3TopKExactFp: expansion-term idf (maxIdf2=$maxIdf2) pushes " +
        "the pass-2 saturation numerator past signed-64 — shard the " +
        "corpus or rescale")
    require(BigInt(maxTermsPerQ) * maxW *
      (BigInt(maxIdf2) * 22 / 10 + 1) <= Long.MaxValue,
      s"rm3TopKExactFp: interpolation weights (maxW=$maxW) push the " +
        "weighted score past signed-64 — lower fbTerms or RmScale")
    val qw = wRows.collect { case (qid, t, w) if idf2.contains(t) =>
      (qid, t, w, idf2(t)) }
      .toDF("query_id", "term", "__qw", "__idf")
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    tf.join(broadcast(qw), Seq("term"))
      .withColumn("__s", expr(satExpr))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__qw") * col("__s")).as("score_fp"))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score_fp"))
  }

  /** Term document-frequency drift between two corpus slices — the
    * "what vocabulary moved" diagnosis behind a drift alarm: per term
    * the per-slice df share in basis points (10^4·df div n_docs) and
    * the share delta, top-k by |delta| (ties: term asc). All integer,
    * so the movers list is engine-exact.
    *
    * Scale: each slice reduces to per-term df in one distinct +
    * partial-agg pass; slices then meet in ONE term-keyed full-outer
    * join of aggregate frames, and the cut is TakeOrderedAndProject —
    * no windows, nothing doc×doc. Doc totals are two count() actions
    * (model-sized literals). Output: (term, df_a, df_b, share_a_bp,
    * share_b_bp, delta_bp). */
  def dfDrift(a: DataFrame, b: DataFrame, idCol: String, textCol: String,
              minDf: Int, topK: Int): DataFrame = {
    require(minDf >= 1 && topK >= 1, "minDf and topK must be positive")
    def dfOf(d: DataFrame, out: String): DataFrame =
      d.select(col(idCol), explode(array_distinct(terms(col(textCol))))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as(out))
    val (nA, nB) = (a.count(), b.count())
    require(nA > 0 && nB > 0, "both slices must be non-empty")
    dfOf(a, "df_a").join(dfOf(b, "df_b"), Seq("term"), "full_outer")
      .na.fill(0L, Seq("df_a", "df_b"))
      .filter(greatest(col("df_a"), col("df_b")) >= minDf)
      .withColumn("share_a_bp", expr(s"(10000 * df_a) div $nA"))
      .withColumn("share_b_bp", expr(s"(10000 * df_b) div $nB"))
      .withColumn("delta_bp", col("share_b_bp") - col("share_a_bp"))
      .orderBy(abs(col("delta_bp")).desc, col("term"))
      .limit(topK)
  }

  /** Temporal term-BURST detection: terms whose document frequency
    * concentrates in one day — "what vocabulary spiked" (the Kleinberg
    * burst question answered with the exact one-day-share statistic
    * instead of the HMM): per term the total df, active-day count,
    * argmax day (deterministic: highest daily df, earliest day on
    * ties) and `burst_bp = 10^4·max_day_df div df_total`. A term that
    * only ever appears on one day scores 10000; an evenly-spread term
    * scores ≈ 10^4/n_days. All integer, engine-exact.
    *
    * Scale: one explode to DISTINCT (doc, day, term), one (term, day)
    * partial agg, one term-sized rollup whose argmax folds as
    * `min(struct(−df, day))` — no windows; top-k via
    * TakeOrderedAndProject on a total order. Output: (term, df_total,
    * n_days, max_day, max_day_df, burst_bp). */
  def termBursts(df: DataFrame, idCol: String, textCol: String,
                 dayCol: String, minDf: Long, k: Int): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    require(k >= 1, "k must be >= 1")
    val td = df.select(col(idCol), col(dayCol).cast("date").as("__day"),
        explode(array_distinct(terms(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .distinct()
      .groupBy(col("term"), col("__day"))
      .agg(count(lit(1)).as("__c"))
    td.groupBy(col("term"))
      .agg(sum(col("__c")).as("df_total"), count(lit(1)).as("n_days"),
        min(struct((-col("__c")).as("nc"), col("__day").as("d")))
          .as("__m"))
      .filter(col("df_total") >= minDf)
      .select(col("term"), col("df_total"), col("n_days"),
        col("__m.d").cast("string").as("max_day"),
        (-col("__m.nc")).as("max_day_df"))
      .withColumn("burst_bp",
        expr("(10000L * max_day_df) div df_total"))
      .orderBy(col("burst_bp").desc, col("df_total").desc, col("term"))
      .limit(k)
  }
}

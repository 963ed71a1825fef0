package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Self-trained n-gram language-model scoring — the CCNet-style
  * perplexity filter (Wenzek et al., LREC 2020): score every document
  * by its cross-entropy under a bigram model trained on a trusted
  * slice of the corpus, then gate/bucket on the score. Documents the
  * model finds "surprising" are disproportionately noise (OCR garbage,
  * menus, rot13, wrong-language) — the standard complement to the
  * integer quality heuristics in [[TextAnalysis]].
  *
  * Reference analogue: none (the reference scores only rule-based
  * signals); this is beyond-reference LLM-pipeline capability.
  *
  * Scale design (the part that matters at 100 TB):
  *  - TRAINING is two partial-agg shuffles (unigram counts, bigram
  *    counts) — the same shape as a word-count, no joins on raw text.
  *  - The model is PRUNED to the top-V unigrams / top-B bigrams
  *    (Heaps' law bounds the useful vocabulary; pruning bounds the
  *    model size by construction, like `invertedIndex`'s pruned-vocab
  *    broadcast). The prune is an orderBy+limit on the VOCAB table
  *    (model-sized), never on corpus rows.
  *  - SCORING is map-side only: the pruned tables broadcast, so the
  *    per-bigram probability lookup is a BroadcastHashJoin chain with
  *    zero shuffle; the only exchange is the final per-doc-id rollup.
  *  - Per-bigram surprisal is folded to FIXED-POINT nanonats
  *    (`floor(-ln(p)·1e9)` as BIGINT) so the per-doc sum is an exact
  *    integer — independent of aggregation order, reproducible across
  *    partitionings and runs (the same determinism discipline as the
  *    portable-hash kernels).
  *
  * Smoothing: interpolated bigram→unigram backoff,
  *   p(w2|w1) = λ·c(w1,w2)/c(w1) + (1−λ)·p₁(w2)
  * with add-one unigram smoothing p₁(w) = (c(w)+1)/(T+V+1); any word
  * outside the pruned vocab scores as the single OOV bucket
  * p₁(oov) = 1/(T+V+1). Pruned or unseen bigrams fall back to the
  * (1−λ)·p₁ term alone. Probabilities need not sum to 1 after pruning
  * — standard for a filter LM, where only the ORDERING of documents by
  * cross-entropy matters.
  */
object LangModel {

  /** Fixed-point scale: surprisal is stored in integer nanonats. */
  val Scale: Double = 1e9

  /** A trained, pruned bigram LM. `unigrams` = (w, c_uni), `bigrams` =
    * (w1, w2, c_bi); both pruned, both broadcast-sized by construction.
    * `totalTokens` = T (unpruned corpus token count), `vocabSize` = V
    * (pruned vocab size, the smoothing denominator). */
  final case class BigramLm(unigrams: DataFrame, bigrams: DataFrame,
                            totalTokens: Long, vocabSize: Long)

  private def bigramsOf(text: org.apache.spark.sql.Column) = {
    val w = TextAnalysis.words(text)
    zip_with(
      slice(w, lit(1), greatest(lit(0), size(w) - 1)),
      slice(w, lit(2), greatest(lit(0), size(w) - 1)),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Train a pruned bigram LM over `textCol`. Two word-count-shaped
    * shuffles; the top-V / top-B prunes sort only the (already
    * aggregated) vocab tables. Bigrams are kept only when BOTH words
    * survive the unigram prune, so c(w1) is always defined where a
    * bigram count is. */
  def train(df: DataFrame, textCol: String,
            topUnigrams: Int = 1 << 16,
            topBigrams: Int = 1 << 20): BigramLm = {
    val toks = df.select(explode(TextAnalysis.words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
    val uniAll = toks.groupBy(col("w")).agg(count(lit(1)).as("c_uni"))
    val total = uniAll.agg(sum(col("c_uni"))).head
    val totalTokens = if (total.isNullAt(0)) 0L else total.getLong(0)
    // deterministic prune: count desc, then word, so reruns and both
    // engines agree on the boundary
    // narrow result; the vocab size rides the checkpoint job
    val (uni, vocabSize) = Materialize.ckCount(
      uniAll.orderBy(col("c_uni").desc, col("w")).limit(topUnigrams))

    val bi = df.select(explode(bigramsOf(col(textCol))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bi"))
      .join(broadcast(uni.select(col("w").as("w1"))), Seq("w1"), "left_semi")
      .join(broadcast(uni.select(col("w").as("w2"))), Seq("w2"), "left_semi")
      .orderBy(col("c_bi").desc, col("w1"), col("w2"))
      .limit(topBigrams)
      .transform(Materialize(_))
    BigramLm(uni, bi, totalTokens, vocabSize)
  }

  /** Score every document: exact integer `surprisal_fp` (nanonats,
    * order-independent sum), `n_scored` bigrams, and the derived
    * doubles `cross_entropy` (nats/bigram) and `ppl`. Docs with fewer
    * than two tokens score 0 / null CE. Zero shuffle except the final
    * per-doc rollup; all model joins broadcast. */
  def score(lm: BigramLm, df: DataFrame, idCol: String, textCol: String,
            lambda: Double = 0.9,
            keepCols: Seq[String] = Nil): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda must be in (0, 1)")
    val denom = lm.totalTokens.toDouble + lm.vocabSize.toDouble + 1.0
    val docBi = df
      .select(col(idCol).as("__d"),
        explode(bigramsOf(col(textCol))).as("b"))
      .select(col("__d"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")

    val u1 = broadcast(lm.unigrams.select(col("w").as("w1"),
      col("c_uni").as("__c1")))
    val u2 = broadcast(lm.unigrams.select(col("w").as("w2"),
      col("c_uni").as("__c2")))
    val bi = broadcast(lm.bigrams.select(col("w1"), col("w2"),
      col("c_bi").as("__cb")))

    // p1(w2): add-one for in-vocab, OOV bucket otherwise; the bigram
    // term contributes only when both the bigram and c(w1) exist
    val p1 = (coalesce(col("__c2"), lit(0L)).cast("double") + lit(1.0)) / denom
    val pBi = when(col("__cb").isNotNull && col("__c1").isNotNull,
      col("__cb").cast("double") / col("__c1").cast("double"))
      .otherwise(lit(0.0))
    val p = lit(lambda) * pBi + lit(1.0 - lambda) * p1
    val fp = floor(-log(p) * lit(Scale)).cast("long")

    val perDoc = docBi
      .join(bi, Seq("w1", "w2"), "left")
      .join(u1, Seq("w1"), "left")
      .join(u2, Seq("w2"), "left")
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_scored"), sum(fp).as("surprisal_fp"))

    df.select((idCol +: keepCols).map(col): _*)
      .join(perDoc, col(idCol) === col("__d"), "left")
      .select((col(idCol) +: keepCols.map(col)) ++ Seq(
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("surprisal_fp"), lit(0L)).as("surprisal_fp"),
        when(col("n_scored") > 0,
          col("surprisal_fp").cast("double") / lit(Scale)
            / col("n_scored").cast("double")).as("cross_entropy")): _*)
      .withColumn("ppl", exp(col("cross_entropy")))
  }

  /** Exact-integer surprisal tables for a trained LM: every per-bigram
    * probability the interpolated model can emit — bigram hit,
    * unigram fallback, OOV bucket — has its −ln folded to 10^6-scaled
    * fixed point through [[graft.functions.PortableLn]], so scoring
    * carries NO floats and the per-doc sums hash-check across engines
    * (libm-ln floors don't: Java and DuckDB may differ in the last
    * ulp). λ is the exact rational `lamNum/lamDen`; with D = T+V+1:
    *   p_bi  = (n·cb·D + (d−n)·c1·(c2+1)) / (d·c1·D)
    *   p_uni = (d−n)·(c2+1) / (d·D)
    *   p_oov = (d−n) / (d·D)
    * The fold runs DRIVER-side over the pruned model — the same
    * model-sized budget the float path already pays to broadcast the
    * count tables (BigInt throughout, so a 100-TB token count cannot
    * overflow; PortableLn bounds ratios at 2^50 with a loud require).
    */
  final case class ExactLm(biSurp: DataFrame, uniSurp: DataFrame,
                           oovFp: Long)

  def exactSurprisals(lm: BigramLm, lamNum: Long = 9,
                      lamDen: Long = 10): ExactLm = {
    require(lamNum > 0 && lamNum < lamDen,
      s"lambda $lamNum/$lamDen must be a rational in (0, 1)")
    val spark = lm.unigrams.sparkSession
    import spark.implicits._
    val dTot = BigInt(lm.totalTokens) + lm.vocabSize + 1
    val n = BigInt(lamNum)
    val d = BigInt(lamDen)
    def fp(den: BigInt, num: BigInt): Long =
      graft.functions.PortableLn.lnFp(den, num)
    val uniPairs = lm.unigrams.select(col("w"), col("c_uni"))
      .as[(String, Long)].collect()
    val uniMap = uniPairs.toMap
    val uniRows = uniPairs.toSeq.map { case (w, c) =>
      (w, fp(d * dTot, (d - n) * (BigInt(c) + 1))) }
    val biRows = lm.bigrams.select(col("w1"), col("w2"), col("c_bi"))
      .as[(String, String, Long)].collect().toSeq
      .map { case (w1, w2, cb) =>
        val c1 = BigInt(uniMap(w1))
        val c2 = BigInt(uniMap(w2))
        (w1, w2,
          fp(d * c1 * dTot, n * cb * dTot + (d - n) * c1 * (c2 + 1)))
      }
    ExactLm(biRows.toDF("w1", "w2", "__sb"),
      uniRows.toDF("w2", "__su"),
      fp(d * dTot, d - n))
  }

  /** ENGINE-EXACT twin of [[score]]: identical join plan (broadcast
    * surprisal tables instead of broadcast count tables; zero shuffle
    * except the per-doc rollup), but the per-bigram fixed point comes
    * from [[exactSurprisals]] — all-integer output
    * (idCol, keepCols..., n_scored, surprisal_fp). */
  def scoreExactFp(lm: BigramLm, df: DataFrame, idCol: String,
                   textCol: String, lamNum: Long = 9, lamDen: Long = 10,
                   keepCols: Seq[String] = Nil): DataFrame = {
    val ex = exactSurprisals(lm, lamNum, lamDen)
    val docBi = df
      .select(col(idCol).as("__d"),
        explode(bigramsOf(col(textCol))).as("b"))
      .select(col("__d"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val fpc = coalesce(col("__sb"), col("__su"), lit(ex.oovFp))
    val perDoc = docBi
      .join(broadcast(ex.biSurp), Seq("w1", "w2"), "left")
      .join(broadcast(ex.uniSurp), Seq("w2"), "left")
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_scored"), sum(fpc).as("surprisal_fp"))
    df.select((idCol +: keepCols).map(col): _*)
      .join(perDoc, col(idCol) === col("__d"), "left")
      .select((col(idCol) +: keepCols.map(col)) ++ Seq(
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("surprisal_fp"), lit(0L)).as("surprisal_fp")): _*)
  }

  /** ENGINE-EXACT twin of [[scoreWithBuckets]] — same training, same
    * exact-rank percentile cuts over the same milli-nanonat key, but
    * the key derives from [[scoreExactFp]], so every output column is
    * an integer and the whole result (buckets included) hash-checks.
    * Output: (idCol, n_scored, surprisal_fp, ce_mnn, ce_bucket). */
  def scoreWithBucketsExactFp(df: DataFrame, idCol: String,
                              textCol: String,
                              trainPred: org.apache.spark.sql.Column,
                              cuts: Seq[Int] = Seq(33, 67),
                              topUnigrams: Int = 1 << 16,
                              topBigrams: Int = 1 << 20,
                              lamNum: Long = 9,
                              lamDen: Long = 10): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(c => c > 0 && c < 100),
      "cuts must be percentiles in (0, 100)")
    val lm = train(df.filter(trainPred), textCol, topUnigrams, topBigrams)
    val scored = scoreExactFp(lm, df, idCol, textCol, lamNum, lamDen)
      .withColumn("__k", when(col("n_scored") > 0,
        expr("cast(surprisal_fp as decimal(38,0)) * 1000 div n_scored"))
        .otherwise(lit(-1L)))
      .transform(Materialize(_)) // scored twice below; never re-derive
    val cutVals = Selection.valueAtRanks(
        scored.withColumn("__one", lit(1)), "__one", "__k",
        cuts.map(c => s"c$c" -> s"greatest(1L, (__n * ${c}L) div 100L)"))
      .select(col("value")).collect().map(_.getLong(0)).sorted
    val bucket = cutVals.foldLeft(lit(0)) { (acc, cv) =>
      acc + when(col("__k") > cv, 1).otherwise(0)
    }
    scored.withColumn("ce_bucket", bucket)
      .withColumn("ce_mnn", col("__k").cast("long")).drop("__k")
      .select(col(idCol), col("n_scored"), col("surprisal_fp"),
        col("ce_mnn"), col("ce_bucket"))
  }

  /** Convenience: train on `trainPred` rows, score everything, and
    * bucket by corpus cross-entropy percentile — CCNet's head/middle/
    * tail split generalized to arbitrary `cuts` (percentile bounds,
    * ascending). The cut VALUES come from [[Selection.valueAtRanks]]
    * over the exact integer CE key (milli-nanonats per bigram), so the
    * bucketing is exact-rank without any global sort or window: docs
    * compare against a handful of broadcast cut values. `ce_bucket` =
    * number of cuts whose value is strictly below the doc's key
    * (0 = head … cuts.size = tail); unscorable docs (<2 tokens) get
    * bucket 0 with key −1. */
  def scoreWithBuckets(df: DataFrame, idCol: String, textCol: String,
                       trainPred: org.apache.spark.sql.Column,
                       cuts: Seq[Int] = Seq(33, 67),
                       topUnigrams: Int = 1 << 16,
                       topBigrams: Int = 1 << 20,
                       lambda: Double = 0.9): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(c => c > 0 && c < 100),
      "cuts must be percentiles in (0, 100)")
    val lm = train(df.filter(trainPred), textCol, topUnigrams, topBigrams)
    // decimal(38,0) intermediate: the fp sum fits a long, but ×1000
    // can overflow it for very long docs — ANSI mode throws mid-task.
    // `div` still returns BIGINT; the per-bigram mean always fits.
    val scored = score(lm, df, idCol, textCol, lambda)
      .withColumn("__k", when(col("n_scored") > 0,
        expr("cast(surprisal_fp as decimal(38,0)) * 1000 div n_scored"))
        .otherwise(lit(-1L)))
      .transform(Materialize(_)) // scored twice below; never re-derive
    val cutVals = Selection.valueAtRanks(
        scored.withColumn("__one", lit(1)), "__one", "__k",
        cuts.map(c => s"c$c" -> s"greatest(1L, (__n * ${c}L) div 100L)"))
      .select(col("value")).collect().map(_.getLong(0)).sorted
    val bucket = cutVals.foldLeft(lit(0)) { (acc, cv) =>
      acc + when(col("__k") > cv, 1).otherwise(0)
    }
    scored.withColumn("ce_bucket", bucket).drop("__k")
  }

  /** ENGINE-EXACT twin of [[scoreWithBucketsBy]] — per-group cuts over
    * the [[scoreExactFp]] integer key; group semantics identical (cuts
    * from scorable docs only, absent/NULL cuts resolve to bucket 0).
    * Output: (idCol, groupCol, n_scored, surprisal_fp, ce_mnn,
    * ce_bucket) — all integers, hash-checkable. */
  def scoreWithBucketsByExactFp(df: DataFrame, idCol: String,
                                textCol: String, groupCol: String,
                                trainPred: org.apache.spark.sql.Column,
                                cuts: Seq[Int] = Seq(33, 67),
                                topUnigrams: Int = 1 << 16,
                                topBigrams: Int = 1 << 20,
                                lamNum: Long = 9,
                                lamDen: Long = 10): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(c => c > 0 && c < 100),
      "cuts must be percentiles in (0, 100)")
    val lm = train(df.filter(trainPred), textCol, topUnigrams, topBigrams)
    val scored = scoreExactFp(lm, df, idCol, textCol, lamNum, lamDen,
        keepCols = Seq(groupCol))
      .withColumn("__k", when(col("n_scored") > 0,
        expr("cast(surprisal_fp as decimal(38,0)) * 1000 div n_scored"))
        .otherwise(lit(-1L)))
      .transform(Materialize(_)) // cut scan + final compare share one result
    val labels = cuts.map(c => s"c$c")
    val cutRows = Selection.valueAtRanks(
      scored.filter(col("n_scored") > 0), groupCol, "__k",
      cuts.map(c => s"c$c" -> s"greatest(1L, (__n * ${c}L) div 100L)"))
      .groupBy(col(groupCol)).pivot("label", labels)
      .agg(first(col("value")))
    val bucket = labels.foldLeft(lit(0)) { (acc, l) =>
      acc + when(col("__k") > col(s"__cut_$l"), 1).otherwise(0)
    }
    scored
      .join(broadcast(cutRows.select(col(groupCol) +:
        labels.map(l => col(l).as(s"__cut_$l")): _*)),
        Seq(groupCol), "left")
      .withColumn("ce_bucket", bucket)
      .withColumn("ce_mnn", col("__k").cast("long"))
      .select(col(idCol), col(groupCol), col("n_scored"),
        col("surprisal_fp"), col("ce_mnn"), col("ce_bucket"))
  }

  /** Per-GROUP CCNet buckets: [[scoreWithBuckets]] with the percentile
    * cuts computed independently inside each `groupCol` value (CCNet
    * proper buckets per LANGUAGE, not globally — a global cut would
    * call every doc of a high-entropy language "tail"). One LM, one
    * scoring pass; the per-group cut values come from a single
    * group-keyed [[Selection.valueAtRanks]] call (group cardinality is
    * broadcast-small — the same contract as Profile.histogram), pivoted
    * to one row per group and broadcast-joined back. Unscorable docs
    * key at −1 → bucket 0, as in the global variant; a group with zero
    * scorable docs has null cuts, which also resolves to bucket 0. */
  def scoreWithBucketsBy(df: DataFrame, idCol: String, textCol: String,
                         groupCol: String,
                         trainPred: org.apache.spark.sql.Column,
                         cuts: Seq[Int] = Seq(33, 67),
                         topUnigrams: Int = 1 << 16,
                         topBigrams: Int = 1 << 20,
                         lambda: Double = 0.9): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(c => c > 0 && c < 100),
      "cuts must be percentiles in (0, 100)")
    val lm = train(df.filter(trainPred), textCol, topUnigrams, topBigrams)
    val scored = score(lm, df, idCol, textCol, lambda,
        keepCols = Seq(groupCol))
      .withColumn("__k", when(col("n_scored") > 0,
        expr("cast(surprisal_fp as decimal(38,0)) * 1000 div n_scored"))
        .otherwise(lit(-1L)))
      .transform(Materialize(_)) // cut scan + final compare share one result
    val labels = cuts.map(c => s"c$c")
    val cutRows = Selection.valueAtRanks(
      scored.filter(col("n_scored") > 0), groupCol, "__k",
      cuts.map(c => s"c$c" -> s"greatest(1L, (__n * ${c}L) div 100L)"))
      .groupBy(col(groupCol)).pivot("label", labels)
      .agg(first(col("value")))
    val bucket = labels.foldLeft(lit(0)) { (acc, l) =>
      acc + when(col("__k") > col(s"__cut_$l"), 1).otherwise(0)
    }
    scored
      .join(broadcast(cutRows.select(col(groupCol) +:
        labels.map(l => col(l).as(s"__cut_$l")): _*)),
        Seq(groupCol), "left")
      .withColumn("ce_bucket", bucket)
      .drop("__k" +: labels.map(l => s"__cut_$l"): _*)
  }

  /** DSIR-style importance selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): rank
    * every document by the log-likelihood RATIO between a target-domain
    * LM and a whole-corpus LM, and keep the `nKeep` docs that look most
    * like the target. The weight is the per-bigram fixed-point
    * difference `(surprisal_corpus − surprisal_target)·1000 div
    * n_scored` (milli-nanonats): positive ⇒ the target model explains
    * the doc better than the corpus model does. Length-normalizing per
    * bigram removes the long-doc bias both raw sums carry.
    *
    * Selection is EXACT top-N without a global sort: the weight cutoff
    * comes from [[Selection.valueAtRanks]] on the integer weight key,
    * docs strictly better than the cutoff pass directly, and only the
    * ties AT the boundary value (typically O(1) docs; degenerate
    * all-equal corpora degrade to one bounded rank task — the same
    * caveat class as Selection's boundary-bucket refinement) are
    * row-numbered by id for the remaining slots. Deterministic:
    * re-runs and engine ports select the identical set.
    *
    * Output: (idCol, n_scored, weight_fp, selected). Unscorable docs
    * (<2 tokens, n_scored = 0) carry a NULL weight_fp and are never
    * selected; they are excluded from the rank cutoff entirely, so a
    * single empty doc can neither crash the bounds math nor widen the
    * Selection bucket span. Both trainings
    * are word-count-shaped; scoring is broadcast-join map work — the
    * whole pipeline inherits [[train]]/[[score]]'s scale posture. */
  /** Both LMs' surprisal sums off ONE bigram explosion: the corpus is
    * exploded and aggregated once, with six broadcast count-table
    * joins, instead of twice through [[score]] — the explosion and the
    * per-doc aggregate are the dominant cost of DSIR, the LM lookups
    * are broadcast-cheap. Numerically identical to two [[score]]
    * calls. Output: (id, n_scored, __tfp, __cfp). */
  private def scorePair(lmT: BigramLm, lmC: BigramLm, df: DataFrame,
                        idCol: String, textCol: String,
                        lambda: Double): DataFrame = {
    val docBi = df
      .select(col(idCol).as("__d"),
        explode(bigramsOf(col(textCol))).as("b"))
      .select(col("__d"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    def fpOf(lm: BigramLm, tag: String) = {
      val denom = lm.totalTokens.toDouble + lm.vocabSize.toDouble + 1.0
      val p1 = (coalesce(col(s"__c2$tag"), lit(0L)).cast("double") +
        lit(1.0)) / denom
      val pBi = when(col(s"__cb$tag").isNotNull &&
          col(s"__c1$tag").isNotNull,
        col(s"__cb$tag").cast("double") / col(s"__c1$tag").cast("double"))
        .otherwise(lit(0.0))
      floor(-log(lit(lambda) * pBi + lit(1.0 - lambda) * p1) *
        lit(Scale)).cast("long")
    }
    def joined(base: DataFrame, lm: BigramLm, tag: String) = base
      .join(broadcast(lm.bigrams.select(col("w1"), col("w2"),
        col("c_bi").as(s"__cb$tag"))), Seq("w1", "w2"), "left")
      .join(broadcast(lm.unigrams.select(col("w").as("w1"),
        col("c_uni").as(s"__c1$tag"))), Seq("w1"), "left")
      .join(broadcast(lm.unigrams.select(col("w").as("w2"),
        col("c_uni").as(s"__c2$tag"))), Seq("w2"), "left")
    val perDoc = joined(joined(docBi, lmT, "t"), lmC, "c")
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_scored"),
        sum(fpOf(lmT, "t")).as("__tfp"), sum(fpOf(lmC, "c")).as("__cfp"))
    df.select(col(idCol))
      .join(perDoc, col(idCol) === col("__d"), "left")
      .select(col(idCol),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("__tfp"), lit(0L)).as("__tfp"),
        coalesce(col("__cfp"), lit(0L)).as("__cfp"))
  }

  /** Train the target-slice LM and the whole-corpus LM off ONE token
    * explosion and ONE bigram explosion: the corpus aggregates
    * (w, c_all, c_target) / (w1, w2, c_all, c_target) via conditional
    * sums, and each model prunes its own count column driver-cheap
    * (orderBy+limit on the already-aggregated vocab table). Count-
    * identical to `train(df.filter(pred))` + `train(df)` — words/
    * bigrams absent from the target slice carry c_target = 0 and are
    * filtered before the target prune, so tie-breaking and limits
    * match the two-pass formulation bit for bit (LangModelSpec's
    * brute-force parity test pins this). Halves DSIR's corpus-side
    * shuffles from four to two — the explosions dominate at 100 TB,
    * the prunes are model-sized. */
  private def trainPair(df: DataFrame, textCol: String,
                        targetPred: org.apache.spark.sql.Column,
                        topUnigrams: Int,
                        topBigrams: Int): (BigramLm, BigramLm) = {
    val base = df.select(targetPred.as("__t"), col(textCol).as("__text"))

    val toks = base
      .select(col("__t"), explode(TextAnalysis.words(col("__text"))).as("w"))
      .filter(col("w") =!= "")
    // two prunes read one aggregation; totals and vocab sizes ride
    // the checkpoint jobs
    val (uniAll, totals) = Materialize.ckObserve(
      toks.groupBy(col("w")).agg(
        count(lit(1)).as("c_all"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("c_tgt")),
      Seq(coalesce(sum(col("c_all")), lit(0L)).as("all"),
        coalesce(sum(col("c_tgt")), lit(0L)).as("tgt")))
    def pruneUni(cCol: String) = Materialize.ckCount(uniAll
      .filter(col(cCol) > 0)
      .select(col("w"), col(cCol).as("c_uni"))
      .orderBy(col("c_uni").desc, col("w"))
      .limit(topUnigrams))
    val (uniCorpus, nCorpus) = pruneUni("c_all")
    val (uniTarget, nTarget) = pruneUni("c_tgt")

    val biAll = base
      .select(col("__t"), explode(bigramsOf(col("__text"))).as("b"))
      .select(col("__t"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(
        count(lit(1)).as("c_all"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("c_tgt"))
      .transform(Materialize(_))
    def pruneBi(uni: DataFrame, cCol: String) = biAll
      .filter(col(cCol) > 0)
      .select(col("w1"), col("w2"), col(cCol).as("c_bi"))
      .join(broadcast(uni.select(col("w").as("w1"))), Seq("w1"), "left_semi")
      .join(broadcast(uni.select(col("w").as("w2"))), Seq("w2"), "left_semi")
      .orderBy(col("c_bi").desc, col("w1"), col("w2"))
      .limit(topBigrams)
      .transform(Materialize(_))

    (BigramLm(uniTarget, pruneBi(uniTarget, "c_tgt"),
       totals("tgt").asInstanceOf[Long], nTarget),
     BigramLm(uniCorpus, pruneBi(uniCorpus, "c_all"),
       totals("all").asInstanceOf[Long], nCorpus))
  }

  /** ENGINE-EXACT twin of [[importanceSelect]]: both LMs' surprisals
    * come from [[exactSurprisals]] (fixed-point integer ln, driver-
    * folded over the pruned models), so weight_fp and the selected set
    * hash-check across engines — including the boundary-tie resolution
    * (portable md5 bucket + id, replayable as a SQL row_number). Same
    * one-explosion scoring plan; Spark div and DuckDB `//` both
    * truncate toward zero, so the possibly-negative weight quotient is
    * engine-identical. Output: (idCol, n_scored, weight_fp, selected). */
  def importanceSelectExactFp(df: DataFrame, idCol: String,
                              textCol: String,
                              targetPred: org.apache.spark.sql.Column,
                              nKeep: Long,
                              topUnigrams: Int = 1 << 16,
                              topBigrams: Int = 1 << 20,
                              lamNum: Long = 9,
                              lamDen: Long = 10): DataFrame = {
    require(nKeep > 0, "nKeep must be positive")
    val (lmTarget, lmCorpus) =
      trainPair(df, textCol, targetPred, topUnigrams, topBigrams)
    val exT = exactSurprisals(lmTarget, lamNum, lamDen)
    val exC = exactSurprisals(lmCorpus, lamNum, lamDen)
    val docBi = df
      .select(col(idCol).as("__d"),
        explode(bigramsOf(col(textCol))).as("b"))
      .select(col("__d"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val tfp = coalesce(col("__sbt"), col("__sut"), lit(exT.oovFp))
    val cfp = coalesce(col("__sbc"), col("__suc"), lit(exC.oovFp))
    val perDoc = docBi
      .join(broadcast(exT.biSurp
        .withColumnRenamed("__sb", "__sbt")), Seq("w1", "w2"), "left")
      .join(broadcast(exT.uniSurp
        .withColumnRenamed("__su", "__sut")), Seq("w2"), "left")
      .join(broadcast(exC.biSurp
        .withColumnRenamed("__sb", "__sbc")), Seq("w1", "w2"), "left")
      .join(broadcast(exC.uniSurp
        .withColumnRenamed("__su", "__suc")), Seq("w2"), "left")
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_scored"),
        sum(tfp).as("__tfp"), sum(cfp).as("__cfp"))
    val scoredAll = df.select(col(idCol))
      .join(perDoc, col(idCol) === col("__d"), "left")
      .select(col(idCol),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("__tfp"), lit(0L)).as("__tfp"),
        coalesce(col("__cfp"), lit(0L)).as("__cfp"))
    selectByWeight(scoredAll, idCol, nKeep)
  }

  /** Shared selection tail of DSIR: weight from the (t, c) surprisal
    * sums, exact top-`nKeep` via rank cutoff + portable-bucket tie
    * resolution. */
  private def selectByWeight(scoredAll: DataFrame, idCol: String,
                             nKeep: Long): DataFrame = {
    val scored = scoredAll
      .withColumn("weight_fp", when(col("n_scored") > 0,
        expr("(cast(__cfp as decimal(38,0)) - __tfp) * 1000 div n_scored")))
      .select(col(idCol), col("n_scored"), col("weight_fp"))
      .transform(Materialize(_)) // cut resolve + filter reuse one result
    val scorable = scored.filter(col("n_scored") > 0)
    val cutRows = Selection.valueAtRanks(
      scorable.withColumn("__one", lit(1))
        .withColumn("__negw", -col("weight_fp")),
      "__one", "__negw", Seq("cut" -> s"least(__n, ${nKeep}L)"))
      .select(col("value")).collect()
    if (cutRows.isEmpty) return scored.withColumn("selected", lit(false))
    val cut = cutRows(0).getLong(0)
    val nAbove = scorable.filter(-col("weight_fp") < cut).count()
    val tieSlots = nKeep - nAbove
    val tieIds = Selection.hashRankFilter(
        scorable.filter(-col("weight_fp") === cut)
          .withColumn("__tg", lit(1))
          .withColumn("__ts", lit(tieSlots)),
        "__tg", idCol, Splits.bucket(col(idCol), 1000000), "__ts")
      .select(col(idCol), lit(true).as("__tie"))
    scored.join(tieIds, Seq(idCol), "left")
      .withColumn("selected", col("n_scored") > 0 &&
        ((-col("weight_fp") < cut) || coalesce(col("__tie"), lit(false))))
      .drop("__tie")
  }

  def importanceSelect(df: DataFrame, idCol: String, textCol: String,
                       targetPred: org.apache.spark.sql.Column,
                       nKeep: Long,
                       topUnigrams: Int = 1 << 16,
                       topBigrams: Int = 1 << 20,
                       lambda: Double = 0.9): DataFrame = {
    require(nKeep > 0, "nKeep must be positive")
    val (lmTarget, lmCorpus) =
      trainPair(df, textCol, targetPred, topUnigrams, topBigrams)
    // decimal(38,0) intermediate: each fp sum fits a long, but the
    // difference ×1000 can overflow it for very long docs — ANSI mode
    // throws mid-task. `div` still returns BIGINT. Unscorable docs
    // get NULL, never a sentinel: a Long.MinValue-class sentinel in
    // Selection's bounds math wraps the span and crashes (or degrades
    // every group to the degenerate refinement path).
    selectByWeight(
      scorePair(lmTarget, lmCorpus, df, idCol, textCol, lambda),
      idCol, nKeep)
  }
}

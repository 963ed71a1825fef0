package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.operators.{Eval, Funnels, Graph, Linkage, Materialize, Profile,
  Rolling, Survival, TextAnalysis}

/** Exact-integer statistics & evaluation: ROC-AUC, Kaplan–Meier
  * survival, central moments, k-anonymity, conversion attribution,
  * Benford audit, Cohen's kappa, seasonal decomposition. Every query
  * is fixed-point integer arithmetic with an explicit division order,
  * so DuckDB reproduces each result bit-for-bit. */
object StatsPack extends QueryPack {

  private val AttributionWindowUs = 7L * 86400L * 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact tie-aware ROC-AUC of "doc length predicts English" per
    // source — rank-sum over score-value tallies, never a global sort
    "q157_auc" -> ((s, dir) =>
      Eval.rocAuc(Tables.load(s, dir, "documents")
          .withColumn("__lbl", when(col("lang") === "en", 1).otherwise(0)),
        "source", "n_chars", "__lbl")),

    // Kaplan–Meier time-to-first-purchase per user cohort, days from
    // first event; users without a purchase censor at their last event
    "q158_survival" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val perUser = e.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("__t0"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("__fp"),
          max(col("ts_us")).as("__tl"))
        .select(
          concat(lit("c"), pmod(col("user_id"), lit(2)).cast("string"))
            .as("cohort"),
          expr("(coalesce(__fp, __tl) - __t0) div 86400000000")
            .as("dur"),
          when(col("__fp").isNotNull, 1).otherwise(0).as("ev"))
      Survival.kaplanMeier(perUser, "cohort", "dur", "ev")
    }),

    // exact central moments (mean/var/m3/m4, fixed point) of quantity
    "q159_moments" -> ((s, dir) =>
      Profile.moments(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity")),

    // k-anonymity audit over (segment, nation, balance-bucket); the
    // +10^9-cent offset keeps the bucket division on positive ints
    "q160_k_anonymity" -> ((s, dir) =>
      Profile.kAnonymity(Tables.load(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_nationkey"),
            expr("(cast(round(c_acctbal*100) as bigint) + 1000000000) div 100000")
              .as("bal_bucket")),
        Seq("c_mktsegment", "c_nationkey", "bal_bucket"), k = 5)),

    // last-touch attribution: purchases credited to the latest
    // click/view/signup strictly before them, 7-day lookback
    "q161_attribution" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          expr("cast(round(value*100) as long)").as("cents"))
      val tch = e.filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type").as("chan"))
      Funnels.lastTouch(conv, tch, "user_id", "ts_us", "event_id",
          "chan", AttributionWindowUs)
        .groupBy(coalesce(col("channel"), lit("organic")).as("channel"))
        .agg(count(lit(1)).as("n_conv"),
          sum(col("cents")).as("revenue_cents"))
    }),

    // Benford first-digit audit of order totals (cents) per priority
    "q162_benford" -> ((s, dir) =>
      Profile.benford(Tables.load(s, dir, "orders")
          .select(col("o_orderpriority"),
            expr("cast(round(o_totalprice*100) as bigint)").as("cents")),
        "o_orderpriority", "cents")),

    // Cohen's kappa between two deterministic doc-quality raters
    "q163_kappa" -> ((s, dir) =>
      Eval.cohenKappa(Tables.load(s, dir, "documents"), "lang",
        col("n_chars") >= 300,
        expr("length(text) - length(replace(text, ' ', ''))") >= 60)),

    // day-of-week seasonal baseline + deseasonalized residuals of the
    // per-event-type daily count series
    "q164_seasonality" -> ((s, dir) =>
      Rolling.seasonalProfile(Tables.events(s, dir), "event_type", "ts")
        .select(col("event_type"), col("date").cast("string").as("d"),
          col("isodow"), col("n"), col("expected_fp"),
          col("residual_fp"))),

    // calibration bins: does the space-ratio "English-ness" score's
    // decile actually track the observed English fraction?
    "q165_calibration" -> ((s, dir) =>
      Eval.calibration(Tables.load(s, dir, "documents")
          .withColumn("score_fp", expr(
            """least(1000000L, (1000000L *
              |  (length(text) - length(replace(text, ' ', ''))) * 6L)
              |  div greatest(1L, cast(length(text) as bigint)))"""
              .stripMargin))
          .withColumn("__lbl", when(col("lang") === "en", 1).otherwise(0)),
        "source", "score_fp", "__lbl", nBins = 10)),

    // φ² association of (user parity) × (high-value event) per type —
    // the A/B-table effect size, fp-normalized so n never overflows
    "q166_phi2" -> ((s, dir) =>
      Eval.assocPhi2(Tables.events(s, dir), "event_type",
        pmod(col("user_id"), lit(2)) === 0,
        expr("cast(round(value * 100) as bigint)") >= 5000)),

    // golden-record survivorship over synthetic household clusters
    "q167_golden_record" -> ((s, dir) =>
      Linkage.goldenRecords(Tables.load(s, dir, "customer")
          .select(expr("c_custkey div 10").as("cluster"),
            col("c_mktsegment"), col("c_nationkey")),
        "cluster", Seq("c_mktsegment", "c_nationkey"))),

    // log-rank observed-vs-expected: do the three user cohorts share
    // one time-to-first-purchase hazard?
    "q168_logrank" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val perUser = e.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("__t0"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("__fp"),
          max(col("ts_us")).as("__tl"))
        .select(
          concat(lit("c"), pmod(col("user_id"), lit(3)).cast("string"))
            .as("cohort"),
          expr("(coalesce(__fp, __tl) - __t0) div 86400000000")
            .as("dur"),
          when(col("__fp").isNotNull, 1).otherwise(0).as("ev"))
      Survival.logRank(perUser, "cohort", "dur", "ev")
    }),

    // ABC / Pareto classification of customers by revenue per priority
    "q169_abc" -> ((s, dir) =>
      Profile.abcClassify(Tables.load(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_custkey"),
            expr("cast(round(o_totalprice*100) as bigint)").as("cents")),
        "o_orderpriority", "o_custkey", "cents")),

    // Flesch–Kincaid readability per document, exact fixed point
    "q170_readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.load(s, dir, "documents"),
        "doc_id", "text")),

    // signed fixed-point r² of quantity vs discount per line status
    "q171_corr" -> ((s, dir) =>
      Profile.corrR2(Tables.load(s, dir, "lineitem")
          .select(col("l_linestatus"),
            col("l_quantity").cast("long").as("qty"),
            expr("cast(round(l_discount*10000) as bigint)").as("disc_bp")),
        "l_linestatus", "qty", "disc_bp")),

    // weekly-cohort cumulative revenue per user (LTV curves)
    "q172_cohort_ltv" -> ((s, dir) =>
      Rolling.cohortLtv(Tables.events(s, dir), "user_id", "ts",
        when(col("event_type") === "purchase",
          expr("cast(round(value * 100) as bigint)")).otherwise(0L))),

    // degree assortativity (signed r² over per-edge degree pairs, both
    // directions) of the part co-occurrence graph — operator
    // composition: Graph.undirected + degree rollup + Profile.corrR2
    "q173_assortativity" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val pairs = li.withColumnRenamed("pk", "u")
        .join(li.withColumnRenamed("pk", "v"), Seq("ok"))
        .filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
      val und = Graph.undirected(pairs, "u", "v").transform(Materialize(_))
      val deg = und.select(col("u").as("node"))
        .unionByName(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val doubled = und.select(col("u").as("a"), col("v").as("b"))
        .unionByName(und.select(col("v").as("a"), col("u").as("b")))
      val withDeg = doubled
        .join(deg.select(col("node").as("a"), col("deg").as("deg_a")),
          Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("deg_b")),
          Seq("b"))
      Profile.corrR2(withDeg.withColumn("g", lit("parts")), "g",
        "deg_a", "deg_b")
    }),

    // token-mass-weighted doc-length quantiles: the length below which
    // half / 90% of the corpus TOKEN mass sits (weight = spaces + 1)
    "q174_weighted_quantiles" -> ((s, dir) =>
      Profile.weightedQuantiles(Tables.load(s, dir, "documents")
          .withColumn("__w", expr(
            "cast(length(text) - length(replace(text, ' ', '')) + 1 as bigint)")),
        "source", "n_chars", "__w", Seq("p50" -> 5000, "p90" -> 9000))),

    // exact calendar-lag autocorrelation of daily event counts: lag 7
    // lighting up is the weekly rhythm q164 removes
    "q175_autocorr" -> ((s, dir) =>
      Rolling.autocorr(Tables.events(s, dir), "event_type", "ts",
        lags = Seq(1, 7))),

    // seasonal anomaly watch — operator composition: weekday-adjusted
    // residuals (q164's baseline) scored by MAD outlier detection
    "q176_seasonal_anomaly" -> ((s, dir) => {
      val res = Rolling.seasonalProfile(Tables.events(s, dir),
          "event_type", "ts")
        .select(col("event_type"), col("date"), col("residual_fp"))
        // robustOutliers' two Selection passes + two deviation joins
        // each re-read the input; pin the (day-bounded) residual rows
        // once instead of re-deriving them from raw events per pass
        .transform(Materialize(_))
      Profile.robustOutliers(res, "event_type", "residual_fp",
          threshBp = 35000)
        .select(col("event_type"), col("date").cast("string").as("d"),
          col("residual_fp"), col("median"), col("mad"),
          col("score_bp"), col("is_outlier"))
    }),

    // term document-frequency drift between the even/odd doc slices:
    // top-50 vocabulary movers by df-share delta
    "q177_df_drift" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TextIndex.dfDrift(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", minDf = 5, topK = 50)
    }),

    // duplication-multiplicity profile: how much of the corpus is
    // copies, at what cluster sizes
    "q178_dup_profile" -> ((s, dir) =>
      graft.operators.Dedup.dupProfile(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // Spearman (monotone) association of quantity vs extended price
    // per return flag — percentile ranks via Selection.rankRows, then
    // the shared fp r² procedure
    "q179_spearman" -> ((s, dir) =>
      Profile.spearmanR2(Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("qty"),
            expr("cast(round(l_extendedprice*100) as bigint)")
              .as("price_cents")),
        "l_returnflag", "qty", "price_cents")),

    // funnel conversion-lag quantiles: p50/p90 of view->purchase time
    // for full-funnel users — windowFunnel composed into valueAtRanks
    // (1-day step window: the 30-min funnel of q140 has no full-funnel
    // users at sf0.01, which would make the gate row trivially empty)
    "q180_funnel_lag" -> ((s, dir) => {
      val f = Funnels.windowFunnel(
          Tables.events(s, dir)
            .withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "ts_us", "event_type",
          Seq("view", "click", "purchase"), windowUs = 86400L * 1000000)
        .filter(col("stage") === 3)
        .select(lit("view->purchase").as("g"),
          (col("t3") - col("t1")).as("lag_us"))
      graft.operators.Selection.valueAtRanks(f, "g", "lag_us",
        Seq("p50" -> "greatest(1L, (__n * 50L) div 100L)",
          "p90" -> "greatest(1L, (__n * 90L) div 100L)"))
    }),

    // two-sample KS: does the returned-flag slice draw quantities from
    // the same distribution as the rest, per line status?
    "q181_ks" -> ((s, dir) =>
      Eval.ksTest(Tables.load(s, dir, "lineitem"),
        "l_linestatus", "l_quantity", col("l_returnflag") === "R")),

    // ε-band numeric self-join: order pairs within 100 cents of each
    // other inside a priority class — bucketed candidates, never n²
    "q182_band_pairs" -> ((s, dir) =>
      graft.operators.Linkage.bandJoin(Tables.load(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            expr("cast(round(o_totalprice*100) as bigint)").as("cents")),
        "o_orderkey", "cents", eps = 100L,
        blockCols = Seq("o_orderpriority"))),

    // daily audience accounting: new vs returning actives + exact
    // cumulative distinct users (first-seen date, no sketch needed)
    "q183_new_returning" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val firsts = e.groupBy(col("user_id")).agg(min(col("d")).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("new_users"))
      val active = e.groupBy(col("d")).agg(count(lit(1)).as("active_users"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      active.join(firsts, Seq("d"), "left")
        .na.fill(0L, Seq("new_users"))
        .withColumn("returning_users",
          col("active_users") - col("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .select(col("d").cast("string").as("d"), col("active_users"),
          col("new_users"), col("returning_users"), col("cum_users"))
    }),

    // exact NDCG@10 of the integer-MIPS ranking vs same-label truth —
    // positional quality next to q156's Recall/MRR; the log2 discounts
    // are embedded fixed-point constants, so the metric hash-checks
    "q184_ndcg" -> ((s, dir) => {
      val t = Tables.load(s, dir, "embeddings")
      val results = graft.operators.Quantize.topKQuantized(t, "vec_id",
          "embedding", pmod(col("vec_id"), lit(50)) === 0, k = 10,
          graft.operators.Quantize.scaleOf(t, "embedding"))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val q = t.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("label").as("__ql"))
      val truth = t.select(col("vec_id").as("doc_id"), col("label"))
        .join(q, col("label") === col("__ql") &&
          col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      graft.operators.Fusion.ndcgAtK(results, truth, "query_id",
        "doc_id", "rank", k = 10)
    }),

    // modularity of the label-propagation communities on the part
    // co-occurrence graph — the quality verdict on q137's clustering
    "q185_modularity" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val pairs = li.withColumnRenamed("pk", "u")
        .join(li.withColumnRenamed("pk", "v"), Seq("ok"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count_distinct(col("ok")).as("__c"))
        .filter(col("__c") >= 2)
        .select(col("u"), col("v"))
        // consumed by BOTH the LPA loop and modularity's edge/degree
        // rollups — pin the expensive co-occurrence derivation once
        .transform(Materialize(_))
      val comm = Graph.labelPropagation(pairs, "u", "v", rounds = 5)
      Graph.modularity(pairs, "u", "v", comm, "node", "label")
    }),

    // estimate-vs-truth quantile report from the deterministic
    // portable per-group sample — how far off is a 12-doc sample's
    // median/p90? (samplePerGroup → valueAtRanks, twice, joined)
    "q186_sample_quantiles" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val ranks = Seq("p50" -> "greatest(1L, (__n * 50L) div 100L)",
        "p90" -> "greatest(1L, (__n * 90L) div 100L)")
      val est = graft.operators.Selection.valueAtRanks(
          graft.operators.Splits.samplePerGroup(docs, "source",
            "doc_id", k = 12, seed = "q186"),
          "source", "n_chars", ranks)
        .select(col("source"), col("label"),
          col("value").as("est_value"), col("n").as("n_sample"))
      val exact = graft.operators.Selection.valueAtRanks(docs, "source",
          "n_chars", ranks)
        .select(col("source"), col("label"),
          col("value").as("exact_value"), col("n"))
      est.join(exact, Seq("source", "label"))
        .withColumn("err", col("est_value") - col("exact_value"))
    }),

    // quantile normalization: align each return-flag's price
    // distribution onto the global one (batch-effect correction)
    "q187_quantile_norm" -> ((s, dir) =>
      Profile.quantileNormalize(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"),
            expr("cast(round(l_extendedprice*100) as bigint)")
              .as("cents")),
        "l_returnflag", "cents")),

    // which event-type daily series move together: pairwise signed r²
    "q188_cross_corr" -> ((s, dir) =>
      Rolling.crossCorrelation(Tables.events(s, dir), "event_type",
        "ts")),

    // tokenizer-vocab coverage: OOV rate per language against the
    // corpus top-200 vocabulary
    "q189_oov" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val vocab = graft.operators.Chunking.topVocab(docs, "text", 200)
        .select(col("term"), lit(1).as("__in"))
      docs.select(col("lang"),
          explode(TextAnalysis.words(col("text"))).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_bp", expr("(10000 * n_oov) div n_tokens"))
    }),

    // weekly growth accounting: new / retained / resurrected /
    // churned actives — the self-auditing DAU quad
    "q190_growth" -> ((s, dir) =>
      Rolling.growthAccounting(Tables.events(s, dir), "user_id", "ts")),

    // embedding centroid drift between the even/odd vector slices,
    // all-integer in shared-int8 space
    "q191_embedding_drift" -> ((s, dir) => {
      val t = Tables.load(s, dir, "embeddings")
      graft.operators.Quantize.centroidShift(t, "vec_id", "embedding",
        "label", pmod(col("vec_id"), lit(2)) === 0,
        graft.operators.Quantize.scaleOf(t, "embedding"))
    }),

    // top co-occurring term pairs by lift — the market-basket kernel
    // re-aimed at doc→term baskets (q142's machinery, text corpus)
    "q192_term_pairs" -> ((s, dir) =>
      graft.operators.Association.pairLift(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextAnalysis.words(col("text"))).as("term")),
        "doc_id", "term", minSupport = 50L, k = 40)),

    // l-diversity audit: q160's QI groups must also be diverse in the
    // balance-bucket sensitive attribute (same +10^9-cent offset)
    "q194_l_diversity" -> ((s, dir) =>
      Profile.lDiversity(Tables.load(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_nationkey"),
            expr("(cast(round(c_acctbal*100) as bigint) + 1000000000) div 100000")
              .as("bal_bucket")),
        Seq("c_mktsegment", "c_nationkey"), "bal_bucket", l = 3)),

    // difference-in-differences per event type: treated = even users,
    // post = at/after the corpus timespan midpoint, outcome = cents
    "q195_did" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("cents", expr("cast(round(value*100) as bigint)"))
      val mm = e.agg(min(col("ts_us")), max(col("ts_us"))).collect()(0)
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      graft.operators.Eval.diffInDiff(e, "event_type",
        pmod(col("user_id"), lit(2)) === 0, col("ts_us") >= mid, "cents")
    }),

    // exact 2.5%-trimmed mean of lineitem price cents per returnflag
    "q203_trimmed_mean" -> ((s, dir) =>
      Profile.trimmedMean(
        Tables.load(s, dir, "lineitem")
          .withColumn("cents",
            expr("cast(round(l_extendedprice*100) as bigint)")),
        "l_returnflag", "cents", loBp = 250, hiBp = 9750)),

    // order-insensitive per-priority content digest of orders — the
    // no-join replica/migration equality check
    "q202_digest" -> ((s, dir) =>
      Profile.contentDigest(
        Tables.load(s, dir, "orders")
          .withColumn("cents",
            expr("cast(round(o_totalprice*100) as bigint)")),
        "o_orderpriority",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "cents"))),

    // uplift by activity decile: does high engagement predict
    // treatment response (treated = even users, conv = any purchase)
    "q201_uplift" -> ((s, dir) => {
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("clicks"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchased"))
      graft.operators.Eval.upliftByBucket(perUser, "clicks",
        pmod(col("user_id"), lit(2)) === 0, col("purchased") === 1L,
        nBuckets = 10)
    }),

    // position-based (U-shaped) multi-touch attribution: purchases
    // split 40/20/40 bp credit over their 7-day touch paths
    "q198_positional" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val tch = e.filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type").as("chan"))
      Funnels.positionalAttribution(conv, tch, "user_id", "ts_us",
        "event_id", "chan", AttributionWindowUs)
    }),

    // link prediction over the repeated part co-occurrence graph:
    // exact common-neighbor / Jaccard / preferential-attachment
    // scores for non-adjacent pairs (apex cap above max degree)
    "q205_link_pred" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val pairs = li.withColumnRenamed("pk", "u")
        .join(li.withColumnRenamed("pk", "v"), Seq("ok"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count_distinct(col("ok")).as("__c"))
        .filter(col("__c") >= 2)
        .select(col("u"), col("v"))
      Graph.linkPrediction(pairs, "u", "v",
        maxApexDegree = 1L << 40, minCommon = 2L, k = 100)
    }),

    // exact per-group mode of the quantity domain (smallest-value
    // tie-break), plain aggregates end to end
    "q206_mode" -> ((s, dir) =>
      Profile.modeValue(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity")),

    // functional-dependency audit: l_partkey -> l_suppkey is violated
    // by multi-supplier parts; report the top repair budgets
    "q207_fd_audit" -> ((s, dir) =>
      Profile.fdAudit(Tables.load(s, dir, "lineitem")
          .select(col("l_partkey").cast("long").as("l_partkey"),
            col("l_suppkey").cast("long").as("l_suppkey")),
        Seq("l_partkey"), "l_suppkey", k = 50)),

    // time-decay multi-touch attribution: 1-day half-life over the
    // 7-day purchase touch paths, exact 10^4 bp per conversion
    "q208_time_decay" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val tch = e.filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type").as("chan"))
      Funnels.timeDecayAttribution(conv, tch, "user_id", "ts_us",
        "event_id", "chan", AttributionWindowUs,
        halfLifeUs = 86400L * 1000000L)
    }),

    // Holt level+trend smoothing of the daily event series
    // (alpha = beta = 1/4 at 256x) — oracle: recursive CTE twin
    "q209_holt" -> ((s, dir) =>
      Rolling.holtDaily(Tables.events(s, dir), "event_type", "ts")
        .select(col("event_type"), col("date").cast("string").as("date"),
          col("n"), col("level_scaled"), col("trend_scaled"),
          col("forecast_scaled"))),

    // per-edge triangle support (k-truss building block) over the
    // repeated part co-occurrence graph
    "q210_edge_support" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val pairs = li.withColumnRenamed("pk", "u")
        .join(li.withColumnRenamed("pk", "v"), Seq("ok"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count_distinct(col("ok")).as("__c"))
        .filter(col("__c") >= 2)
        .select(col("u"), col("v"))
      Graph.edgeSupport(pairs, "u", "v")
    }),

    // k-truss (k=3) cohesive core of the repeated part co-occurrence
    // graph: support peeling to the fixpoint. Oracle: a FIXED stack of
    // unrolled peel rounds (post-fixpoint rounds are no-ops, so any
    // depth >= the actual peel depth matches exactly — depth is 2 at
    // the checked SF, the SQL unrolls 5)
    "q214_ktruss" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val pairs = li.withColumnRenamed("pk", "u")
        .join(li.withColumnRenamed("pk", "v"), Seq("ok"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v"))
        .agg(count_distinct(col("ok")).as("__c"))
        .filter(col("__c") >= 2)
        .select(col("u"), col("v"))
      Graph.kTruss(pairs, "u", "v", k = 3)
    }),

    // isotonic (PAV) recalibration of q165's reliability bins. Oracle:
    // the minimax characterization of weighted L2 isotonic regression
    // (fitted(i) = max over j<=i of min over l>=i of the interval
    // mean), compared as exact cross-multiplied rationals — identical
    // block means to PAV's sequential pooling, floored once per block
    "q193_isotonic" -> ((s, dir) =>
      Eval.isotonicCalibrate(
        Eval.calibration(
          Tables.load(s, dir, "documents")
            .withColumn("score_fp", expr(
              """least(1000000L, (1000000L *
                |  (length(text) - length(replace(text, ' ', ''))) * 6L)
                |  div greatest(1L, cast(length(text) as bigint)))"""
                .stripMargin))
            .withColumn("__lbl",
              when(col("lang") === "en", 1).otherwise(0)),
          "source", "score_fp", "__lbl", nBins = 10),
        "source", "bin", "n", "frac_pos_fp")),

    // 2-D Pareto frontier of the part catalog: cheapest-and-smallest
    // shortlist — prefix-min over distinct-x tallies, never the
    // quadratic domination join
    "q211_skyline" -> ((s, dir) =>
      graft.operators.Skyline.frontier2d(
        Tables.load(s, dir, "part")
          .select(expr("cast(round(p_retailprice*100) as bigint)")
            .as("price_cents"), col("p_size").cast("long").as("p_size")),
        "price_cents", "p_size")),

    // t-closeness release audit over (segment, nation): max cumulative
    // share gap of the balance-bucket distribution vs global, exact bp
    "q212_t_closeness" -> ((s, dir) =>
      Profile.tCloseness(Tables.load(s, dir, "customer")
          .select(col("c_mktsegment"), col("c_nationkey"),
            expr("(cast(round(c_acctbal*100) as bigint) + 1000000000)" +
              " div 100000000").as("v")),
        Seq("c_mktsegment", "c_nationkey"), "v")),

    // one-step-ahead backtest of the q209 Holt forecasts: exact WAPE
    // per event type in basis points
    "q213_forecast_eval" -> ((s, dir) =>
      Rolling.backtestWape(
        Rolling.holtDaily(Tables.events(s, dir), "event_type", "ts"),
        "event_type", "date", "n", "forecast_scaled")),

    // exact-integer Average Precision@10 of the quantized-MIPS
    // retrieval (the q184 setup scored rank-sensitively)
    "q215_avg_precision" -> ((s, dir) => {
      val t = Tables.load(s, dir, "embeddings")
      val results = graft.operators.Quantize.topKQuantized(t, "vec_id",
          "embedding", pmod(col("vec_id"), lit(50)) === 0, k = 10,
          graft.operators.Quantize.scaleOf(t, "embedding"))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val q = t.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("label").as("__ql"))
      val truth = t.select(col("vec_id").as("doc_id"), col("label"))
        .join(q, col("label") === col("__ql") &&
          col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      graft.operators.Fusion.averagePrecisionAtK(results, truth,
        "query_id", "doc_id", "rank", k = 10)
    }),

    // session entry/exit/bounce accounting per event type (30-min gap)
    "q216_entry_exit" -> ((s, dir) =>
      graft.streaming.Sessions.entryExit(
        Tables.events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us", "event_id", "event_type",
        gapSeconds = 1800L)),

    // nearest-centroid (Rocchio) label-separability report over the
    // embedding corpus: exact int8 confusion matrix
    "q218_centroid_classify" -> ((s, dir) => {
      val t = Tables.load(s, dir, "embeddings")
      graft.operators.Quantize.centroidClassify(t, "vec_id",
        "embedding", "label", graft.operators.Quantize.scaleOf(t,
          "embedding"))
    }),

    // exact top-3 lineitems per return flag by price — the
    // row_number-free top-k-per-group primitive with the portable
    // md5 tie-break (heavy cents ties at the cutoff exercise it)
    "q219_topk_group" -> ((s, dir) =>
      graft.operators.Selection.topKPerGroup(
        Tables.load(s, dir, "lineitem")
          .select((col("l_orderkey") * 8 + col("l_linenumber"))
            .cast("long").as("id"),
            col("l_returnflag"),
            expr("cast(round(l_extendedprice*100) as bigint)")
              .as("cents")),
        "l_returnflag", "cents", "id", k = 3)),

    // weighted PageRank over the supp<->cust trade graph, edge weight
    // = shared-order count (trade intensity), 4 exact-integer rounds
    "q220_weighted_pagerank" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("l_suppkey").cast("long") + 10000000L).as("supp"),
          (col("o_custkey").cast("long") + 20000000L).as("cust"))
        .agg(count_distinct(col("o_orderkey")).as("w"))
      val edges = pairs.select(col("supp").as("src"),
          col("cust").as("dst"), col("w"))
        .unionByName(pairs.select(col("cust").as("src"),
          col("supp").as("dst"), col("w")))
      graft.operators.PageRank.iterateWeighted(edges, "src", "dst",
        "w", iters = 4)
    }),

    // Lorenz spend-concentration curve per nation: cumulative customer
    // deciles vs cumulative spend share (the curve behind Gini/HHI)
    "q221_lorenz" -> ((s, dir) =>
      Profile.lorenz(
        Tables.load(s, dir, "orders")
          .withColumn("cents",
            expr("cast(round(o_totalprice*100) as bigint)"))
          .join(Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey")),
        "c_nationkey", "o_custkey", "cents")),

    // schema & column-stats drift between two order-table versions
    // (column dropped, column added, rows grown): the on-call diff
    "q222_schema_drift" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val va = o.filter(col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))
      val vb = o.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      Profile.schemaDrift(va, vb)
    }),

    // temporal term bursts over order comments: which vocabulary
    // concentrates its df in one order date
    "q223_term_bursts" -> ((s, dir) =>
      graft.operators.TextIndex.termBursts(
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.load(s, dir, "part"),
            col("l_partkey") === col("p_partkey"))
          .select((col("l_orderkey") * 8 + col("l_linenumber"))
            .cast("long").as("id"),
            col("p_name"), col("o_orderdate")),
        "id", "p_name", "o_orderdate", minDf = 20L, k = 50)),

    // Herfindahl spend-concentration per nation: which markets are
    // dominated by a few customers (exact rational, decimal(38,0))
    "q197_hhi" -> ((s, dir) =>
      Profile.herfindahl(
        Tables.load(s, dir, "orders")
          .withColumn("cents", expr("cast(round(o_totalprice*100) as bigint)"))
          .join(Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("o_custkey"), col("cents")),
        "c_nationkey", "o_custkey", "cents")),

    // multiclass confusion report of the langId heuristic against the
    // corpus's true lang labels — per-class support / predictions /
    // tp and floored fp precision/recall/F1
    "q225_class_report" -> ((s, dir) =>
      Eval.classificationReport(
        Tables.load(s, dir, "documents")
          .withColumn("__pred", TextAnalysis.langId(col("text"))),
        "lang", "__pred")),

    // McNemar's paired test: does the langId heuristic beat the crude
    // space-ratio threshold at "is this English", conditioning on the
    // rows where the two classifiers DISAGREE
    "q226_mcnemar" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("__score", expr(SpaceScoreSpark))
        .withColumn("__isEn", col("lang") === "en")
        .withColumn("__okA", (col("__score") >= 500000L) === col("__isEn"))
        .withColumn("__okB",
          (TextAnalysis.langId(col("text")) === "en") === col("__isEn"))
      Eval.mcnemar(d, "source", col("__okA"), col("__okB"))
    }),

    // Brier score of the q165 space-ratio score as an "is English"
    // probability, per source — the strictly proper calibration-aware
    // counterpart of q157's ROC-AUC
    "q227_brier" -> ((s, dir) =>
      Eval.brier(Tables.load(s, dir, "documents")
          .withColumn("__score", expr(SpaceScoreSpark))
          .withColumn("__lbl", when(col("lang") === "en", 1L).otherwise(0L)),
        "source", "__score", "__lbl")),

    // expected / maximum calibration error over q165's reliability
    // bins — the one-number summaries of the calibration diagram
    "q228_ece" -> ((s, dir) =>
      Eval.ece(Tables.load(s, dir, "documents")
          .withColumn("__score", expr(SpaceScoreSpark))
          .withColumn("__lbl", when(col("lang") === "en", 1).otherwise(0)),
        "source", "__score", "__lbl", nBins = 10)),

    // Kendall concordance of quantity vs line position per return
    // flag — both ordinal domains are tiny (50 × 7 cells), so the
    // cell-pair join is bounded far under the maxCells contract
    "q229_kendall" -> ((s, dir) =>
      Eval.kendall(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_linenumber")),

    // Markov removal-effect attribution over user journeys — the
    // cluster side is one per-user lead() window collapsed to
    // (channels+2)²-sized transition counts; the driver solves the
    // absorbing chain in exact rationals. Oracle: the same solve as
    // integer Cramer determinants (MarkovOracleSql below)
    "q199_markov" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val tch = e.filter(col("event_type").isin("click", "view", "signup"))
      val converters = e.filter(col("event_type") === "purchase")
        .select(col("user_id"))
      Funnels.markovAttribution(tch, "user_id", "ts_us",
        "event_type", converters)
    }),

    // the distributed half of q204's CMH fold, hash-checked: the
    // per-priority 2×2 exposure/outcome cells
    "q230_cmh_cells" -> ((s, dir) =>
      Eval.cmhCells(
        Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "customer"),
            col("o_custkey") === col("c_custkey")),
        "o_orderpriority",
        pmod(col("c_nationkey"), lit(2)) === 0,
        col("o_totalprice") > 150000.0)),

    // CMH stratified association, ENGINE-EXACT: is even-nation
    // exposure associated with high-value orders after controlling
    // for order priority. Each stratum's E/V/OR terms floor into 10^9
    // fixed point BEFORE summing (the exact-rational fold needs
    // ~211-bit intermediates — past HUGEINT — so the rational twin
    // Eval.cmh stays for precision-critical use, parity spec-pinned);
    // the sums and the one final floor replay identically in DuckDB
    "q204_cmh" -> ((s, dir) =>
      Eval.cmhExactFp(
        Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "customer"),
            col("o_custkey") === col("c_custkey")),
        "o_orderpriority",
        pmod(col("c_nationkey"), lit(2)) === 0,
        col("o_totalprice") > 150000.0)),
  )

  /** q199's DuckDB oracle, GENERATED: the absorbing-chain solve as
    * integer Cramer determinants. Scaling row i of (I − T)·x = b by
    * its out-degree o_i turns the rational system into the integer
    * one (diag(o) − C)·x = b_conv, so each conversion probability is
    * a ratio of two integer determinants — 4×4 for the full chain,
    * 3×3 per removal, Leibniz-expanded below (24 / 6 terms, written
    * by this generator so the cofactor bookkeeping can't typo).
    * Fractions are gcd-reduced before cross-multiplying; every
    * reported quantity is nonnegative (absorption probabilities and
    * their removal drops), so `//` floor equals the Scala BigInt
    * truncation. A state with no outgoing transitions gets an
    * identity row — exactly its absence from the Scala state list.
    * Determinants measured ~35 bits at the gate SF; the HUGEINT bound
    * 24·o_max⁴ holds to o_max ≈ 2·10⁷ out-transitions per state. */
  private val MarkovOracleSql: String = {
    val states = Vector("__START__", "click", "signup", "view")
    def a(i: Int, j: Int): String =
      if (i == j) s"((CASE WHEN o$i = 0 THEN 1 ELSE o$i END) - c${i}_$j)"
      else s"(0 - c${i}_$j)"
    def det(s: Vector[Int], repl: Boolean): String =
      s.indices.toVector.permutations.map { p =>
        var sign = 1
        for (i <- p.indices; j <- i + 1 until p.length)
          if (p(i) > p(j)) sign = -sign
        val term = p.indices.map { r =>
          if (repl && p(r) == 0) s"b${s(r)}" else a(s(r), s(p(r)))
        }.mkString(" * ")
        (if (sign > 0) "+ " else "- ") + term
      }.mkString("(", " ", ")")
    val full = Vector(0, 1, 2, 3)
    val oDefs = states.indices.map(i =>
      s"  coalesce((SELECT CAST(sum(c) AS HUGEINT) FROM trc " +
        s"WHERE f = '${states(i)}'), 0) AS o$i")
    val cDefs = for { i <- states.indices; j <- states.indices } yield
      s"  coalesce((SELECT c FROM trc WHERE f = '${states(i)}' " +
        s"AND tt = '${states(j)}'), 0) AS c${i}_$j"
    val bDefs = states.indices.map(i =>
      s"  coalesce((SELECT c FROM trc WHERE f = '${states(i)}' " +
        s"AND tt = '__CONV__'), 0) AS b$i")
    val detDefs =
      Seq(s"  ${det(full, repl = false)} AS rd0",
        s"  ${det(full, repl = true)} AS rn0") ++
        (1 to 3).flatMap { k =>
          val sub = full.filterNot(_ == k)
          Seq(s"  ${det(sub, repl = false)} AS rd$k",
            s"  ${det(sub, repl = true)} AS rn$k")
        }
    // each probability floors into 10^9 fixed point (matching the
    // operator's ProbScale floor) — exact-rational cross-products of
    // determinant-sized integers overflow INT128 at sf0.1, floors
    // never exceed 10^9 · |det| ≈ 10^29
    val nrmDefs = (0 to 3).flatMap(k => Seq(
      s"  CASE WHEN rd$k < 0 THEN -rn$k ELSE rn$k END AS sn$k",
      s"  abs(rd$k) AS sd$k"))
    val pfpDefs = (0 to 3).map(k =>
      s"  CASE WHEN sd$k = 0 THEN 0 ELSE " +
        s"(1000000000 * sn$k) // sd$k END AS p$k")
    val effDefs = (1 to 3).map(k => s"  p0 - p$k AS e$k")
    val bpDefs = (1 to 3).flatMap(k => Seq(
      s"  CASE WHEN p0 = 0 THEN 0 ELSE (10000 * e$k) // p0 END AS re$k",
      s"  CASE WHEN e1 + e2 + e3 = 0 THEN 0 ELSE " +
        s"(10000 * e$k) // (e1 + e2 + e3) END AS cr$k"))
    s"""WITH tch AS (
       |  SELECT user_id, epoch_us(ts) AS tu, event_type AS ch
       |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
       |conv AS (SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase'),
       |seq AS (
       |  SELECT user_id, ch,
       |    lead(ch) OVER (PARTITION BY user_id ORDER BY tu, ch) AS nxt,
       |    row_number() OVER (PARTITION BY user_id ORDER BY tu, ch) AS rn
       |  FROM tch),
       |tr AS (
       |  SELECT '__START__' AS f, ch AS tt FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT ch, nxt FROM seq WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT seq.ch,
       |    CASE WHEN conv.user_id IS NOT NULL THEN '__CONV__'
       |         ELSE '__DROP__' END
       |  FROM seq LEFT JOIN conv USING (user_id) WHERE nxt IS NULL),
       |trc AS (SELECT f, tt, CAST(count(*) AS HUGEINT) AS c
       |  FROM tr GROUP BY 1, 2),
       |m AS (SELECT
       |${(oDefs ++ cDefs ++ bDefs).mkString(",\n")}),
       |dets AS (SELECT
       |${detDefs.mkString(",\n")}
       |  FROM m),
       |nrm AS (SELECT
       |${nrmDefs.mkString(",\n")}
       |  FROM dets),
       |pfp AS (SELECT
       |${pfpDefs.mkString(",\n")}
       |  FROM nrm),
       |eff AS (SELECT *,
       |${effDefs.mkString(",\n")}
       |  FROM pfp),
       |bp AS (SELECT *,
       |${bpDefs.mkString(",\n")}
       |  FROM eff)
       |SELECT ch AS event_type,
       |  CAST(re AS BIGINT) AS removal_effect_bp,
       |  CAST(cr AS BIGINT) AS credit_bp
       |FROM (
       |  SELECT 'click' AS ch, re1 AS re, cr1 AS cr FROM bp
       |  UNION ALL SELECT 'signup', re2, cr2 FROM bp
       |  UNION ALL SELECT 'view', re3, cr3 FROM bp)
       |WHERE EXISTS (SELECT 1 FROM trc WHERE trc.f = ch)""".stripMargin
  }

  /** q165/q226/q227/q228's shared space-ratio "English-ness" score —
    * ONE formula in the Spark `expr` dialect; [[SpaceScoreSql]] is the
    * DuckDB twin (identical integer arithmetic, `//` for `div`). */
  private val SpaceScoreSpark: String =
    "least(1000000L, (1000000L * (length(text) - " +
      "length(replace(text, ' ', ''))) * 6L) " +
      "div greatest(1L, cast(length(text) as bigint)))"
  private val SpaceScoreSql: String =
    "least(1000000, (1000000 * (length(text) - " +
      "length(replace(text, ' ', ''))) * 6) // greatest(1, length(text)))"

  /** The q26 langId heuristic as a DuckDB CTE chain (`lt`→`lm`→`lp`),
    * carrying `keep` pass-through columns; `lp` emits them + lang_id.
    * Tie order (en > de > es > fr) matches TextAnalysis.langId. */
  private def langIdSqlCtes(keep: String): String =
    s"""lt AS (
       |  SELECT $keep,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS words,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
       |  FROM documents),
       |lm AS (
       |  SELECT $keep, cjk,
       |    len(list_filter(words, w -> w IN ('the','and','of','with','a'))) AS s_en,
       |    len(list_filter(words, w -> w IN ('der','die','und','nicht'))) AS s_de,
       |    len(list_filter(words, w -> w IN ('el','los','las','es'))) AS s_es,
       |    len(list_filter(words, w -> w IN ('le','les','et','est'))) AS s_fr
       |  FROM lt),
       |lp AS (
       |  SELECT $keep,
       |    CASE WHEN cjk > 0 THEN 'zh'
       |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr)
       |           AND s_en > 0 THEN 'en'
       |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr)
       |           AND s_de > 0 THEN 'de'
       |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr)
       |           AND s_es > 0 THEN 'es'
       |         WHEN s_fr = greatest(s_en, s_de, s_es, s_fr)
       |           AND s_fr > 0 THEN 'fr'
       |         ELSE 'und' END AS lang_id
       |  FROM lm)""".stripMargin

  private val benfordCase: String =
    (1 to 9).zip(Profile.BenfordFp)
      .map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ")

  // NDCG@10 discount / ideal-prefix constants, shared with the oracle
  private val NdcgDisc = graft.operators.Fusion.ndcgDiscFp(10)
  private val ndcgDiscCase: String = (1 to 10).zip(NdcgDisc)
    .map { case (r, d) => s"WHEN $r THEN $d" }.mkString(" ")
  private val ndcgIdcgCase: String =
    (1 to 10).zip(NdcgDisc.scanLeft(0L)(_ + _).tail)
      .map { case (n, c) => s"WHEN $n THEN $c" }.mkString(" ")

  /** q214's oracle: `rounds` UNROLLED support-peel rounds (k=3, so the
    * keep filter is support >= 1). Each round recounts per-edge
    * triangle support over the previous round's survivors (the q210
    * formulation) and keeps supported edges; once the peel reaches its
    * fixpoint every further round is a no-op, so any `rounds` >= the
    * actual peel depth (2 at sf0.01) reproduces Graph.kTruss exactly. */
  private def kTrussOracleSql(rounds: Int): String = {
    // AS MATERIALIZED: DuckDB inlines plain CTEs per reference, so a
    // round chain would re-expand every prior round 3x per join —
    // exponential plan (and parquet re-open) blowup without it
    val base =
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT u, v FROM (
        |    SELECT a.pk AS u, b.pk AS v, count(DISTINCT a.ok) AS c
        |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |    GROUP BY 1, 2)
        |  WHERE c >= 2)""".stripMargin
    val peel = (0 until rounds).map { r =>
      s""",
         |t$r AS MATERIALIZED (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e$r e1 JOIN e$r e2 ON e2.u = e1.v
         |  JOIN e$r e3 ON e3.u = e1.u AND e3.v = e2.v),
         |p$r AS MATERIALIZED (
         |  SELECT u, v, count(*) AS s FROM (
         |    SELECT a AS u, b AS v FROM t$r
         |    UNION ALL SELECT a, c FROM t$r
         |    UNION ALL SELECT b, c FROM t$r) GROUP BY 1, 2),
         |s$r AS MATERIALIZED (
         |  SELECT e.u, e.v, coalesce(p$r.s, 0) AS support
         |  FROM e$r e LEFT JOIN p$r ON e.u = p$r.u AND e.v = p$r.v),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT u, v FROM s$r WHERE support >= 1)"""
        .stripMargin
    }.mkString
    // depth probe: the unroll is exact only once the peel has reached
    // its fixpoint by round `rounds` — edge sets only shrink, so count
    // equality of the last two rounds IS set equality. If a larger SF
    // ever peels deeper, this emits a poison row (-1, -1, -1) that can
    // never match the operator output: the gate fails with a
    // self-describing row, a clear "raise rounds" signal instead of a
    // bare hash mismatch.
    base + peel + s"""
      |SELECT u, v, CAST(support AS BIGINT) AS support
      |FROM s${rounds - 1}
      |UNION ALL
      |SELECT -1, -1, CAST(-1 AS BIGINT)
      |WHERE (SELECT count(*) FROM e$rounds) <>
      |      (SELECT count(*) FROM e${rounds - 1})""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q157_auc" ->
      """WITH b AS (
        |  SELECT source, n_chars AS s,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, pos, neg,
        |    CAST(COALESCE(sum(neg) OVER (PARTITION BY source ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cneg
        |  FROM b),
        |a AS (
        |  SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(neg) AS BIGINT) AS n_neg,
        |    CAST(sum(pos * (2 * cneg + neg)) AS HUGEINT) AS u2
        |  FROM c GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  CAST((1000000 * u2) // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_fp
        |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin,

    "q158_survival" ->
      """WITH RECURSIVE per_user AS (
        |  SELECT 'c' || CAST(user_id % 2 AS VARCHAR) AS g,
        |    (epoch_us(coalesce(min(ts) FILTER (WHERE event_type = 'purchase'),
        |                       max(ts))) - epoch_us(min(ts))) // 86400000000 AS t,
        |    CASE WHEN min(ts) FILTER (WHERE event_type = 'purchase') IS NOT NULL
        |      THEN 1 ELSE 0 END AS ev
        |  FROM events GROUP BY user_id),
        |agg AS (
        |  SELECT g, t, CAST(sum(ev) AS BIGINT) AS d,
        |    CAST(sum(1 - ev) AS BIGINT) AS c
        |  FROM per_user GROUP BY 1, 2),
        |ser AS (
        |  SELECT g, t, d, c,
        |    CAST(sum(d + c) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(d + c) OVER (PARTITION BY g) AS BIGINT) AS tot,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY t) AS BIGINT) AS idx
        |  FROM agg),
        |s2 AS (
        |  SELECT g, t, d, c, tot - cum + d + c AS n_risk, idx FROM ser),
        |km AS (
        |  SELECT g, idx, t, n_risk, d, c,
        |    CAST((1000000 * (n_risk - d)) // n_risk AS BIGINT) AS surv_fp
        |  FROM s2 WHERE idx = 1
        |  UNION ALL
        |  SELECT s.g, s.idx, s.t, s.n_risk, s.d, s.c,
        |    CAST((km.surv_fp * (s.n_risk - s.d)) // s.n_risk AS BIGINT)
        |  FROM km JOIN s2 s ON s.g = km.g AND s.idx = km.idx + 1)
        |SELECT g AS cohort, t, n_risk, d AS n_event, c AS n_censor, surv_fp
        |FROM km""".stripMargin,

    "q159_moments" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS val
        |  FROM lineitem),
        |m AS (SELECT g, min(val) AS mn FROM v GROUP BY 1),
        |sh AS (SELECT v.g, v.val - m.mn AS x, m.mn AS mn
        |       FROM v JOIN m USING (g)),
        |p AS (
        |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(min(mn) AS HUGEINT) AS mn,
        |    CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(x*x) AS HUGEINT) AS s2,
        |    CAST(sum(x*x*x) AS HUGEINT) AS s3,
        |    CAST(sum(x*x*x*x) AS HUGEINT) AS s4
        |  FROM sh GROUP BY 1)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN mn*n + s1 >= 0
        |    THEN (10000 * (mn*n + s1)) // n
        |    ELSE -((10000 * -(mn*n + s1)) // n) END AS BIGINT) AS mean_fp,
        |  CAST((10000 * (n*s2 - s1*s1)) // (n*n) AS BIGINT) AS var_fp,
        |  CAST(CASE WHEN n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 >= 0
        |    THEN (10000 * (n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1)) // (n*n*n)
        |    ELSE -((10000 * -(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1)) // (n*n*n))
        |    END AS BIGINT) AS m3_fp,
        |  CAST((10000 * (n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 -
        |    3*s1*s1*s1*s1)) // (n*n*n*n) AS BIGINT) AS m4_fp
        |FROM p""".stripMargin,

    "q160_k_anonymity" ->
      """WITH q AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000000) // 100000
        |      AS bal_bucket
        |  FROM customer)
        |SELECT c_mktsegment, c_nationkey, bal_bucket,
        |  CAST(count(*) AS BIGINT) AS group_size,
        |  count(*) < 5 AS at_risk
        |FROM q GROUP BY 1, 2, 3""".stripMargin,

    "q161_attribution" ->
      s"""WITH conv AS (
         |  SELECT event_id, user_id, ts, value FROM events
         |  WHERE event_type = 'purchase'),
         |tch AS (
         |  SELECT event_id, user_id, ts, event_type FROM events
         |  WHERE event_type IN ('click', 'view', 'signup')),
         |att AS (
         |  SELECT c.event_id, c.value,
         |    (SELECT t.event_type FROM tch t
         |     WHERE t.user_id = c.user_id AND t.ts < c.ts
         |       AND epoch_us(c.ts) - epoch_us(t.ts) <= $AttributionWindowUs
         |     ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS channel
         |  FROM conv c)
         |SELECT coalesce(channel, 'organic') AS channel,
         |  CAST(count(*) AS BIGINT) AS n_conv,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |    AS revenue_cents
         |FROM att GROUP BY 1""".stripMargin,

    "q162_benford" ->
      s"""WITH vals AS (
         |  SELECT o_orderpriority AS g,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders
         |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
         |d AS (
         |  SELECT g, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
         |    CAST(count(*) AS BIGINT) AS n_digit
         |  FROM vals GROUP BY 1, 2),
         |t AS (SELECT g, CAST(sum(n_digit) AS BIGINT) AS n FROM d GROUP BY 1),
         |j AS (
         |  SELECT d.g, d.digit, d.n_digit, t.n,
         |    CASE d.digit $benfordCase END AS p_fp
         |  FROM d JOIN t USING (g))
         |SELECT g AS o_orderpriority, digit, n_digit, n, p_fp,
         |  CAST(((1000000 * CAST(n_digit AS HUGEINT) - CAST(n AS HUGEINT) * p_fp) *
         |        (1000000 * CAST(n_digit AS HUGEINT) - CAST(n AS HUGEINT) * p_fp))
         |    // (CAST(n AS HUGEINT) * p_fp) // 1000000 AS BIGINT) AS chi2_fp
         |FROM j""".stripMargin,

    "q163_kappa" ->
      """WITH r AS (
        |  SELECT lang,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN length(text) - length(replace(text, ' ', '')) >= 60
        |      THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS HUGEINT) AS agree,
        |    CAST(sum(a) AS HUGEINT) AS a1, CAST(sum(b) AS HUGEINT) AS b1
        |  FROM r GROUP BY 1),
        |k AS (
        |  SELECT lang, n, agree,
        |    n * agree - (a1*b1 + (n-a1)*(n-b1)) AS num,
        |    n * n - (a1*b1 + (n-a1)*(n-b1)) AS den
        |  FROM g)
        |SELECT lang, CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
        |  CAST(CASE WHEN den = 0 THEN NULL
        |    WHEN num >= 0 THEN (1000000 * num) // den
        |    ELSE -((1000000 * (-num)) // den) END AS BIGINT) AS kappa_fp
        |FROM k""".stripMargin,

    "q164_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, dd, n, CAST(isodow(dd) AS INT) AS isodow
        |  FROM daily),
        |base AS (
        |  SELECT event_type, isodow,
        |    CAST((10000 * CAST(sum(n) AS HUGEINT)) //
        |      CAST(count(*) AS HUGEINT) AS BIGINT) AS expected_fp
        |  FROM dw GROUP BY 1, 2)
        |SELECT dw.event_type, CAST(dw.dd AS VARCHAR) AS d, dw.isodow, dw.n,
        |  base.expected_fp, 10000 * dw.n - base.expected_fp AS residual_fp
        |FROM dw JOIN base USING (event_type, isodow)""".stripMargin,

    "q165_calibration" ->
      """WITH s AS (
        |  SELECT source,
        |    least(1000000, (1000000 *
        |      (length(text) - length(replace(text, ' ', ''))) * 6)
        |      // greatest(1, length(text))) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    CAST(least(9, greatest(0, (10 * score) // 1000000)) AS INT)
        |      AS bin,
        |    score, l
        |  FROM s)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(score) AS HUGEINT) // count(*) AS BIGINT)
        |    AS mean_score_fp,
        |  CAST((1000000 * CAST(sum(l) AS HUGEINT)) // count(*) AS BIGINT)
        |    AS frac_pos_fp
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q166_phi2" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN CAST(round(value * 100) AS BIGINT) >= 5000
        |      THEN 1 ELSE 0 END AS b
        |  FROM events),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a * b) AS BIGINT) AS n11,
        |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        |  FROM r GROUP BY 1),
        |d AS (
        |  SELECT *, CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01
        |    AS det FROM g),
        |e AS (
        |  SELECT *,
        |    CASE WHEN det >= 0
        |      THEN (1000000 * det) // (CAST(n AS HUGEINT) * n)
        |      ELSE -((1000000 * (-det)) // (CAST(n AS HUGEINT) * n))
        |      END AS dd,
        |    (1000000 * CAST(n11 + n10 AS HUGEINT)) // n AS ma,
        |    (1000000 * CAST(n11 + n01 AS HUGEINT)) // n AS mb
        |  FROM d)
        |SELECT event_type, n, n11, n10, n01, n00,
        |  CAST(CASE WHEN ma <= 0 OR ma >= 1000000 OR mb <= 0
        |      OR mb >= 1000000 THEN NULL
        |    ELSE (CAST(1000000 AS HUGEINT) * 1000000 * 1000000 * dd * dd)
        |      // (ma * (1000000 - ma)) // (mb * (1000000 - mb))
        |    END AS BIGINT) AS phi2_fp
        |FROM e""".stripMargin,

    "q167_golden_record" ->
      """WITH rec AS (
        |  SELECT c_custkey // 10 AS cluster, c_mktsegment,
        |    CAST(c_nationkey AS VARCHAR) AS nat
        |  FROM customer),
        |melt AS (
        |  SELECT cluster, 'c_mktsegment' AS attr, c_mktsegment AS value
        |  FROM rec
        |  UNION ALL
        |  SELECT cluster, 'c_nationkey', nat FROM rec),
        |cnt AS (
        |  SELECT cluster, attr, value, count(*) AS n
        |  FROM melt WHERE value IS NOT NULL GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT cluster, attr, value FROM (
        |    SELECT cluster, attr, value, row_number() OVER (
        |      PARTITION BY cluster, attr ORDER BY n DESC, value ASC) AS rn
        |    FROM cnt) WHERE rn = 1),
        |sz AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
        |  FROM rec GROUP BY 1)
        |SELECT sz.cluster, sz.n_members,
        |  max(CASE WHEN b.attr = 'c_mktsegment' THEN b.value END)
        |    AS c_mktsegment,
        |  max(CASE WHEN b.attr = 'c_nationkey' THEN b.value END)
        |    AS c_nationkey
        |FROM sz JOIN best b ON sz.cluster = b.cluster
        |GROUP BY 1, 2""".stripMargin,

    "q168_logrank" ->
      """WITH per_user AS (
        |  SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS g,
        |    (epoch_us(coalesce(min(ts) FILTER (WHERE event_type = 'purchase'),
        |                       max(ts))) - epoch_us(min(ts))) // 86400000000 AS t,
        |    CASE WHEN min(ts) FILTER (WHERE event_type = 'purchase') IS NOT NULL
        |      THEN 1 ELSE 0 END AS ev
        |  FROM events GROUP BY user_id),
        |tal AS (
        |  SELECT g, t, CAST(sum(ev) AS BIGINT) AS d,
        |    CAST(sum(1 - ev) AS BIGINT) AS c
        |  FROM per_user GROUP BY 1, 2),
        |dt AS (SELECT DISTINCT t FROM tal WHERE d > 0),
        |gs AS (SELECT DISTINCT g FROM tal),
        |grid AS (SELECT gs.g, dt.t, 1 AS isdt FROM gs CROSS JOIN dt),
        |m AS (
        |  SELECT coalesce(tal.g, grid.g) AS g, coalesce(tal.t, grid.t) AS t,
        |    coalesce(tal.d, 0) AS d, coalesce(tal.c, 0) AS c, grid.isdt
        |  FROM tal FULL OUTER JOIN grid
        |    ON tal.g = grid.g AND tal.t = grid.t),
        |ser AS (
        |  SELECT g, t, d, isdt,
        |    CAST(coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cumb,
        |    CAST(sum(d + c) OVER (PARTITION BY g) AS BIGINT) AS tot
        |  FROM m),
        |sr AS (
        |  SELECT g, t, d, tot, tot - cumb AS n_risk
        |  FROM ser WHERE isdt = 1),
        |ct AS (
        |  SELECT g, d, tot, n_risk,
        |    CAST(sum(d) OVER (PARTITION BY t) AS BIGINT) AS dT,
        |    CAST(sum(n_risk) OVER (PARTITION BY t) AS BIGINT) AS nT
        |  FROM sr)
        |SELECT g AS cohort, CAST(min(tot) AS BIGINT) AS n_subjects,
        |  CAST(sum(d) AS BIGINT) AS observed,
        |  CAST(sum((1000000 * CAST(dT AS HUGEINT) * n_risk) // nT)
        |    AS BIGINT) AS expected_fp,
        |  CAST(1000000 * sum(d) -
        |    sum((1000000 * CAST(dT AS HUGEINT) * n_risk) // nT)
        |    AS BIGINT) AS oe_fp
        |FROM ct GROUP BY g""".stripMargin,

    "q169_abc" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS total
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT o_orderpriority, o_custkey, total,
        |    CAST(coalesce(sum(total) OVER (PARTITION BY o_orderpriority
        |      ORDER BY total DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS HUGEINT) AS prev,
        |    CAST(sum(total) OVER (PARTITION BY o_orderpriority)
        |      AS HUGEINT) AS grand,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY total DESC, o_custkey) AS INT) AS "rank"
        |  FROM t)
        |SELECT o_orderpriority, o_custkey, total, "rank",
        |  CASE WHEN 10000 * prev < 8000 * grand THEN 'A'
        |    WHEN 10000 * prev < 9500 * grand THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM w""".stripMargin,

    "q170_readability" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    greatest(1, len(regexp_extract_all(text,
         |      '${TextAnalysis.ReadWordPattern}'))) AS w,
         |    greatest(1, len(regexp_extract_all(text,
         |      '${TextAnalysis.ReadSentencePattern}'))) AS s,
         |    len(regexp_extract_all(text,
         |      '${TextAnalysis.ReadSyllablePattern}')) AS sy
         |  FROM documents)
         |SELECT doc_id, CAST(w AS BIGINT) AS words,
         |  CAST(s AS BIGINT) AS sentences, CAST(sy AS BIGINT) AS syllables,
         |  CAST(CASE WHEN 3900 * CAST(w AS HUGEINT) * w +
         |      118000 * CAST(sy AS HUGEINT) * s -
         |      155900 * CAST(w AS HUGEINT) * s >= 0
         |    THEN (3900 * CAST(w AS HUGEINT) * w +
         |          118000 * CAST(sy AS HUGEINT) * s -
         |          155900 * CAST(w AS HUGEINT) * s)
         |         // (CAST(w AS HUGEINT) * s)
         |    ELSE -((-(3900 * CAST(w AS HUGEINT) * w +
         |              118000 * CAST(sy AS HUGEINT) * s -
         |              155900 * CAST(w AS HUGEINT) * s))
         |         // (CAST(w AS HUGEINT) * s))
         |    END AS BIGINT) AS fk_fp
         |FROM c""".stripMargin,

    "q171_corr" ->
      """WITH v AS (
        |  SELECT l_linestatus AS g, CAST(l_quantity AS BIGINT) AS x0,
        |    CAST(round(l_discount * 10000) AS BIGINT) AS y0
        |  FROM lineitem),
        |a AS (SELECT g, min(x0) AS ax, min(y0) AS ay FROM v GROUP BY 1),
        |sh AS (SELECT v.g, v.x0 - a.ax AS x, v.y0 - a.ay AS y
        |       FROM v JOIN a USING (g)),
        |p AS (
        |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*x) AS HUGEINT) AS sxx,
        |    CAST(sum(y*y) AS HUGEINT) AS syy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy
        |  FROM sh GROUP BY 1),
        |q AS (
        |  SELECT g, n, n*sxy - sx*sy AS cov, n*sxx - sx*sx AS vx,
        |    n*syy - sy*sy AS vy
        |  FROM p),
        |r AS (
        |  SELECT g, n,
        |    CASE WHEN cov >= 0 THEN (1000000 * cov) // (n*n)
        |      ELSE -((1000000 * (-cov)) // (n*n)) END AS covn,
        |    (1000000 * vx) // (n*n) AS vxn,
        |    (1000000 * vy) // (n*n) AS vyn
        |  FROM q)
        |SELECT g AS l_linestatus, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
        |    WHEN covn >= 0 THEN (1000000 * covn * covn) // (vxn * vyn)
        |    ELSE -((1000000 * covn * covn) // (vxn * vyn))
        |    END AS BIGINT) AS r2_fp
        |FROM r""".stripMargin,

    "q172_cohort_ltv" ->
      """WITH fe AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |ev AS (
        |  SELECT e.user_id, fe.cw,
        |    (epoch_us(date_trunc('week', e.ts)) - epoch_us(fe.cw))
        |      // 604800000000 AS off,
        |    CASE WHEN e.event_type = 'purchase'
        |      THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END AS cents
        |  FROM events e JOIN fe USING (user_id)),
        |g AS (
        |  SELECT cw, off, CAST(sum(cents) AS BIGINT) AS revenue_cents
        |  FROM ev GROUP BY 1, 2),
        |u AS (SELECT cw, CAST(count(*) AS BIGINT) AS users FROM fe
        |      GROUP BY 1),
        |c AS (
        |  SELECT cw, off, revenue_cents,
        |    CAST(sum(revenue_cents) OVER (PARTITION BY cw ORDER BY off)
        |      AS BIGINT) AS cum_cents
        |  FROM g)
        |SELECT CAST(CAST(c.cw AS DATE) AS VARCHAR) AS cohort,
        |  c.off AS week_offset, u.users, c.revenue_cents, c.cum_cents,
        |  CAST((10000 * CAST(c.cum_cents AS HUGEINT)) // u.users AS BIGINT)
        |    AS ltv_per_user_fp
        |FROM c JOIN u USING (cw)""".stripMargin,

    "q173_assortativity" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem),
        |und AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |dbl AS (
        |  SELECT u AS a, v AS b FROM und
        |  UNION ALL SELECT v, u FROM und),
        |pd AS (
        |  SELECT 'parts' AS g, da.deg AS x0, db.deg AS y0
        |  FROM dbl JOIN deg da ON dbl.a = da.node
        |           JOIN deg db ON dbl.b = db.node),
        |a AS (SELECT g, min(x0) AS ax, min(y0) AS ay FROM pd GROUP BY 1),
        |sh AS (SELECT pd.g, pd.x0 - a.ax AS x, pd.y0 - a.ay AS y
        |       FROM pd JOIN a USING (g)),
        |p AS (
        |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*x) AS HUGEINT) AS sxx,
        |    CAST(sum(y*y) AS HUGEINT) AS syy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy
        |  FROM sh GROUP BY 1),
        |q AS (
        |  SELECT g, n, n*sxy - sx*sy AS cov, n*sxx - sx*sx AS vx,
        |    n*syy - sy*sy AS vy
        |  FROM p),
        |r AS (
        |  SELECT g, n,
        |    CASE WHEN cov >= 0 THEN (1000000 * cov) // (n*n)
        |      ELSE -((1000000 * (-cov)) // (n*n)) END AS covn,
        |    (1000000 * vx) // (n*n) AS vxn,
        |    (1000000 * vy) // (n*n) AS vyn
        |  FROM q)
        |SELECT g, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
        |    WHEN covn >= 0 THEN (1000000 * covn * covn) // (vxn * vyn)
        |    ELSE -((1000000 * covn * covn) // (vxn * vyn))
        |    END AS BIGINT) AS r2_fp
        |FROM r""".stripMargin,

    "q174_weighted_quantiles" ->
      """WITH d AS (
        |  SELECT source, n_chars AS v,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS w
        |  FROM documents),
        |a AS (SELECT source, v, CAST(sum(w) AS BIGINT) AS w
        |      FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT source, v, w,
        |    CAST(sum(w) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
        |      AS cum,
        |    CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tot
        |  FROM a),
        |t AS (SELECT DISTINCT source, tot FROM c),
        |f AS (
        |  SELECT source, tot, 'p50' AS label,
        |    greatest(1, (tot * 5000) // 10000) AS r FROM t
        |  UNION ALL
        |  SELECT source, tot, 'p90',
        |    greatest(1, (tot * 9000) // 10000) FROM t)
        |SELECT f.source, f.label, CAST(min(c.v) AS BIGINT) AS value,
        |  CAST(f.tot AS BIGINT) AS n
        |FROM f JOIN c ON c.source = f.source AND c.cum >= f.r
        |GROUP BY 1, 2, f.tot""".stripMargin,

    "q175_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS dd,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT 1 AS lag UNION ALL SELECT 7),
        |p AS (
        |  SELECT a.g, l.lag, a.x AS x0, b.x AS y0
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON b.g = a.g AND b.dd = a.dd - l.lag),
        |an AS (SELECT g, lag, min(x0) AS ax, min(y0) AS ay
        |       FROM p GROUP BY 1, 2),
        |sh AS (SELECT p.g, p.lag, p.x0 - an.ax AS x, p.y0 - an.ay AS y
        |       FROM p JOIN an USING (g, lag)),
        |pp AS (
        |  SELECT g, lag, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*x) AS HUGEINT) AS sxx,
        |    CAST(sum(y*y) AS HUGEINT) AS syy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy
        |  FROM sh GROUP BY 1, 2),
        |q AS (
        |  SELECT g, lag, n, n*sxy - sx*sy AS cov, n*sxx - sx*sx AS vx,
        |    n*syy - sy*sy AS vy
        |  FROM pp),
        |r AS (
        |  SELECT g, lag, n,
        |    CASE WHEN cov >= 0 THEN (1000000 * cov) // (n*n)
        |      ELSE -((1000000 * (-cov)) // (n*n)) END AS covn,
        |    (1000000 * vx) // (n*n) AS vxn,
        |    (1000000 * vy) // (n*n) AS vyn
        |  FROM q)
        |SELECT g AS event_type, lag, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
        |    WHEN covn >= 0 THEN (1000000 * covn * covn) // (vxn * vyn)
        |    ELSE -((1000000 * covn * covn) // (vxn * vyn))
        |    END AS BIGINT) AS r2_fp
        |FROM r""".stripMargin,

    "q176_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, dd, n, CAST(isodow(dd) AS INT) AS isodow
        |  FROM daily),
        |base AS (
        |  SELECT event_type, isodow,
        |    CAST((10000 * CAST(sum(n) AS HUGEINT)) //
        |      CAST(count(*) AS HUGEINT) AS BIGINT) AS expected_fp
        |  FROM dw GROUP BY 1, 2),
        |res AS (
        |  SELECT dw.event_type AS g, CAST(dw.dd AS VARCHAR) AS d,
        |    10000 * dw.n - base.expected_fp AS v
        |  FROM dw JOIN base USING (event_type, isodow)),
        |r AS (
        |  SELECT g, d, v, row_number() OVER (PARTITION BY g ORDER BY v)
        |    AS rn, count(*) OVER (PARTITION BY g) AS n
        |  FROM res),
        |m AS (SELECT g, max(CASE WHEN rn = (n + 1) // 2 THEN v END)
        |      AS med FROM r GROUP BY g),
        |dv AS (
        |  SELECT res.g, res.d, res.v, m.med, abs(res.v - m.med) AS dev
        |  FROM res JOIN m USING (g)),
        |r2 AS (
        |  SELECT g, dev, row_number() OVER (PARTITION BY g ORDER BY dev)
        |    AS rn, count(*) OVER (PARTITION BY g) AS n
        |  FROM dv),
        |m2 AS (SELECT g, max(CASE WHEN rn = (n + 1) // 2 THEN dev END)
        |       AS mad FROM r2 GROUP BY g)
        |SELECT dv.g AS event_type, dv.d, dv.v AS residual_fp,
        |  CAST(dv.med AS BIGINT) AS median, CAST(m2.mad AS BIGINT) AS mad,
        |  CAST(dev * 10000 // greatest(m2.mad, 1) AS BIGINT) AS score_bp,
        |  CAST(CASE WHEN dev * 10000 // greatest(m2.mad, 1) >= 35000
        |    THEN 1 ELSE 0 END AS INT) AS is_outlier
        |FROM dv JOIN m2 USING (g)""".stripMargin,

    "q177_df_drift" ->
      """WITH ta AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_a FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      regexp_split_to_array(trim(text), '\s+'))) AS term
        |    FROM documents WHERE doc_id % 2 = 0)
        |  GROUP BY 1),
        |tb AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_b FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      regexp_split_to_array(trim(text), '\s+'))) AS term
        |    FROM documents WHERE doc_id % 2 = 1)
        |  GROUP BY 1),
        |na AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 0),
        |nb AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 1),
        |j AS (
        |  SELECT coalesce(ta.term, tb.term) AS term,
        |    coalesce(df_a, 0) AS df_a, coalesce(df_b, 0) AS df_b
        |  FROM ta FULL OUTER JOIN tb ON ta.term = tb.term),
        |sh AS (
        |  SELECT term, df_a, df_b,
        |    (10000 * df_a) // (SELECT n FROM na) AS share_a_bp,
        |    (10000 * df_b) // (SELECT n FROM nb) AS share_b_bp
        |  FROM j WHERE greatest(df_a, df_b) >= 5)
        |SELECT term, df_a, df_b, share_a_bp, share_b_bp,
        |  share_b_bp - share_a_bp AS delta_bp
        |FROM sh
        |ORDER BY abs(share_b_bp - share_a_bp) DESC, term
        |LIMIT 50""".stripMargin,

    "q178_dup_profile" ->
      """WITH sizes AS (
        |  SELECT text, CAST(count(*) AS BIGINT) AS s
        |  FROM documents GROUP BY 1),
        |prof AS (
        |  SELECT s AS multiplicity, CAST(count(*) AS BIGINT) AS n_clusters
        |  FROM sizes GROUP BY 1),
        |tot AS (SELECT CAST(sum(multiplicity * n_clusters) AS BIGINT)
        |        AS t FROM prof)
        |SELECT multiplicity, n_clusters,
        |  multiplicity * n_clusters AS n_docs,
        |  (multiplicity - 1) * n_clusters AS n_excess,
        |  CAST((10000 * CAST(multiplicity * n_clusters AS HUGEINT))
        |    // (SELECT t FROM tot) AS BIGINT) AS share_bp
        |FROM prof""".stripMargin,

    "q179_spearman" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS xv,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS yv
        |  FROM lineitem),
        |rk AS (
        |  SELECT g,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(rank() OVER (PARTITION BY g ORDER BY xv) AS BIGINT)
        |      AS rx,
        |    CAST(rank() OVER (PARTITION BY g ORDER BY yv) AS BIGINT)
        |      AS ry
        |  FROM v),
        |pc AS (
        |  SELECT g, (10000 * rx) // n AS x0, (10000 * ry) // n AS y0
        |  FROM rk),
        |a AS (SELECT g, min(x0) AS ax, min(y0) AS ay FROM pc GROUP BY 1),
        |sh AS (SELECT pc.g, pc.x0 - a.ax AS x, pc.y0 - a.ay AS y
        |       FROM pc JOIN a USING (g)),
        |p AS (
        |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*x) AS HUGEINT) AS sxx,
        |    CAST(sum(y*y) AS HUGEINT) AS syy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy
        |  FROM sh GROUP BY 1),
        |q AS (
        |  SELECT g, n, n*sxy - sx*sy AS cov, n*sxx - sx*sx AS vx,
        |    n*syy - sy*sy AS vy
        |  FROM p),
        |r AS (
        |  SELECT g, n,
        |    CASE WHEN cov >= 0 THEN (1000000 * cov) // (n*n)
        |      ELSE -((1000000 * (-cov)) // (n*n)) END AS covn,
        |    (1000000 * vx) // (n*n) AS vxn,
        |    (1000000 * vy) // (n*n) AS vyn
        |  FROM q)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
        |    WHEN covn >= 0 THEN (1000000 * covn * covn) // (vxn * vyn)
        |    ELSE -((1000000 * covn * covn) // (vxn * vyn))
        |    END AS BIGINT) AS r2_fp
        |FROM r""".stripMargin,

    "q180_funnel_lag" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        |s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts - s1.t1 <= 86400000000
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts - s2.t2 <= 86400000000
        |  GROUP BY 1),
        |lg AS (
        |  SELECT s3.t3 - s1.t1 AS v
        |  FROM s1 JOIN s3 USING (user_id)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lg),
        |f AS (
        |  SELECT 'p50' AS label, greatest(1, (n * 50) // 100) AS r, n
        |  FROM t
        |  UNION ALL
        |  SELECT 'p90', greatest(1, (n * 90) // 100), n FROM t),
        |c AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM lg)
        |SELECT 'view->purchase' AS g, f.label, CAST(c.v AS BIGINT)
        |  AS value, f.n
        |FROM f JOIN c ON c.rn = f.r""".stripMargin,

    "q181_ks" ->
      """WITH v AS (
        |  SELECT l_linestatus AS g, CAST(l_quantity AS BIGINT) AS vv,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a
        |  FROM lineitem),
        |b AS (
        |  SELECT g, vv, CAST(sum(a) AS BIGINT) AS ca,
        |    CAST(sum(1 - a) AS BIGINT) AS cb
        |  FROM v GROUP BY 1, 2),
        |c AS (
        |  SELECT g, vv, ca, cb,
        |    CAST(sum(ca) OVER (PARTITION BY g ORDER BY vv) AS BIGINT)
        |      AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY g ORDER BY vv) AS BIGINT)
        |      AS cumb,
        |    CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY g) AS BIGINT) AS nb
        |  FROM b),
        |m AS (
        |  SELECT g, min(na) AS n_a, min(nb) AS n_b,
        |    max(abs(CAST(cuma AS HUGEINT) * nb -
        |            CAST(cumb AS HUGEINT) * na)) AS d
        |  FROM c GROUP BY 1)
        |SELECT g AS l_linestatus, n_a, n_b,
        |  CAST((1000000 * d) // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |    AS d_fp
        |FROM m WHERE n_a > 0 AND n_b > 0""".stripMargin,

    "q182_band_pairs" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS p, o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders)
        |SELECT a.p AS o_orderpriority, a.k AS id_a, b.k AS id_b,
        |  a.v AS value_a, b.v AS value_b, b.v - a.v AS diff
        |FROM o a JOIN o b
        |  ON a.p = b.p AND a.k < b.k AND abs(a.v - b.v) <= 100""".stripMargin,

    "q183_new_returning" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS d FROM e GROUP BY 1),
        |nu AS (SELECT d, CAST(count(*) AS BIGINT) AS new_users
        |       FROM f GROUP BY 1),
        |act AS (SELECT d, CAST(count(*) AS BIGINT) AS active_users
        |        FROM e GROUP BY 1)
        |SELECT CAST(act.d AS VARCHAR) AS d, act.active_users,
        |  coalesce(nu.new_users, 0) AS new_users,
        |  act.active_users - coalesce(nu.new_users, 0) AS returning_users,
        |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY act.d)
        |    AS BIGINT) AS cum_users
        |FROM act LEFT JOIN nu ON act.d = nu.d""".stripMargin,

    "q184_ndcg" ->
      s"""WITH sc AS (
         |  SELECT max(av) AS s FROM (
         |    SELECT unnest(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) AS av
         |    FROM embeddings)
         |), q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> greatest(-127, least(127,
         |      CAST(round(CAST(x AS DOUBLE) * 127.0 / sc.s) AS BIGINT)))) AS qv
         |  FROM embeddings, sc
         |), p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
         |      x -> x[1] * x[2])) AS BIGINT) AS qdot
         |  FROM q a JOIN q b
         |    ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id
         |), r AS (
         |  SELECT query_id, neighbor_id, qdot,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY qdot DESC, neighbor_id) AS rnk
         |  FROM p
         |), tr AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS doc_id
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 50 = 0 AND a.label = b.label
         |      AND b.vec_id <> a.vec_id
         |), nt AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
         |  FROM tr GROUP BY 1
         |), h AS (
         |  SELECT r.query_id,
         |    CAST(sum(CASE r.rnk $ndcgDiscCase END) AS BIGINT) AS dcg_fp
         |  FROM r JOIN tr ON r.query_id = tr.query_id
         |    AND r.neighbor_id = tr.doc_id
         |  WHERE r.rnk <= 10 GROUP BY 1
         |)
         |SELECT nt.query_id, nt.n_truth,
         |  coalesce(h.dcg_fp, 0) AS dcg_fp,
         |  CAST(CASE least(nt.n_truth, 10) $ndcgIdcgCase END AS BIGINT)
         |    AS idcg_fp,
         |  (1000000 * coalesce(h.dcg_fp, 0))
         |    // (CASE least(nt.n_truth, 10) $ndcgIdcgCase END) AS ndcg_fp
         |FROM nt LEFT JOIN h ON nt.query_id = h.query_id""".stripMargin,

    "q185_modularity" ->
      """WITH RECURSIVE
        |li AS (
        |  SELECT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem),
        |p0 AS (
        |  SELECT u, v FROM (
        |    SELECT a.pk AS u, b.pk AS v, count(DISTINCT a.ok) AS c
        |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |    GROUP BY 1, 2) WHERE c >= 2),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM p0 UNION ALL SELECT v FROM p0)),
        |prop AS (
        |  SELECT u AS src, v AS dst FROM p0
        |  UNION ALL SELECT v, u FROM p0
        |  UNION ALL SELECT node, node FROM nodes),
        |r AS (
        |  SELECT 0 AS it, node, node AS label FROM nodes
        |  UNION ALL
        |  SELECT it, node, label FROM (
        |    SELECT c.it, c.node, c.label,
        |      row_number() OVER (PARTITION BY c.it, c.node
        |                         ORDER BY c.cnt DESC, c.label ASC) AS rn
        |    FROM (
        |      SELECT r.it + 1 AS it, p.dst AS node, r.label AS label,
        |        count(*) AS cnt
        |      FROM r JOIN prop p ON r.node = p.src
        |      WHERE r.it < 5
        |      GROUP BY r.it + 1, p.dst, r.label
        |    ) c
        |  ) WHERE rn = 1
        |),
        |lab AS (SELECT node, label FROM r WHERE it = 5),
        |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM p0),
        |intra AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS i
        |  FROM p0 JOIN lab a ON p0.u = a.node
        |          JOIN lab b ON p0.v = b.node
        |  WHERE a.label = b.label),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM p0 UNION ALL SELECT v FROM p0)
        |  GROUP BY 1),
        |dc AS (
        |  SELECT a.label, CAST(sum(deg.d) AS HUGEINT) AS dcv
        |  FROM deg JOIN lab a ON deg.node = a.node GROUP BY 1),
        |s2 AS (SELECT CAST(sum(dcv * dcv) AS HUGEINT) AS sd2 FROM dc)
        |SELECT CAST(mm.m AS BIGINT) AS m,
        |  CAST(intra.i AS BIGINT) AS intra_edges,
        |  CAST(CASE WHEN 4 * mm.m * intra.i - s2.sd2 >= 0
        |    THEN (1000000 * (4 * mm.m * intra.i - s2.sd2))
        |         // (4 * mm.m * mm.m)
        |    ELSE -((1000000 * (s2.sd2 - 4 * mm.m * intra.i))
        |         // (4 * mm.m * mm.m)) END AS BIGINT) AS q_fp
        |FROM mm, intra, s2""".stripMargin,

    "q186_sample_quantiles" ->
      """WITH d AS (SELECT source, doc_id, n_chars FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_chars, row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(
        |          CAST(doc_id AS VARCHAR) || '|q186'), 1, 8))
        |        ::BIGINT % 1000000, doc_id) AS rk
        |  FROM d),
        |samp AS (SELECT source, n_chars FROM r WHERE rk <= 12),
        |sr AS (
        |  SELECT source, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM samp),
        |sq AS (
        |  SELECT source, 'p50' AS label,
        |    max(CASE WHEN rn = greatest(1, (n * 50) // 100) THEN v END)
        |      AS est_value, CAST(min(n) AS BIGINT) AS n_sample
        |  FROM sr GROUP BY 1
        |  UNION ALL
        |  SELECT source, 'p90',
        |    max(CASE WHEN rn = greatest(1, (n * 90) // 100) THEN v END),
        |    CAST(min(n) AS BIGINT)
        |  FROM sr GROUP BY 1),
        |fr AS (
        |  SELECT source, n_chars AS v,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM d),
        |fq AS (
        |  SELECT source, 'p50' AS label,
        |    max(CASE WHEN rn = greatest(1, (n * 50) // 100) THEN v END)
        |      AS exact_value, CAST(min(n) AS BIGINT) AS n
        |  FROM fr GROUP BY 1
        |  UNION ALL
        |  SELECT source, 'p90',
        |    max(CASE WHEN rn = greatest(1, (n * 90) // 100) THEN v END),
        |    CAST(min(n) AS BIGINT)
        |  FROM fr GROUP BY 1)
        |SELECT sq.source, sq.label, CAST(sq.est_value AS BIGINT)
        |    AS est_value, sq.n_sample,
        |  CAST(fq.exact_value AS BIGINT) AS exact_value, fq.n,
        |  CAST(sq.est_value - fq.exact_value AS BIGINT) AS err
        |FROM sq JOIN fq ON sq.source = fq.source AND sq.label = fq.label
        |""".stripMargin,

    "q187_quantile_norm" ->
      """WITH v AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |rk AS (
        |  SELECT l_orderkey, l_linenumber, g, cents,
        |    CAST(rank() OVER (PARTITION BY g ORDER BY cents) AS BIGINT)
        |      AS rnk,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM v),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |p AS (
        |  SELECT l_orderkey, l_linenumber, g, cents,
        |    (10000 * rnk) // n AS pct_bp,
        |    greatest(1, (((10000 * rnk) // n) * (SELECT n FROM nn))
        |      // 10000) AS gkey
        |  FROM rk),
        |gl AS (
        |  SELECT cents AS gval,
        |    CAST(row_number() OVER (ORDER BY cents) AS BIGINT) AS grn
        |  FROM v)
        |SELECT p.l_orderkey, p.l_linenumber, p.g AS l_returnflag,
        |  p.cents, p.pct_bp, gl.gval AS normalized
        |FROM p JOIN gl ON gl.grn = p.gkey
        |""".stripMargin,

    "q188_cross_corr" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS dd,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |pd AS (
        |  SELECT a.g AS series_a, b.g AS series_b, a.x AS x0, b.x AS y0
        |  FROM daily a JOIN daily b ON a.dd = b.dd AND a.g < b.g),
        |an AS (SELECT series_a, series_b, min(x0) AS ax, min(y0) AS ay
        |       FROM pd GROUP BY 1, 2),
        |sh AS (SELECT pd.series_a, pd.series_b, pd.x0 - an.ax AS x,
        |         pd.y0 - an.ay AS y
        |       FROM pd JOIN an USING (series_a, series_b)),
        |p AS (
        |  SELECT series_a, series_b, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x*x) AS HUGEINT) AS sxx,
        |    CAST(sum(y*y) AS HUGEINT) AS syy,
        |    CAST(sum(x*y) AS HUGEINT) AS sxy
        |  FROM sh GROUP BY 1, 2),
        |q AS (
        |  SELECT series_a, series_b, n, n*sxy - sx*sy AS cov,
        |    n*sxx - sx*sx AS vx, n*syy - sy*sy AS vy
        |  FROM p),
        |r AS (
        |  SELECT series_a, series_b, n,
        |    CASE WHEN cov >= 0 THEN (1000000 * cov) // (n*n)
        |      ELSE -((1000000 * (-cov)) // (n*n)) END AS covn,
        |    (1000000 * vx) // (n*n) AS vxn,
        |    (1000000 * vy) // (n*n) AS vyn
        |  FROM q)
        |SELECT series_a, series_b, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
        |    WHEN covn >= 0 THEN (1000000 * covn * covn) // (vxn * vyn)
        |    ELSE -((1000000 * covn * covn) // (vxn * vyn))
        |    END AS BIGINT) AS r2_fp
        |FROM r""".stripMargin,

    "q189_oov" ->
      """WITH terms AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS term
        |  FROM documents),
        |counts AS (SELECT term, count(*) AS n FROM terms GROUP BY 1),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rk
        |    FROM counts) WHERE rk <= 200)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  (10000 * CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS oov_bp
        |FROM terms t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY 1""".stripMargin,

    "q190_growth" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
        |  FROM events),
        |fw AS (SELECT u, min(w) AS fwk FROM uw GROUP BY 1),
        |st AS (
        |  SELECT uw.w,
        |    CASE WHEN uw.w = fw.fwk THEN 'new'
        |      WHEN p.u IS NOT NULL THEN 'retained'
        |      ELSE 'resurrected' END AS state
        |  FROM uw JOIN fw ON uw.u = fw.u
        |  LEFT JOIN uw p ON p.u = uw.u AND p.w + INTERVAL 7 DAY = uw.w),
        |ch AS (
        |  SELECT a.w + INTERVAL 7 DAY AS w, 'churned' AS state
        |  FROM uw a LEFT JOIN uw b
        |    ON b.u = a.u AND b.w = a.w + INTERVAL 7 DAY
        |  WHERE b.u IS NULL),
        |mx AS (SELECT max(w) AS mw FROM uw),
        |allst AS (
        |  SELECT * FROM st
        |  UNION ALL SELECT * FROM ch)
        |SELECT CAST(CAST(w AS DATE) AS VARCHAR) AS week,
        |  CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS retained_users,
        |  CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS resurrected_users,
        |  CAST(sum(CASE WHEN state = 'churned' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS churned_users,
        |  CAST(sum(CASE WHEN state <> 'churned' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS active_users
        |FROM allst WHERE w <= (SELECT mw FROM mx)
        |GROUP BY 1""".stripMargin,

    "q191_embedding_drift" ->
      """WITH sc AS (
        |  SELECT max(av) AS s FROM (
        |    SELECT unnest(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS av
        |    FROM embeddings)
        |), e AS (
        |  SELECT label, CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS sl,
        |    i AS pos,
        |    greatest(-127, least(127,
        |      CAST(round(CAST(embedding[i] AS DOUBLE) * 127.0 / s)
        |        AS BIGINT))) AS qv
        |  FROM (SELECT vec_id, label, embedding, len(embedding) AS l
        |        FROM embeddings) emb, sc,
        |    LATERAL (SELECT unnest(generate_series(1, l)) AS i) t
        |), c AS (
        |  SELECT label, sl, pos, CAST(sum(qv) AS BIGINT) AS sm,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2, 3
        |), cc AS (
        |  SELECT label, sl, pos,
        |    CASE WHEN sm >= 0 THEN (1000 * sm) // n
        |      ELSE -((1000 * (-sm)) // n) END AS cv, n
        |  FROM c
        |), a AS (SELECT label, pos, cv AS ca, n AS n_a FROM cc WHERE sl = 0
        |), b AS (SELECT label, pos, cv AS cb, n AS n_b FROM cc WHERE sl = 1)
        |SELECT label, CAST(min(n_a) AS BIGINT) AS n_a,
        |  CAST(min(n_b) AS BIGINT) AS n_b,
        |  CAST(sum((ca - cb) * (ca - cb)) AS BIGINT) AS dist2
        |FROM a JOIN b USING (label, pos)
        |GROUP BY label""".stripMargin,

    "q192_term_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT doc_id AS b, term AS i FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text),
        |      '\s+')) AS term
        |    FROM documents)),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS c FROM items
        |        GROUP BY 1),
        |pairs AS (
        |  SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT)
        |    AS c_ab
        |  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT item_a, item_b, sa.c AS c_a, sb.c AS c_b, c_ab,
        |  CAST(CAST(c_ab AS HUGEINT) * (SELECT n FROM nb) * 10000
        |    // (CAST(sa.c AS HUGEINT) * sb.c) AS BIGINT) AS lift_bp
        |FROM pairs JOIN sup sa ON sa.i = item_a
        |           JOIN sup sb ON sb.i = item_b
        |ORDER BY lift_bp DESC, item_a, item_b
        |LIMIT 40""".stripMargin,

    "q194_l_diversity" ->
      """WITH q AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000000) // 100000
        |      AS bal_bucket
        |  FROM customer)
        |SELECT c_mktsegment, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS group_size,
        |  CAST(count(DISTINCT bal_bucket) AS BIGINT) AS l_distinct,
        |  count(DISTINCT bal_bucket) < 3 AS at_risk
        |FROM q GROUP BY 1, 2""".stripMargin,

    "q195_did" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS m FROM e),
        |cells AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS tr,
        |    CASE WHEN ts_us >= (SELECT m FROM mid) THEN 1 ELSE 0 END
        |      AS post,
        |    cents
        |  FROM e),
        |a AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN tr = 1 AND post = 0 THEN cents END)
        |      AS BIGINT) AS s_tpre,
        |    CAST(sum(CASE WHEN tr = 1 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_tpre,
        |    CAST(sum(CASE WHEN tr = 1 AND post = 1 THEN cents END)
        |      AS BIGINT) AS s_tpost,
        |    CAST(sum(CASE WHEN tr = 1 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_tpost,
        |    CAST(sum(CASE WHEN tr = 0 AND post = 0 THEN cents END)
        |      AS BIGINT) AS s_cpre,
        |    CAST(sum(CASE WHEN tr = 0 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_cpre,
        |    CAST(sum(CASE WHEN tr = 0 AND post = 1 THEN cents END)
        |      AS BIGINT) AS s_cpost,
        |    CAST(sum(CASE WHEN tr = 0 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_cpost
        |  FROM cells GROUP BY 1),
        |m AS (
        |  SELECT event_type, n_tpre, n_tpost, n_cpre, n_cpost,
        |    CASE WHEN n_tpre = 0 THEN NULL
        |      WHEN s_tpre >= 0 THEN (100 * s_tpre) // n_tpre
        |      ELSE -((100 * (-s_tpre)) // n_tpre) END AS m_tpre_fp,
        |    CASE WHEN n_tpost = 0 THEN NULL
        |      WHEN s_tpost >= 0 THEN (100 * s_tpost) // n_tpost
        |      ELSE -((100 * (-s_tpost)) // n_tpost) END AS m_tpost_fp,
        |    CASE WHEN n_cpre = 0 THEN NULL
        |      WHEN s_cpre >= 0 THEN (100 * s_cpre) // n_cpre
        |      ELSE -((100 * (-s_cpre)) // n_cpre) END AS m_cpre_fp,
        |    CASE WHEN n_cpost = 0 THEN NULL
        |      WHEN s_cpost >= 0 THEN (100 * s_cpost) // n_cpost
        |      ELSE -((100 * (-s_cpost)) // n_cpost) END AS m_cpost_fp
        |  FROM a)
        |SELECT event_type, n_tpre, m_tpre_fp, n_tpost, m_tpost_fp,
        |  n_cpre, m_cpre_fp, n_cpost, m_cpost_fp,
        |  (m_tpost_fp - m_tpre_fp) - (m_cpost_fp - m_cpre_fp) AS did_fp
        |FROM m""".stripMargin,

    "q203_trimmed_mean" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS k
        |  FROM lineitem),
        |ord AS (
        |  SELECT g, k, row_number() OVER (PARTITION BY g ORDER BY k)
        |    AS rn, count(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |b AS (
        |  SELECT g,
        |    max(CASE WHEN rn = greatest(1, (n * 250 + 9999) // 10000)
        |      THEN k END) AS lo,
        |    max(CASE WHEN rn = greatest(1, (n * 9750 + 9999) // 10000)
        |      THEN k END) AS hi
        |  FROM ord GROUP BY 1)
        |SELECT v.g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN k BETWEEN lo AND hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  (100 * CAST(sum(CASE WHEN k BETWEEN lo AND hi THEN k ELSE 0
        |    END) AS BIGINT))
        |    // CAST(sum(CASE WHEN k BETWEEN lo AND hi THEN 1 ELSE 0
        |    END) AS BIGINT) AS mean_fp
        |FROM v JOIN b ON v.g = b.g
        |GROUP BY 1""".stripMargin,

    "q202_digest" ->
      """WITH r AS (
        |  SELECT o_orderpriority,
        |    ('0x' || substr(md5(
        |      CAST(o_orderkey AS VARCHAR) || '|' ||
        |      CAST(o_custkey AS VARCHAR) || '|' ||
        |      o_orderstatus || '|' ||
        |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
        |    ), 1, 8))::BIGINT AS h
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(h) AS HUGEINT) % 4611686018427387904 AS BIGINT)
        |    AS digest
        |FROM r GROUP BY 1""".stripMargin,

    "q201_uplift" -> {
      val cutDefs = (1 to 9).map(i =>
        s"CAST(max(CASE WHEN rn = greatest(1, (n * $i) // 10)" +
          s" THEN k END) AS BIGINT) AS c$i").mkString(",\n    ")
      val bucketExpr = (1 to 9).map(i =>
        s"(CASE WHEN k > (SELECT c$i FROM cuts) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS k,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |      END) AS BIGINT) AS y,
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
         |  FROM events GROUP BY 1),
         |ord AS (
         |  SELECT k, row_number() OVER (ORDER BY k) AS rn,
         |    count(*) OVER () AS n
         |  FROM pu),
         |cuts AS (
         |  SELECT $cutDefs
         |  FROM ord),
         |b AS (SELECT pu.*, $bucketExpr AS bucket FROM pu),
         |a AS (
         |  SELECT CAST(bucket AS INT) AS bucket,
         |    CAST(sum(t) AS BIGINT) AS n_t,
         |    CAST(sum(t * y) AS BIGINT) AS conv_t,
         |    CAST(sum(1 - t) AS BIGINT) AS n_c,
         |    CAST(sum((1 - t) * y) AS BIGINT) AS conv_c
         |  FROM b GROUP BY 1)
         |SELECT bucket, n_t, conv_t, n_c, conv_c,
         |  CASE WHEN n_t = 0 THEN NULL
         |    ELSE (10000 * conv_t) // n_t END AS rate_t_bp,
         |  CASE WHEN n_c = 0 THEN NULL
         |    ELSE (10000 * conv_c) // n_c END AS rate_c_bp,
         |  (CASE WHEN n_t = 0 THEN NULL
         |    ELSE (10000 * conv_t) // n_t END) -
         |  (CASE WHEN n_c = 0 THEN NULL
         |    ELSE (10000 * conv_c) // n_c END) AS uplift_bp
         |FROM a""".stripMargin
    },

    "q198_positional" ->
      s"""WITH conv AS (
         |  SELECT event_id AS cid, user_id AS u, epoch_us(ts) AS ct
         |  FROM events WHERE event_type = 'purchase'),
         |tch AS (
         |  SELECT event_id AS tid, user_id AS u, epoch_us(ts) AS tt,
         |    event_type AS ch
         |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
         |qual AS (
         |  SELECT c.cid, t.tid, t.tt, t.ch
         |  FROM conv c JOIN tch t ON c.u = t.u
         |  WHERE t.tt < c.ct AND c.ct - t.tt <= $AttributionWindowUs),
         |ranked AS (
         |  SELECT cid, ch,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS k,
         |    CAST(row_number() OVER (PARTITION BY cid ORDER BY tt, tid)
         |      AS BIGINT) AS rn
         |  FROM qual),
         |cr AS (
         |  SELECT cid, ch AS channel,
         |    CASE WHEN k = 1 THEN 10000
         |      WHEN k = 2 THEN 5000
         |      WHEN rn = k THEN 4000
         |      WHEN rn = 1 THEN 6000 - (2000 // (k - 2)) * (k - 2)
         |      ELSE 2000 // (k - 2) END AS credit,
         |    1 AS is_touch
         |  FROM ranked
         |  UNION ALL
         |  SELECT c.cid, 'organic', 10000, 0 FROM conv c
         |  WHERE NOT EXISTS (SELECT 1 FROM qual q WHERE q.cid = c.cid))
         |SELECT channel,
         |  CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
         |  CAST(sum(is_touch) AS BIGINT) AS n_touches,
         |  CAST(sum(credit) AS BIGINT) AS credit_bp
         |FROM cr GROUP BY 1""".stripMargin,

    "q205_link_pred" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem),
        |e AS (
        |  SELECT u, v FROM (
        |    SELECT a.pk AS u, b.pk AS v, count(DISTINCT a.ok) AS c
        |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |    GROUP BY 1, 2)
        |  WHERE c >= 2),
        |adj AS (SELECT u AS a, v AS n FROM e
        |  UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
        |  FROM adj GROUP BY 1),
        |cn AS (
        |  SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS common
        |  FROM adj x JOIN adj y ON x.a = y.a AND x.n < y.n
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |cand AS (
        |  SELECT cn.u, cn.v, cn.common FROM cn
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.u = cn.u AND e.v = cn.v))
        |SELECT cand.u AS node_a, cand.v AS node_b,
        |  da.degree AS deg_a, db.degree AS deg_b, cand.common,
        |  CAST((10000 * cand.common)
        |    // (da.degree + db.degree - cand.common) AS BIGINT)
        |    AS jaccard_bp,
        |  CAST(da.degree * db.degree AS BIGINT) AS pa
        |FROM cand
        |JOIN deg da ON da.node = cand.u
        |JOIN deg db ON db.node = cand.v
        |ORDER BY cand.common DESC, node_a, node_b
        |LIMIT 100""".stripMargin,

    "q206_mode" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT g, max(c) AS mc, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM t GROUP BY 1)
        |SELECT m.g AS l_returnflag,
        |  CAST(min(t.v) AS BIGINT) AS mode_value,
        |  CAST(m.mc AS BIGINT) AS mode_count, m.n, m.nd AS n_distinct
        |FROM t JOIN m ON t.g = m.g AND t.c = m.mc
        |GROUP BY m.g, m.mc, m.n, m.nd""".stripMargin,

    "q207_fd_audit" ->
      """WITH t AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
        |    CAST(l_suppkey AS BIGINT) AS r, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rhs_values,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(max(c) AS BIGINT) AS majority_rows
        |  FROM t GROUP BY 1)
        |SELECT l_partkey, n_rhs_values, n_rows, majority_rows
        |FROM g WHERE n_rhs_values > 1
        |ORDER BY n_rhs_values DESC, n_rows DESC, l_partkey
        |LIMIT 50""".stripMargin,

    "q208_time_decay" ->
      s"""WITH conv AS (
         |  SELECT event_id AS cid, user_id AS u, epoch_us(ts) AS ct
         |  FROM events WHERE event_type = 'purchase'),
         |tch AS (
         |  SELECT event_id AS tid, user_id AS u, epoch_us(ts) AS tt,
         |    event_type AS ch
         |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
         |qual AS (
         |  SELECT c.cid, t.tid, t.tt, t.ch,
         |    CAST(10000 >> CAST(least((c.ct - t.tt) // 86400000000, 13)
         |      AS INT) AS BIGINT) AS w
         |  FROM conv c JOIN tch t ON c.u = t.u
         |  WHERE t.tt < c.ct AND c.ct - t.tt <= $AttributionWindowUs),
         |agg AS (
         |  SELECT cid, tid, tt, ch, w,
         |    CAST(sum(w) OVER (PARTITION BY cid) AS BIGINT) AS sw,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY tt DESC, tid DESC) AS BIGINT) AS rn
         |  FROM qual),
         |sh AS (
         |  SELECT cid, ch, rn, (10000 * w) // sw AS share,
         |    CAST(sum((10000 * w) // sw) OVER (PARTITION BY cid)
         |      AS BIGINT) AS ssum
         |  FROM agg),
         |cr AS (
         |  SELECT cid, ch AS channel,
         |    share + CASE WHEN rn = 1 THEN 10000 - ssum ELSE 0 END
         |      AS credit,
         |    1 AS is_touch
         |  FROM sh
         |  UNION ALL
         |  SELECT c.cid, 'organic', 10000, 0 FROM conv c
         |  WHERE NOT EXISTS (SELECT 1 FROM tch t
         |    WHERE t.u = c.u AND t.tt < c.ct
         |      AND c.ct - t.tt <= $AttributionWindowUs))
         |SELECT channel,
         |  CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
         |  CAST(sum(is_touch) AS BIGINT) AS n_touches,
         |  CAST(sum(credit) AS BIGINT) AS credit_bp
         |FROM cr GROUP BY 1""".stripMargin,

    "q209_holt" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), o AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY date) AS rn
        |  FROM d
        |), r AS (
        |  SELECT event_type, date, n, rn, CAST(n * 256 AS BIGINT) AS l,
        |    CAST(0 AS BIGINT) AS b
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.date, o.n, o.rn,
        |    CAST(((r.l + r.b) * 3 + o.n * 256) >> 2 AS BIGINT),
        |    CAST((r.b * 3 +
        |      ((((r.l + r.b) * 3 + o.n * 256) >> 2) - r.l)) >> 2
        |      AS BIGINT)
        |  FROM o JOIN r ON o.event_type = r.event_type
        |    AND o.rn = r.rn + 1
        |)
        |SELECT event_type, CAST(date AS VARCHAR) AS date,
        |  CAST(n AS BIGINT) AS n, l AS level_scaled, b AS trend_scaled,
        |  CAST(l + b AS BIGINT) AS forecast_scaled
        |FROM r""".stripMargin,

    "q210_edge_support" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
        |  FROM lineitem),
        |e AS (
        |  SELECT u, v FROM (
        |    SELECT a.pk AS u, b.pk AS v, count(DISTINCT a.ok) AS c
        |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |    GROUP BY 1, 2)
        |  WHERE c >= 2),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pe AS (
        |  SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM (
        |    SELECT a AS u, b AS v FROM tri
        |    UNION ALL SELECT a, c FROM tri
        |    UNION ALL SELECT b, c FROM tri)
        |  GROUP BY 1, 2)
        |SELECT e.u, e.v,
        |  CAST(coalesce(pe.s, 0) AS BIGINT) AS support
        |FROM e LEFT JOIN pe ON e.u = pe.u AND e.v = pe.v""".stripMargin,

    "q214_ktruss" -> kTrussOracleSql(rounds = 5),

    "q193_isotonic" ->
      """WITH s AS (
        |  SELECT source,
        |    least(1000000, (1000000 *
        |      (length(text) - length(replace(text, ' ', ''))) * 6)
        |      // greatest(1, length(text))) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    CAST(least(9, greatest(0, (10 * score) // 1000000)) AS INT)
        |      AS bin,
        |    score, l
        |  FROM s),
        |c AS (
        |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST((1000000 * CAST(sum(l) AS HUGEINT)) // count(*)
        |      AS BIGINT) AS frac_pos_fp
        |  FROM b GROUP BY 1, 2),
        |iv AS (
        |  SELECT a.source, a.bin AS j, b.bin AS l,
        |    CAST(sum(CAST(c.n AS HUGEINT) * c.frac_pos_fp) AS HUGEINT)
        |      AS m,
        |    CAST(sum(CAST(c.n AS HUGEINT)) AS HUGEINT) AS w
        |  FROM c a JOIN c b ON b.source = a.source AND b.bin >= a.bin
        |  JOIN c ON c.source = a.source AND c.bin BETWEEN a.bin AND b.bin
        |  GROUP BY 1, 2, 3),
        |mn AS (
        |  SELECT t.source, t.i, t.j, iv.m, iv.w
        |  FROM (SELECT c.source, c.bin AS i, jj.bin AS j
        |        FROM c JOIN c jj ON jj.source = c.source
        |          AND jj.bin <= c.bin) t
        |  JOIN iv ON iv.source = t.source AND iv.j = t.j AND iv.l >= t.i
        |  WHERE NOT EXISTS (SELECT 1 FROM iv o
        |    WHERE o.source = t.source AND o.j = t.j AND o.l >= t.i
        |      AND (o.m * iv.w < iv.m * o.w
        |        OR (o.m * iv.w = iv.m * o.w AND o.l < iv.l)))),
        |mx AS (
        |  SELECT mn.source, mn.i, mn.m, mn.w
        |  FROM mn
        |  WHERE NOT EXISTS (SELECT 1 FROM mn o
        |    WHERE o.source = mn.source AND o.i = mn.i
        |      AND (o.m * mn.w > mn.m * o.w
        |        OR (o.m * mn.w = mn.m * o.w AND o.j < mn.j))))
        |SELECT c.source, c.bin, c.n, c.frac_pos_fp,
        |  CAST(mx.m // mx.w AS BIGINT) AS calibrated_fp
        |FROM c JOIN mx ON mx.source = c.source AND mx.i = c.bin"""
        .stripMargin,

    "q211_skyline" ->
      """WITH t AS (
        |  SELECT CAST(round(p_retailprice * 100) AS BIGINT)
        |      AS price_cents,
        |    CAST(p_size AS BIGINT) AS p_size,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY 1, 2)
        |SELECT p.price_cents, p.p_size, p.n FROM t p
        |WHERE NOT EXISTS (SELECT 1 FROM t q
        |  WHERE q.price_cents <= p.price_cents AND q.p_size <= p.p_size
        |    AND (q.price_cents < p.price_cents OR q.p_size < p.p_size))
        |""".stripMargin,

    "q212_t_closeness" ->
      """WITH t AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000000)
        |      // 100000000 AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (SELECT v, CAST(sum(c) AS BIGINT) AS gc FROM t GROUP BY 1),
        |gr AS (SELECT c_mktsegment, c_nationkey,
        |  CAST(sum(c) AS BIGINT) AS n FROM t GROUP BY 1, 2),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM t),
        |grid AS (
        |  SELECT gr.c_mktsegment, gr.c_nationkey, gr.n, g.v, g.gc,
        |    coalesce(t.c, 0) AS c
        |  FROM gr CROSS JOIN g
        |  LEFT JOIN t ON t.c_mktsegment = gr.c_mktsegment
        |    AND t.c_nationkey = gr.c_nationkey AND t.v = g.v),
        |z AS (
        |  SELECT c_mktsegment, c_nationkey, n,
        |    CAST(sum(c) OVER (PARTITION BY c_mktsegment, c_nationkey
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS HUGEINT) AS cg,
        |    CAST(sum(gc) OVER (PARTITION BY c_mktsegment, c_nationkey
        |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS HUGEINT) AS ca
        |  FROM grid)
        |SELECT z.c_mktsegment, z.c_nationkey, z.n,
        |  CAST((10000 * max(abs(z.cg * nt.nn - z.ca * z.n)))
        |    // (z.n * nt.nn) AS BIGINT) AS t_bp
        |FROM z CROSS JOIN nt
        |GROUP BY z.c_mktsegment, z.c_nationkey, z.n, nt.nn
        |""".stripMargin,

    "q213_forecast_eval" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS date, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), o AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY date) AS rn
        |  FROM d
        |), r AS (
        |  SELECT event_type, date, n, rn, CAST(n * 256 AS BIGINT) AS l,
        |    CAST(0 AS BIGINT) AS b
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.date, o.n, o.rn,
        |    CAST(((r.l + r.b) * 3 + o.n * 256) >> 2 AS BIGINT),
        |    CAST((r.b * 3 +
        |      ((((r.l + r.b) * 3 + o.n * 256) >> 2) - r.l)) >> 2
        |      AS BIGINT)
        |  FROM o JOIN r ON o.event_type = r.event_type
        |    AND o.rn = r.rn + 1
        |), w AS (
        |  SELECT event_type, rn, CAST(n AS BIGINT) AS n, l + b AS f
        |  FROM r)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST((10000 * sum(abs(a.n * 256 - b.f))) // sum(a.n * 256)
        |    AS BIGINT) AS wape_bp
        |FROM w a JOIN w b ON a.event_type = b.event_type
        |  AND a.rn = b.rn + 1
        |GROUP BY 1""".stripMargin,

    "q215_avg_precision" ->
      """WITH sc AS (
        |  SELECT max(av) AS s FROM (
        |    SELECT unnest(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS av
        |    FROM embeddings)
        |), q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> greatest(-127, least(127,
        |      CAST(round(CAST(x AS DOUBLE) * 127.0 / sc.s) AS BIGINT)))) AS qv
        |  FROM embeddings, sc
        |), p AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
        |      x -> x[1] * x[2])) AS BIGINT) AS qdot
        |  FROM q a JOIN q b
        |    ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id
        |), r AS (
        |  SELECT query_id, neighbor_id, qdot,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY qdot DESC, neighbor_id) AS rnk
        |  FROM p
        |), tr AS (
        |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS doc_id
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id % 50 = 0 AND a.label = b.label
        |      AND b.vec_id <> a.vec_id
        |), nt AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
        |  FROM tr GROUP BY 1
        |), hits AS (
        |  SELECT r.query_id, r.rnk,
        |    CAST(row_number() OVER (PARTITION BY r.query_id
        |      ORDER BY r.rnk) AS BIGINT) AS relcnt
        |  FROM r JOIN tr ON r.query_id = tr.query_id
        |    AND r.neighbor_id = tr.doc_id
        |  WHERE r.rnk <= 10
        |), ap AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
        |    CAST(sum((1000000 * relcnt) // rnk) AS BIGINT) AS s
        |  FROM hits GROUP BY 1)
        |SELECT nt.query_id, nt.n_truth,
        |  CAST(coalesce(ap.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(ap.s, 0) // least(nt.n_truth, 10) AS BIGINT)
        |    AS ap_fp
        |FROM nt LEFT JOIN ap ON nt.query_id = ap.query_id""".stripMargin,

    "q216_entry_exit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |l AS (
        |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS prev
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY
        |    ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM f),
        |r AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, session_idx
        |      ORDER BY ts_us, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, session_idx
        |      ORDER BY ts_us DESC, event_id DESC) AS rl,
        |    count(*) OVER (PARTITION BY user_id, session_idx) AS n
        |  FROM s),
        |en AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_entries,
        |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_bounces
        |  FROM r WHERE rf = 1 GROUP BY 1),
        |ex AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exits
        |  FROM r WHERE rl = 1 GROUP BY 1)
        |SELECT coalesce(en.event_type, ex.event_type) AS event_type,
        |  CAST(coalesce(en.n_entries, 0) AS BIGINT) AS n_entries,
        |  CAST(coalesce(ex.n_exits, 0) AS BIGINT) AS n_exits,
        |  CAST(coalesce(en.n_bounces, 0) AS BIGINT) AS n_bounces
        |FROM en FULL OUTER JOIN ex ON en.event_type = ex.event_type
        |""".stripMargin,

    "q218_centroid_classify" ->
      """WITH sc AS (
        |  SELECT max(av) AS s FROM (
        |    SELECT unnest(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS av
        |    FROM embeddings)
        |), e AS (
        |  SELECT vec_id, CAST(label AS VARCHAR) AS label, i AS pos,
        |    greatest(-127, least(127,
        |      CAST(round(CAST(embedding[i] AS DOUBLE) * 127.0 / s)
        |        AS BIGINT))) AS qv
        |  FROM (SELECT vec_id, label, embedding, len(embedding) AS l
        |        FROM embeddings) emb, sc,
        |    LATERAL (SELECT unnest(generate_series(1, l)) AS i) t
        |), c AS (
        |  SELECT label AS clabel, pos, CAST(sum(qv) AS BIGINT) AS sm,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2
        |), cc AS (
        |  SELECT clabel, pos,
        |    CASE WHEN sm >= 0 THEN (1000 * sm) // n
        |      ELSE -((1000 * (-sm)) // n) END AS cv
        |  FROM c
        |), dots AS (
        |  SELECT e.vec_id, cc.clabel,
        |    CAST(sum(e.qv * cc.cv) AS BIGINT) AS d
        |  FROM e JOIN cc ON e.pos = cc.pos
        |  GROUP BY 1, 2
        |), pred AS (
        |  SELECT vec_id, clabel AS predicted,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d DESC, clabel) AS rn
        |  FROM dots
        |)
        |SELECT CAST(emb.label AS VARCHAR) AS label, pred.predicted,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM embeddings emb JOIN pred
        |  ON emb.vec_id = pred.vec_id AND pred.rn = 1
        |GROUP BY 1, 2""".stripMargin,

    "q219_topk_group" ->
      """WITH t AS (
        |  SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS id,
        |    l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY cents DESC,
        |      ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT
        |        % 1000000,
        |      id) AS rn
        |  FROM t)
        |SELECT id, l_returnflag, cents FROM r WHERE rn <= 3""".stripMargin,

    "q220_weighted_pagerank" ->
      """WITH RECURSIVE
        |p AS (
        |  SELECT l_suppkey + 10000000 AS supp,
        |    o_custkey + 20000000 AS cust,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |),
        |edges AS (
        |  SELECT supp AS src, cust AS dst, w FROM p
        |  UNION ALL SELECT cust, supp, w FROM p
        |),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges
        |    UNION ALL SELECT dst FROM edges)
        |),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
        |       FROM edges GROUP BY src),
        |consts AS (
        |  SELECT CAST(1000000000000 AS BIGINT) AS scale,
        |    (SELECT count(*) FROM nodes) AS n
        |),
        |pr(it, node, r) AS (
        |  SELECT 0, node, CAST(scale // n AS BIGINT)
        |  FROM nodes, consts
        |  UNION ALL
        |  SELECT c.it, nd.node,
        |    CAST((SELECT scale * 1500 // 10000 // n FROM consts)
        |      + coalesce(c.s, 0) AS BIGINT)
        |  FROM nodes nd
        |  LEFT JOIN (
        |    SELECT pr.it + 1 AS it, e.dst AS node,
        |      SUM(((pr.r * 8500 // 10000) * e.w) // ow.wsum) AS s
        |    FROM pr JOIN edges e ON pr.node = e.src
        |    JOIN ow ON ow.src = pr.node
        |    GROUP BY 1, 2) c ON c.node = nd.node
        |  WHERE c.it <= 4
        |)
        |SELECT node, CAST(r AS BIGINT) AS rank
        |FROM pr WHERE it = 4""".stripMargin,

    "q221_lorenz" ->
      """WITH per AS (
        |  SELECT c_nationkey, o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT c_nationkey, v,
        |    CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY v)
        |      AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT)
        |      AS n
        |  FROM per),
        |cells AS (
        |  SELECT c_nationkey, ((r - 1) * 10) // n + 1 AS decile,
        |    CAST(count(*) AS BIGINT) AS ne, CAST(sum(v) AS BIGINT)
        |      AS dv
        |  FROM rk GROUP BY 1, 2),
        |cum AS (
        |  SELECT c_nationkey, decile,
        |    CAST(sum(ne) OVER (PARTITION BY c_nationkey ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_entities_cum,
        |    CAST(sum(dv) OVER (PARTITION BY c_nationkey ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS value_cum
        |  FROM cells),
        |tot AS (SELECT c_nationkey, CAST(sum(v) AS BIGINT) AS t
        |        FROM per GROUP BY 1)
        |SELECT cum.c_nationkey, cum.decile, cum.n_entities_cum,
        |  cum.value_cum,
        |  CAST(CASE WHEN tot.t > 0 THEN
        |    (10000 * CAST(cum.value_cum AS HUGEINT)) // tot.t
        |    ELSE 0 END AS BIGINT) AS share_bp
        |FROM cum JOIN tot ON cum.c_nationkey = tot.c_nationkey""".stripMargin,

    "q222_schema_drift" ->
      """WITH va AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |vb AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
        |  FROM orders),
        |sa AS (
        |  SELECT 'o_orderkey' AS "column", s.metric, s.value FROM (
        |    SELECT unnest(['present','n_rows','n_nulls','n_distinct']) AS metric,
        |      unnest([CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |        CAST(count(DISTINCT o_orderkey) AS BIGINT)]) AS value
        |    FROM va) s
        |  UNION ALL
        |  SELECT 'o_custkey' AS "column", s.metric, s.value FROM (
        |    SELECT unnest(['present','n_rows','n_nulls','n_distinct']) AS metric,
        |      unnest([CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |        CAST(count(DISTINCT o_custkey) AS BIGINT)]) AS value
        |    FROM va) s
        |  UNION ALL
        |  SELECT 'o_orderstatus' AS "column", s.metric, s.value FROM (
        |    SELECT unnest(['present','n_rows','n_nulls','n_distinct']) AS metric,
        |      unnest([CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |        CAST(count(DISTINCT o_orderstatus) AS BIGINT)]) AS value
        |    FROM va) s),
        |sb AS (
        |  SELECT 'o_orderkey' AS "column", s.metric, s.value FROM (
        |    SELECT unnest(['present','n_rows','n_nulls','n_distinct']) AS metric,
        |      unnest([CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |        CAST(count(DISTINCT o_orderkey) AS BIGINT)]) AS value
        |    FROM vb) s
        |  UNION ALL
        |  SELECT 'o_orderstatus' AS "column", s.metric, s.value FROM (
        |    SELECT unnest(['present','n_rows','n_nulls','n_distinct']) AS metric,
        |      unnest([CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |        CAST(count(DISTINCT o_orderstatus) AS BIGINT)]) AS value
        |    FROM vb) s
        |  UNION ALL
        |  SELECT 'o_orderpriority' AS "column", s.metric, s.value FROM (
        |    SELECT unnest(['present','n_rows','n_nulls','n_distinct']) AS metric,
        |      unnest([CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |        CAST(count(DISTINCT o_orderpriority) AS BIGINT)]) AS value
        |    FROM vb) s)
        |SELECT coalesce(sa."column", sb."column") AS "column",
        |  coalesce(sa.metric, sb.metric) AS metric,
        |  CAST(coalesce(sa.value, 0) AS BIGINT) AS a,
        |  CAST(coalesce(sb.value, 0) AS BIGINT) AS b,
        |  CAST(coalesce(sb.value, 0) - coalesce(sa.value, 0) AS BIGINT) AS delta
        |FROM sa FULL OUTER JOIN sb
        |  ON sa."column" = sb."column" AND sa.metric = sb.metric""".stripMargin,

    "q223_term_bursts" ->
      """WITH td AS (
        |  SELECT term, day, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT DISTINCT l_orderkey * 8 + l_linenumber AS id,
        |      o_orderdate AS day,
        |      unnest(regexp_split_to_array(trim(p_name), '\s+')) AS term
        |    FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN part ON l_partkey = p_partkey)
        |  WHERE term <> '' GROUP BY 1, 2),
        |per AS (
        |  SELECT term, CAST(sum(c) AS BIGINT) AS df_total,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM td GROUP BY 1),
        |m AS (SELECT term, max(c) AS mc FROM td GROUP BY 1),
        |md AS (
        |  SELECT td.term, m.mc, min(td.day) AS mday
        |  FROM td JOIN m ON td.term = m.term AND td.c = m.mc
        |  GROUP BY 1, 2)
        |SELECT per.term, per.df_total, per.n_days,
        |  CAST(CAST(md.mday AS DATE) AS VARCHAR) AS max_day,
        |  CAST(md.mc AS BIGINT) AS max_day_df,
        |  CAST((10000 * md.mc) // per.df_total AS BIGINT) AS burst_bp
        |FROM per JOIN md ON per.term = md.term
        |WHERE per.df_total >= 20
        |ORDER BY burst_bp DESC, df_total DESC, per.term
        |LIMIT 50""".stripMargin,

    "q197_hhi" ->
      """WITH per AS (
        |  SELECT c_nationkey, o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS HUGEINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(sum(v) AS BIGINT) AS total,
        |  CAST((sum(v * v) * 100000000) // (sum(v) * sum(v)) AS BIGINT)
        |    AS hhi_e8
        |FROM per GROUP BY 1""".stripMargin,

    // classificationReport: langId confusion cells → class margins →
    // full-outer margin join, all floored integer divisions
    "q225_class_report" -> ("WITH " + langIdSqlCtes("lang") + ",\n" +
      """cells AS (
        |  SELECT coalesce(lang, '__NULL__') AS a, lang_id AS p,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lp GROUP BY 1, 2),
        |ba AS (SELECT a AS cl, CAST(sum(c) AS BIGINT) AS n_actual
        |  FROM cells GROUP BY 1),
        |bp AS (SELECT p AS cl, CAST(sum(c) AS BIGINT) AS n_predicted
        |  FROM cells GROUP BY 1),
        |dg AS (SELECT a AS cl, c AS tp FROM cells WHERE a = p),
        |j AS (
        |  SELECT coalesce(ba.cl, bp.cl) AS cl,
        |    coalesce(n_actual, 0) AS n_actual,
        |    coalesce(n_predicted, 0) AS n_predicted
        |  FROM ba FULL OUTER JOIN bp ON ba.cl = bp.cl)
        |SELECT j.cl AS "class", j.n_actual, j.n_predicted,
        |  CAST(coalesce(dg.tp, 0) AS BIGINT) AS tp,
        |  CASE WHEN j.n_predicted = 0 THEN NULL
        |    ELSE CAST((1000000 * coalesce(dg.tp, 0)) // j.n_predicted
        |      AS BIGINT) END AS precision_fp,
        |  CASE WHEN j.n_actual = 0 THEN NULL
        |    ELSE CAST((1000000 * coalesce(dg.tp, 0)) // j.n_actual
        |      AS BIGINT) END AS recall_fp,
        |  CASE WHEN j.n_predicted + j.n_actual = 0 THEN NULL
        |    ELSE CAST((2000000 * coalesce(dg.tp, 0)) //
        |      (j.n_predicted + j.n_actual) AS BIGINT) END AS f1_fp
        |FROM j LEFT JOIN dg ON j.cl = dg.cl""".stripMargin),

    // mcnemar: per-source discordant-pair counts of the two "is it
    // English" classifiers; (b−c)²·10^6 // (b+c), NULL when b+c = 0
    "q226_mcnemar" -> ("WITH " + langIdSqlCtes("source, lang, text") +
      ",\n" +
      s"""r AS (
         |  SELECT source,
         |    CASE WHEN ($SpaceScoreSql >= 500000) = (lang = 'en')
         |      THEN 1 ELSE 0 END AS oka,
         |    CASE WHEN (lang_id = 'en') = (lang = 'en')
         |      THEN 1 ELSE 0 END AS okb
         |  FROM lp),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN oka = 1 AND okb = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN oka = 0 AND okb = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_c
         |  FROM r GROUP BY 1)
         |SELECT source, n, n_b, n_c,
         |  CASE WHEN n_b + n_c = 0 THEN NULL
         |    ELSE CAST((1000000 * CAST(n_b - n_c AS HUGEINT) *
         |      (n_b - n_c)) // (n_b + n_c) AS BIGINT) END AS mcnemar_fp
         |FROM g""".stripMargin),

    // brier: exact integer mean squared gap between the fp score and
    // the binary label, floored once per group
    "q227_brier" ->
      s"""WITH s AS (
         |  SELECT source, $SpaceScoreSql AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    sum(CAST(sc - y * 1000000 AS HUGEINT) *
         |      (sc - y * 1000000)) AS se
         |  FROM s GROUP BY 1)
         |SELECT source, n, n_pos,
         |  CAST(se // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
         |    AS brier_fp
         |FROM g""".stripMargin,

    // ece/mce: q165's reliability bins rolled up to the mass-weighted
    // and worst-bin |acc − conf| gaps
    "q228_ece" ->
      s"""WITH s AS (
         |  SELECT source, $SpaceScoreSql AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
         |  FROM documents),
         |b AS (
         |  SELECT source,
         |    CAST(least(9, greatest(0, (10 * score) // 1000000)) AS INT)
         |      AS bin,
         |    score, l
         |  FROM s),
         |cal AS (
         |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(CAST(sum(score) AS HUGEINT) // count(*) AS BIGINT)
         |      AS ms,
         |    CAST((1000000 * CAST(sum(l) AS HUGEINT)) // count(*)
         |      AS BIGINT) AS fp
         |  FROM b GROUP BY 1, 2),
         |g AS (
         |  SELECT source, CAST(sum(n) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_bins_used,
         |    sum(CAST(n AS HUGEINT) * abs(fp - ms)) AS w,
         |    CAST(max(abs(fp - ms)) AS BIGINT) AS mce_fp
         |  FROM cal GROUP BY 1)
         |SELECT source, n, n_bins_used,
         |  CAST(w // n AS BIGINT) AS ece_fp, mce_fp
         |FROM g""".stripMargin,

    // kendall: (x, y) cell tallies, strict-lexicographic cell-pair
    // self-join classified c/d/tx/ty, tie pairs within cells exact;
    // l_quantity is integral-valued, so CAST-vs-truncate agree
    "q229_kendall" ->
      """WITH cells AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(l_linenumber AS BIGINT) AS y,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
        |      AS txy
        |  FROM cells GROUP BY 1),
        |p AS (
        |  SELECT a.g,
        |    CASE WHEN a.x = b.x THEN 'tx'
        |         WHEN a.y = b.y THEN 'ty'
        |         WHEN (a.x < b.x) = (a.y < b.y) THEN 'c'
        |         ELSE 'd' END AS k,
        |    CAST(a.c AS HUGEINT) * b.c AS wgt
        |  FROM cells a JOIN cells b ON a.g = b.g
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
        |agg AS (
        |  SELECT g,
        |    sum(CASE WHEN k = 'c' THEN wgt ELSE 0 END) AS nc,
        |    sum(CASE WHEN k = 'd' THEN wgt ELSE 0 END) AS nd,
        |    sum(CASE WHEN k = 'tx' THEN wgt ELSE 0 END) AS tx,
        |    sum(CASE WHEN k = 'ty' THEN wgt ELSE 0 END) AS ty
        |  FROM p GROUP BY 1),
        |j AS (
        |  SELECT w.g, w.n, w.txy,
        |    coalesce(agg.nc, 0) AS nc, coalesce(agg.nd, 0) AS nd,
        |    coalesce(agg.tx, 0) AS tx, coalesce(agg.ty, 0) AS ty
        |  FROM w LEFT JOIN agg ON w.g = agg.g)
        |SELECT g AS l_returnflag, n,
        |  CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
        |  CAST(tx AS BIGINT) AS ties_x, CAST(ty AS BIGINT) AS ties_y,
        |  txy AS ties_xy,
        |  CASE WHEN n < 2 THEN NULL
        |    WHEN nc >= nd THEN
        |      CAST((1000000 * (nc - nd)) //
        |        (CAST(n AS HUGEINT) * (n - 1) // 2) AS BIGINT)
        |    ELSE -CAST((1000000 * (nd - nc)) //
        |        (CAST(n AS HUGEINT) * (n - 1) // 2) AS BIGINT)
        |  END AS tau_a_fp
        |FROM j""".stripMargin,

    "q199_markov" -> MarkovOracleSql,

    "q230_cmh_cells" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN c_nationkey % 2 = 0
        |    AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN c_nationkey % 2 = 0
        |    AND NOT o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS b,
        |  CAST(sum(CASE WHEN c_nationkey % 2 <> 0
        |    AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN c_nationkey % 2 <> 0
        |    AND NOT o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // the q230 cells rolled into the CMH statistic with per-stratum
    // 10^9-fixed-point floors (sum-of-floors on BOTH engines — the
    // exact-rational fold would need ~211-bit intermediates); diff can
    // be negative, so it is squared before the single final floor
    "q204_cmh" ->
      """WITH cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN c_nationkey % 2 = 0
        |      AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN c_nationkey % 2 = 0
        |      AND NOT o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(sum(CASE WHEN c_nationkey % 2 <> 0
        |      AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(sum(CASE WHEN c_nationkey % 2 <> 0
        |      AND NOT o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY o_orderpriority),
        |t AS (
        |  SELECT a, b, c, d, a + b + c + d AS n FROM cells
        |  WHERE a + b + c + d >= 2),
        |terms AS (
        |  SELECT a,
        |    (CAST(a + b AS HUGEINT) * (a + c) * 1000000000) // n AS e_fp,
        |    (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
        |      * 1000000000)
        |      // (CAST(n AS HUGEINT) * n * (n - 1)) AS v_fp,
        |    (CAST(a AS HUGEINT) * d * 1000000000) // n AS orn,
        |    (CAST(b AS HUGEINT) * c * 1000000000) // n AS ord
        |  FROM t),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(coalesce(sum(a), 0) AS BIGINT) AS sum_a,
        |    sum(e_fp) AS e, sum(v_fp) AS v,
        |    sum(orn) AS onum, sum(ord) AS oden
        |  FROM terms)
        |SELECT n_strata, sum_a,
        |  CASE WHEN v > 0 THEN CAST(
        |    ((CAST(sum_a AS HUGEINT) * 1000000000 - e)
        |      * (CAST(sum_a AS HUGEINT) * 1000000000 - e) * 1000000)
        |      // (v * 1000000000) AS BIGINT) END AS cmh_fp,
        |  CASE WHEN oden > 0
        |    THEN CAST((onum * 10000) // oden AS BIGINT) END AS or_mh_bp
        |FROM agg""".stripMargin,
  )
}

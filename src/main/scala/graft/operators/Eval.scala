package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-integer model/signal evaluation primitives: the measurement
  * side of the classifier/retrieval family (reference analogue: the
  * quality-filter validation loops around `key_join_features`;
  * everything here is original Spark-first design).
  *
  * Both metrics are emitted in fixed point (`scale`, default 10^6) with
  * explicitly ordered integer arithmetic, so an independent engine
  * reproduces them bit-for-bit — no float folds, no sort-order hazards.
  */
object Eval {

  /** Driver-side guard for the distinct-value-series posture shared by
    * [[rocAuc]] / [[ksTest]] / [[Survival.logRank]]: those operators
    * order each group's DISTINCT-value tally series in a window, which
    * is safe exactly when the series is domain-bounded (fixed-point bp
    * scores, day durations). This pins the tally (localCheckpoint —
    * guard and main query share one scan of the input) and REQUIREs
    * the largest per-group series under `maxSeries` BEFORE any ordered
    * window can see it, so feeding a raw continuous 64-bit column
    * fails fast with the fix in the message instead of serializing a
    * corpus-sized series into one task's sort. Returns the pinned
    * tally. */
  private[graft] def boundedTally(tally: DataFrame, groupCol: String,
                                  maxSeries: Long, op: String): DataFrame = {
    require(maxSeries > 0, s"$op: maxSeries must be positive")
    val pinned = tally.transform(Materialize(_))
    val worst = pinned.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__nd"))
      .agg(max(col("__nd"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    require(worst <= maxSeries,
      s"$op: a group's distinct-value series has $worst entries " +
        s"(> maxSeries=$maxSeries). Pre-quantize the value column to a " +
        "bounded domain (e.g. fixed-point basis points, day-granular " +
        "durations) or raise maxSeries deliberately.")
    pinned
  }

  /** Exact ROC-AUC per group via the rank-sum (Mann–Whitney U)
    * identity, tie-aware: with per-score-value tallies pos_s/neg_s and
    * cneg_s = negatives strictly below s,
    * `2·U = Σ_s pos_s·(2·cneg_s + neg_s)` and `AUC = U / (P·N)`.
    * Ties contribute the conventional half credit (the `+ neg_s` term).
    *
    * Scale: the raw rows collapse to (group, score) tallies in ONE
    * partial-agg shuffle; the running-negatives window then orders only
    * the per-group DISTINCT-score series, whose length is bounded by
    * the score domain (e.g. ≤ a few thousand for integer scores), never
    * by corpus size — the same bounded-series posture as
    * [[Profile.equiDepthHistogram]], ENFORCED by [[boundedTally]]
    * (`maxSeries`) before the window runs. U rides decimal(38,0): at 10^10
    * rows per class, P·N = 10^20 overflows BIGINT but not decimal.
    *
    * Groups with only one class present are dropped (AUC undefined).
    * Output: (group, n_pos, n_neg, auc_fp) with auc_fp in [0, scale].
    *
    * @param labelCol integer column, nonzero = positive
    * @param scoreCol integral score (cast to long); higher = more
    *                 positive-looking
    */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: String,
             labelCol: String, scale: Long = 1000000L,
             maxSeries: Long = 1L << 22): DataFrame = {
    val byScore = boundedTally(df
      .groupBy(col(groupCol), col(scoreCol).cast("long").as("__s"))
      .agg(sum(when(col(labelCol) =!= 0, 1L).otherwise(0L)).as("__pos"),
        sum(when(col(labelCol) =!= 0, 0L).otherwise(1L)).as("__neg")),
      groupCol, maxSeries, "rocAuc")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("__cneg", sum(col("__neg")).over(w) - col("__neg"))
      .groupBy(col(groupCol))
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__pos").cast("decimal(38,0)") *
          (lit(2L) * col("__cneg") + col("__neg"))).as("__u2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .withColumn("auc_fp", expr(
        s"""cast((cast($scale as decimal(38,0)) * __u2)
           |  div (cast(2 as decimal(38,0)) * n_pos * n_neg)
           |  as long)""".stripMargin))
      .drop("__u2")
  }

  /** Cohen's kappa between two deterministic binary raters, per group:
    * `κ = (p_o − p_e) / (1 − p_e)` computed purely from the 2×2
    * contingency counts — `κ_fp = scale·(n·agree − pe_num) div
    * (n² − pe_num)` with `pe_num = a1·b1 + a0·b0`. κ can be negative
    * (below-chance agreement); because Spark's `div` truncates toward
    * zero while floor division is also common, the sign is factored out
    * and magnitudes divide, making the rounding engine-portable.
    *
    * Scale: one partial-agg shuffle to the per-group contingency
    * counts; everything after is per-group scalar math. n² rides
    * decimal(38,0). Degenerate groups (either rater constant:
    * denominator 0) emit NULL kappa_fp.
    *
    * Output: (group, n, n_agree, kappa_fp).
    */
  def cohenKappa(df: DataFrame, groupCol: String, raterA: Column,
                 raterB: Column, scale: Long = 1000000L): DataFrame =
    df.select(col(groupCol),
        when(raterA, 1L).otherwise(0L).as("__a"),
        when(raterB, 1L).otherwise(0L).as("__b"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__a") === col("__b"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(col("__a")).as("__a1"), sum(col("__b")).as("__b1"))
      // pe_num = a1·b1 + a0·b0; num = n·agree − pe_num; den = n² − pe_num
      .withColumn("__pe", expr(
        """cast(__a1 as decimal(38,0)) * __b1 +
          |  (n - cast(__a1 as decimal(38,0))) * (n - __b1)""".stripMargin))
      .withColumn("__num",
        expr("cast(n as decimal(38,0)) * n_agree - __pe"))
      .withColumn("__den", expr("cast(n as decimal(38,0)) * n - __pe"))
      .withColumn("kappa_fp", expr(
        s"""cast(case
           |  when __den = 0 then null
           |  when __num >= 0
           |    then (cast($scale as decimal(38,0)) * __num) div __den
           |  else -((cast($scale as decimal(38,0)) * -__num) div __den)
           |  end as long)""".stripMargin))
      .drop("__a1", "__b1", "__pe", "__num", "__den")

  /** Calibration (reliability) bins per group: a fixed-point score in
    * [0, scale] buckets into `nBins` equal-width bins; each bin reports
    * its size, mean score, and observed positive fraction — the
    * reliability diagram that tells you whether a quality classifier's
    * 0.9 actually means 90%.
    *
    * Scale: per-row bin assignment in the scan + ONE partial-agg
    * shuffle to ≤ nBins·groups rows. Output: (group, bin, n,
    * mean_score_fp, frac_pos_fp), all floored integer division. */
  def calibration(df: DataFrame, groupCol: String, scoreFpCol: String,
                  labelCol: String, nBins: Int,
                  scale: Long = 1000000L): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    df.select(col(groupCol),
        least(lit(nBins - 1), greatest(lit(0),
          expr(s"($nBins * cast($scoreFpCol as bigint)) div $scale")))
          .cast("int").as("bin"),
        col(scoreFpCol).cast("long").as("__s"),
        when(col(labelCol) =!= 0, 1L).otherwise(0L).as("__l"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("__ss"),
        sum(col("__l")).as("__pos"))
      .select(col(groupCol), col("bin"), col("n"),
        expr("__ss div n").as("mean_score_fp"),
        expr(s"($scale * __pos) div n").as("frac_pos_fp"))
  }

  /** φ² (mean-square contingency) between two binary conditions per
    * group — the scale-free effect size of a 2×2 association (χ² =
    * n·φ²), e.g. an A/B test's arm-vs-conversion table. Computed
    * through fp-NORMALIZED intermediates so magnitudes stay bounded by
    * `scale` regardless of n (the naive n·(ad−bc)² form overflows
    * decimal(38,0) past ~3·10^7 rows):
    * `D = scale·(n11·n00 − n10·n01) div n²` (sign factored),
    * `m_a = scale·a1 div n`, `m_b = scale·b1 div n`,
    * `phi2_fp = (scale³·D²) div (m_a·(scale−m_a)) div (m_b·(scale−m_b))`.
    * The metric is DEFINED as this declared-order integer procedure, so
    * any engine reproduces it exactly. Margins that floor to 0 or
    * scale (finer than 1/scale resolution) emit NULL.
    *
    * Scale: one partial-agg shuffle to per-group 2×2 counts; scalar
    * math after. Output: (group, n, n11, n10, n01, n00, phi2_fp). */
  def assocPhi2(df: DataFrame, groupCol: String, aCond: Column,
                bCond: Column, scale: Long = 1000000L): DataFrame =
    df.select(col(groupCol), when(aCond, 1L).otherwise(0L).as("__a"),
        when(bCond, 1L).otherwise(0L).as("__b"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__a") * col("__b")).as("n11"),
        sum(col("__a") * (lit(1L) - col("__b"))).as("n10"),
        sum((lit(1L) - col("__a")) * col("__b")).as("n01"),
        sum((lit(1L) - col("__a")) * (lit(1L) - col("__b"))).as("n00"))
      .withColumn("__det", expr(
        """cast(n11 as decimal(38,0)) * n00 -
          |  cast(n10 as decimal(38,0)) * n01""".stripMargin))
      .withColumn("__d", expr(
        s"""case when __det >= 0
           |  then ($scale * __det) div (cast(n as decimal(38,0)) * n)
           |  else -(($scale * -__det) div (cast(n as decimal(38,0)) * n))
           |  end""".stripMargin))
      .withColumn("__ma", expr(s"($scale * (n11 + n10)) div n"))
      .withColumn("__mb", expr(s"($scale * (n11 + n01)) div n"))
      .withColumn("phi2_fp", expr(
        s"""cast(case
           |  when __ma <= 0 or __ma >= $scale or __mb <= 0 or __mb >= $scale
           |    then null
           |  else (cast($scale as decimal(38,0)) * $scale * $scale *
           |        __d * __d)
           |       div (cast(__ma as decimal(38,0)) * ($scale - __ma))
           |       div (cast(__mb as decimal(38,0)) * ($scale - __mb))
           |  end as long)""".stripMargin))
      .drop("__det", "__d", "__ma", "__mb")

  /** Two-sample Kolmogorov–Smirnov statistic per group, exact fixed
    * point: `D = max_v |F_A(v) − F_B(v)|` computed as the cross-
    * multiplied integer `max |cum_a·n_b − cum_b·n_a|` over the
    * DISTINCT-value series, then `d_fp = scale·max div (n_a·n_b)` —
    * the distribution-shift test that complements total-variation
    * (TVD sums cellwise gaps; KS finds the worst CDF gap, catching
    * location shifts TVD dilutes).
    *
    * Scale: raw rows collapse to (group, value) slice tallies in one
    * partial-agg shuffle; the CDF windows order only each group's
    * distinct-value series (domain-bounded, the [[rocAuc]] posture);
    * products ride decimal(38,0) (cum·n ≤ 10^20 at 10^10-row slices).
    * Groups missing either slice are dropped. Output: (group, n_a,
    * n_b, d_fp). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             sliceA: Column, scale: Long = 1000000L,
             maxSeries: Long = 1L << 22): DataFrame = {
    val byV = boundedTally(
      df.select(col(groupCol), col(valueCol).cast("long").as("__v"),
          when(sliceA, 1L).otherwise(0L).as("__a"))
        .groupBy(col(groupCol), col("__v"))
        .agg(sum(col("__a")).as("__ca"), sum(lit(1L) - col("__a")).as("__cb")),
      groupCol, maxSeries, "ksTest")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    byV
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
      .withColumn("__term", abs(
        col("__cuma").cast("decimal(38,0)") * col("__nb") -
          col("__cumb").cast("decimal(38,0)") * col("__na")))
      .groupBy(col(groupCol))
      .agg(min(col("__na")).as("n_a"), min(col("__nb")).as("n_b"),
        max(col("__term")).as("__d"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("d_fp", expr(
        s"""cast((cast($scale as decimal(38,0)) * __d)
           |  div (cast(n_a as decimal(38,0)) * n_b) as long)"""
          .stripMargin))
      .drop("__d")
  }

  /** Exact 1-D Wasserstein (earth-mover) distance per group — the
    * MAGNITUDE-sensitive distribution-shift metric completing the
    * trio: total-variation sums cellwise gaps, KS takes the worst CDF
    * gap, W1 integrates the CDF gap over the VALUE AXIS
    * (`W1 = ∫|F_A − F_B| dv`), so a shift's SIZE matters — a
    * distribution sliding 10 units scores 10× one sliding 1, where KS
    * saturates. Exact integers throughout: per distinct value,
    * `|cum_a·n_b − cum_b·n_a| · Δv` (Δv = gap to the next observed
    * value), then `w1_fp = scale·Σ div (n_a·n_b)` — one declared
    * floor.
    *
    * Same scale posture as [[ksTest]]: raw rows collapse to (group,
    * value) slice tallies once; CDF cumsums and the Δv lead() run only
    * over the bounded distinct-value series ([[boundedTally]]);
    * products ride decimal(38,0). Groups missing either slice drop.
    * Output: (group, n_a, n_b, w1_fp) — w1_fp in value units ×
    * scale. */
  def wasserstein1(df: DataFrame, groupCol: String, valueCol: String,
                   sliceA: Column, scale: Long = 1000000L,
                   maxSeries: Long = 1L << 22): DataFrame = {
    val byV = boundedTally(
      df.select(col(groupCol), col(valueCol).cast("long").as("__v"),
          when(sliceA, 1L).otherwise(0L).as("__a"))
        .groupBy(col(groupCol), col("__v"))
        .agg(sum(col("__a")).as("__ca"),
          sum(lit(1L) - col("__a")).as("__cb")),
      groupCol, maxSeries, "wasserstein1")
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    val w = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    byV
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
      .withColumn("__dv", // last value: no interval to integrate over
        coalesce(lead(col("__v"), 1).over(wOrd) - col("__v"), lit(0L)))
      .withColumn("__term", abs(
        col("__cuma").cast("decimal(38,0)") * col("__nb") -
          col("__cumb").cast("decimal(38,0)") * col("__na")) *
        col("__dv"))
      .groupBy(col(groupCol))
      .agg(min(col("__na")).as("n_a"), min(col("__nb")).as("n_b"),
        sum(col("__term")).as("__s"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("w1_fp", expr(
        s"""cast((cast($scale as decimal(38,0)) * __s)
           |  div (cast(n_a as decimal(38,0)) * n_b) as long)"""
          .stripMargin))
      .drop("__s")
  }

  /** Isotonic (PAV) calibration over [[calibration]]'s bins: pool
    * adjacent violators until the bin means are non-decreasing — the
    * standard monotone recalibration of a score (Zadrozny & Elkan
    * 2002; public algorithm). Pooling compares block means as exact
    * cross-multiplied rationals (no intermediate flooring), and each
    * final block's calibrated value floors once:
    * `calibrated_fp = Σ(n_i·frac_fp_i) div Σn_i`.
    *
    * Scale: PAV is inherently sequential, but only over the ≤ nBins
    * rows per group — the fold runs in `flatMapGroups` over the BINNED
    * aggregate, never raw rows (the [[Survival.kaplanMeier]] posture).
    * Output: (group, bin, n, frac_fp, calibrated_fp), calibrated_fp
    * non-decreasing in bin within every group. */
  def isotonicCalibrate(binned: DataFrame, groupCol: String,
                        binCol: String, nCol: String,
                        fracFpCol: String): DataFrame = {
    val spark = binned.sparkSession
    import spark.implicits._
    binned.select(col(groupCol).cast("string"), col(binCol).cast("int"),
        col(nCol).cast("long"), col(fracFpCol).cast("long"))
      .as[(String, Int, Long, Long)]
      .groupByKey(_._1).flatMapGroups { (g, it) =>
        val bins = it.toArray.sortBy(_._2)
        // blocks on a stack: (start index, weight, mass = Σ n·frac)
        val stack =
          scala.collection.mutable.ArrayBuffer.empty[(Int, BigInt, BigInt)]
        for (((_, _, n, f), idx) <- bins.zipWithIndex) {
          var cur = (idx, BigInt(n), BigInt(n) * f)
          // pool while the previous block's mean >= current's:
          // mass_p/w_p >= mass_c/w_c  ⇔  mass_p·w_c >= mass_c·w_p
          while (stack.nonEmpty &&
              stack.last._3 * cur._2 >= cur._3 * stack.last._2) {
            val p = stack.remove(stack.length - 1)
            cur = (p._1, p._2 + cur._2, p._3 + cur._3)
          }
          stack += cur
        }
        val out = Array.newBuilder[(String, Int, Long, Long, Long)]
        for (i <- stack.indices) {
          val (start, w, mass) = stack(i)
          val end =
            if (i + 1 < stack.length) stack(i + 1)._1 else bins.length
          val cal = (mass / w).toLong
          for (j <- start until end)
            out += ((g, bins(j)._2, bins(j)._3, bins(j)._4, cal))
        }
        out.result().iterator
      }.toDF(groupCol, binCol, nCol, fracFpCol, "calibrated_fp")
  }

  /** Uplift by score bucket — the Qini-style targeting report: rows
    * split into `nBuckets` exact score quantile buckets (cut values
    * from [[Selection.valueAtRanks]] at ranks `(n·i) div nBuckets` —
    * no global sort, no window; bucket = count of cut values strictly
    * below the row's score), then per bucket the treated/control
    * conversion rates and their difference:
    * `uplift_bp = (10^4·conv_t) div n_t − (10^4·conv_c) div n_c`
    * (NULL where an arm is empty). High buckets responding and low
    * buckets not = the score targets treatment well.
    *
    * Scale: one cut-value resolution (Selection's bucket-histogram
    * machinery), then ONE conditional partial agg against the ≤
    * nBuckets broadcast cut literals. Output: (bucket, n_t, conv_t,
    * n_c, conv_c, rate_t_bp, rate_c_bp, uplift_bp). */
  def upliftByBucket(df: DataFrame, scoreCol: String, treated: Column,
                     converted: Column, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets")
    val base = df.select(col(scoreCol).cast("long").as("__k"),
        when(treated, 1L).otherwise(0L).as("__t"),
        when(converted, 1L).otherwise(0L).as("__y"))
      .transform(Materialize(_)) // cut scan + bucket agg share the rows
    val cutVals = Selection.valueAtRanks(
        base.withColumn("__one", lit(1)), "__one", "__k",
        (1 until nBuckets).map(i =>
          s"c$i" -> s"greatest(1L, (__n * ${i}L) div ${nBuckets}L)"))
      .select(col("value")).collect().map(_.getLong(0)).sorted
    val bucket = cutVals.foldLeft(lit(0)) { (acc, cv) =>
      acc + when(col("__k") > cv, 1).otherwise(0) }
    base.withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(sum(col("__t")).as("n_t"),
        sum(col("__t") * col("__y")).as("conv_t"),
        sum(lit(1L) - col("__t")).as("n_c"),
        sum((lit(1L) - col("__t")) * col("__y")).as("conv_c"))
      .withColumn("rate_t_bp", expr(
        "case when n_t = 0 then cast(null as bigint)" +
          " else (10000 * conv_t) div n_t end"))
      .withColumn("rate_c_bp", expr(
        "case when n_c = 0 then cast(null as bigint)" +
          " else (10000 * conv_c) div n_c end"))
      .withColumn("uplift_bp", col("rate_t_bp") - col("rate_c_bp"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 association test — "is
    * exposure associated with outcome AFTER controlling for the
    * stratifying confounder" (the missing piece next to [[assocPhi2]],
    * which a confounded pooled table fools — Simpson's paradox). Per
    * stratum i with cells a,b,c,d and n = a+b+c+d:
    * `E_i = (a+b)(a+c)/n`, `V_i = (a+b)(c+d)(a+c)(b+d)/(n²(n−1))`,
    * `CMH = (Σa − ΣE)² / ΣV` (uncorrected), plus the Mantel–Haenszel
    * common odds ratio `OR = Σ(ad/n) / Σ(bc/n)`. All folds run in
    * exact BigInt rationals, floored ONCE into the reported fixed
    * point — bitwise reproducible, but past 128-bit integer SQL
    * engines (~211-bit intermediates at sf0.01) → rows-only; the
    * cell frame is hash-checked via [[cmhCells]] and the fold is
    * spec-pinned on a hand-computed two-stratum table.
    * Strata with n < 2 are skipped (V undefined).
    *
    * Scale: the cluster side is ONE conditional partial agg to
    * strata-sized cells — the only collected artifact (budget-
    * guarded); the rational fold is driver-side over those rows.
    * Output: one row (n_strata, sum_a, cmh_fp ×10^6,
    * or_mh_bp ×10^4, NULL when undefined). */
  /** [[cmh]]'s distributed half, exposed for hash-verification: the
    * per-stratum 2×2 cells (a = exposed∧outcome, b = exposed∧¬outcome,
    * c = ¬exposed∧outcome, d = neither) in ONE conditional partial-agg
    * shuffle. Everything past this frame is the strata-sized driver
    * fold. Output: (stratum, a, b, c, d). */
  def cmhCells(df: DataFrame, strataCol: String, exposed: Column,
               outcome: Column): DataFrame =
    df.groupBy(col(strataCol)).agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).as("a"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).as("b"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).as("c"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("d"))

  def cmh(df: DataFrame, strataCol: String, exposed: Column,
          outcome: Column, maxStrata: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = cmhCells(df, strataCol, exposed, outcome)
      .select(col("a"), col("b"), col("c"), col("d"))
      .as[(Long, Long, Long, Long)].collect()
    require(cells.length <= maxStrata,
      s"strata cardinality ${cells.length} exceeds the $maxStrata " +
        "driver-fold budget")
    def red(n: BigInt, d: BigInt): (BigInt, BigInt) = {
      val g = n.gcd(d); if (g == 0) (BigInt(0), BigInt(1))
      else (n / g, d / g)
    }
    def add(x: (BigInt, BigInt), y: (BigInt, BigInt)): (BigInt, BigInt) =
      red(x._1 * y._2 + y._1 * x._2, x._2 * y._2)
    var e = (BigInt(0), BigInt(1)); var v = (BigInt(0), BigInt(1))
    var orNum = (BigInt(0), BigInt(1)); var orDen = (BigInt(0), BigInt(1))
    var sumA = 0L; var nStrata = 0L
    for ((a, b, c, d) <- cells; n = a + b + c + d; if n >= 2) {
      nStrata += 1; sumA += a
      val (ba, bb, bc, bd) = (BigInt(a), BigInt(b), BigInt(c), BigInt(d))
      val bn = BigInt(n)
      e = add(e, red((ba + bb) * (ba + bc), bn))
      v = add(v, red((ba + bb) * (bc + bd) * (ba + bc) * (bb + bd),
        bn * bn * (bn - 1)))
      orNum = add(orNum, red(ba * bd, bn))
      orDen = add(orDen, red(bb * bc, bn))
    }
    val cmhFp: Option[Long] =
      if (v._1 == 0) None
      else {
        // (sumA - E)^2 / V, one floor into 10^6 fixed point
        val diffN = BigInt(sumA) * e._2 - e._1 // over denominator e._2
        Some(((diffN * diffN * v._2 * 1000000) /
          (e._2 * e._2 * v._1)).toLong)
      }
    val orBp: Option[Long] =
      if (orDen._1 == 0) None
      else Some(((orNum._1 * orDen._2 * 10000) /
        (orNum._2 * orDen._1)).toLong)
    Seq((nStrata, sumA, cmhFp, orBp))
      .toDF("n_strata", "sum_a", "cmh_fp", "or_mh_bp")
  }

  /** ENGINE-EXACT twin of [[cmh]]: instead of the exact-rational fold
    * (whose single final floor needs ~211-bit intermediates — past any
    * 128-bit SQL engine), each stratum's E/V/OR terms are floored into
    * 10^9 fixed point FIRST and the integer sums carry through. Both
    * engines replay the same floors, so the result hash-checks; the
    * per-stratum floor loses < 1 part in 10^9 per term, so the
    * statistic agrees with the rational fold to within a few 10^-6
    * units (EvalSpec pins the parity). Width bound: every oracle-side
    * intermediate ≤ (N·10^9)²·10^6 — inside HUGEINT up to N ≈ 10^6
    * rows; the operator itself folds BigInt and has no bound.
    * Output: (n_strata, sum_a, cmh_fp ×10^6, or_mh_bp ×10^4, NULL when
    * undefined) — same shape as [[cmh]]. */
  def cmhExactFp(df: DataFrame, strataCol: String, exposed: Column,
                 outcome: Column, maxStrata: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val S = BigInt(1000000000L)
    val cells = cmhCells(df, strataCol, exposed, outcome)
      .select(col("a"), col("b"), col("c"), col("d"))
      .as[(Long, Long, Long, Long)].collect()
    require(cells.length <= maxStrata,
      s"strata cardinality ${cells.length} exceeds the $maxStrata " +
        "driver-fold budget")
    var e = BigInt(0); var v = BigInt(0)
    var orNum = BigInt(0); var orDen = BigInt(0)
    var sumA = 0L; var nStrata = 0L
    for ((a, b, c, d) <- cells; n = a + b + c + d; if n >= 2) {
      nStrata += 1; sumA += a
      val (ba, bb, bc, bd) = (BigInt(a), BigInt(b), BigInt(c), BigInt(d))
      val bn = BigInt(n)
      e += (ba + bb) * (ba + bc) * S / bn
      v += (ba + bb) * (bc + bd) * (ba + bc) * (bb + bd) * S /
        (bn * bn * (bn - 1))
      orNum += ba * bd * S / bn
      orDen += bb * bc * S / bn
    }
    val cmhFp: Option[Long] =
      if (v == 0) None
      else {
        val diff = BigInt(sumA) * S - e
        Some((diff * diff * 1000000 / (v * S)).toLong)
      }
    val orBp: Option[Long] =
      if (orDen == 0) None
      else Some((orNum * 10000 / orDen).toLong)
    Seq((nStrata, sumA, cmhFp, orBp))
      .toDF("n_strata", "sum_a", "cmh_fp", "or_mh_bp")
  }

  /** Grouped difference-in-differences — the pre/post × treated/control
    * causal contrast: per group, the four cell counts and fixed-point
    * cell means (`mean_fp = 100·Σv div n`, sign-factored so truncating
    * and flooring engines agree), and
    * `did_fp = (m_treat_post − m_treat_pre) − (m_ctrl_post − m_ctrl_pre)`
    * — the treatment-effect estimate under parallel trends. Groups
    * missing a cell emit NULL means/did (0-row cells divide to NULL,
    * never throw).
    *
    * Scale: ONE conditional partial-agg shuffle over the raw rows —
    * the whole report is a groupBy-agg regardless of corpus size.
    * Output: (group, n_tpre, n_tpost, n_cpre, n_cpost, m_tpre_fp,
    * m_tpost_fp, m_cpre_fp, m_cpost_fp, did_fp).
    *
    * @param treated  boolean column: in the treatment arm
    * @param post     boolean column: after the intervention
    * @param valueCol integral outcome (e.g. cents)
    */
  def diffInDiff(df: DataFrame, groupCol: String, treated: Column,
                 post: Column, valueCol: String): DataFrame = {
    def cell(t: Boolean, p: Boolean, tag: String) = Seq(
      sum(when(treated === t && post === p, col(valueCol))
        .otherwise(lit(null))).as(s"__s_$tag"),
      sum(when(treated === t && post === p, 1L).otherwise(0L))
        .as(s"n_$tag"))
    val aggs = cell(true, false, "tpre") ++ cell(true, true, "tpost") ++
      cell(false, false, "cpre") ++ cell(false, true, "cpost")
    def meanFp(tag: String) = expr(
      s"""case when n_$tag = 0 then cast(null as bigint)
         |  when __s_$tag >= 0 then (100 * __s_$tag) div n_$tag
         |  else -((100 * -__s_$tag) div n_$tag) end""".stripMargin)
      .as(s"m_${tag}_fp")
    df.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol) +: Seq("tpre", "tpost", "cpre", "cpost")
        .flatMap(t => Seq(col(s"n_$t"), meanFp(t))): _*)
      .withColumn("did_fp",
        (col("m_tpost_fp") - col("m_tpre_fp")) -
          (col("m_cpost_fp") - col("m_cpre_fp")))
  }

  /** Multiclass classification report: per-class support, predicted
    * count, true positives, and fixed-point precision / recall / F1 —
    * the confusion-matrix rollup every labeling pipeline (language ID,
    * quality gates, routing rules) reports before shipping a model.
    * All three scores are declared floored integer divisions
    * (`precision_fp = scale·tp div n_predicted`,
    * `recall_fp = scale·tp div n_actual`,
    * `f1_fp = 2·scale·tp div (n_predicted + n_actual)`), so any engine
    * reproduces them bit-for-bit; empty denominators emit NULL.
    *
    * Scale: raw rows collapse to (actual, predicted) confusion cells
    * in ONE partial-agg shuffle (cells ≤ |classes|², class-domain-
    * bounded, never corpus-bounded); the per-class margins are two
    * aggregates over the cell frame and join back class-keyed —
    * everything after the first shuffle is label-sized. Classes that
    * only ever appear as predictions report n_actual = 0 (NULL
    * recall), and vice versa. NULL labels coalesce to the sentinel
    * class `__NULL__` BEFORE grouping — a null never equi-joins, so
    * without the sentinel a null class would split into two margin
    * rows with zeroed opposite sides. Output: (class, n_actual,
    * n_predicted, tp, precision_fp, recall_fp, f1_fp). */
  def classificationReport(df: DataFrame, actualCol: String,
                           predictedCol: String,
                           scale: Long = 1000000L): DataFrame = {
    val cells = df.groupBy(
        coalesce(col(actualCol).cast("string"), lit("__NULL__"))
          .as("__a"),
        coalesce(col(predictedCol).cast("string"), lit("__NULL__"))
          .as("__p"))
      .agg(count(lit(1)).as("__c"))
      .transform(Materialize(_)) // margins + diagonal share one scan
    val byActual = cells.groupBy(col("__a").as("class"))
      .agg(sum(col("__c")).as("n_actual"))
    val byPred = cells.groupBy(col("__p").as("class"))
      .agg(sum(col("__c")).as("n_predicted"))
    val diag = cells.filter(col("__a") === col("__p"))
      .select(col("__a").as("class"), col("__c").as("tp"))
    byActual.join(byPred, Seq("class"), "full_outer")
      .join(diag, Seq("class"), "left_outer")
      .na.fill(0L, Seq("n_actual", "n_predicted", "tp"))
      .withColumn("precision_fp", expr(
        s"""case when n_predicted = 0 then cast(null as bigint)
           |  else ($scale * tp) div n_predicted end""".stripMargin))
      .withColumn("recall_fp", expr(
        s"""case when n_actual = 0 then cast(null as bigint)
           |  else ($scale * tp) div n_actual end""".stripMargin))
      .withColumn("f1_fp", expr(
        s"""case when n_predicted + n_actual = 0 then cast(null as bigint)
           |  else (2 * $scale * tp) div (n_predicted + n_actual)
           |  end""".stripMargin))
  }

  /** McNemar's paired test for comparing two classifiers on the SAME
    * rows — the discordant-pair statistic `(b − c)² / (b + c)` where
    * b = A right / B wrong and c = A wrong / B right, fixed point via
    * `mcnemar_fp = scale·(b−c)² div (b+c)` (NULL when b + c = 0: the
    * classifiers never disagree). Accuracy deltas mislead when the
    * classifiers err on different rows; McNemar conditions on exactly
    * the disagreements.
    *
    * Scale: ONE conditional partial-agg shuffle to per-group counts;
    * (b−c)² rides decimal(38,0). Output: (group, n, n_b, n_c,
    * mcnemar_fp).
    *
    * @param correctA boolean column: classifier A correct on this row
    * @param correctB boolean column: classifier B correct on this row
    */
  def mcnemar(df: DataFrame, groupCol: String, correctA: Column,
              correctB: Column, scale: Long = 1000000L): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(correctA && !correctB, 1L).otherwise(0L)).as("n_b"),
        sum(when(!correctA && correctB, 1L).otherwise(0L)).as("n_c"))
      .withColumn("mcnemar_fp", expr(
        s"""cast(case when n_b + n_c = 0 then null
           |  else (cast($scale as decimal(38,0)) * (n_b - n_c) *
           |        (n_b - n_c)) div (n_b + n_c)
           |  end as long)""".stripMargin))

  /** Brier score per group: the mean squared gap between a fixed-point
    * probability in [0, scale] and the binary outcome —
    * `brier_fp = Σ (p_i − y_i·scale)² div (n·scale)`, exact integer
    * (numerator ≤ n·scale², rides decimal(38,0)). The strictly proper
    * score that calibration bins summarize and ROC-AUC ignores
    * (AUC only ranks; Brier punishes a confident wrong probability).
    *
    * Scale: per-row squared term in the scan + ONE partial-agg
    * shuffle. Output: (group, n, n_pos, brier_fp) with brier_fp in
    * [0, scale].
    *
    * @param scoreFpCol fixed-point probability in [0, scale]
    * @param labelCol   integer column, nonzero = positive
    */
  def brier(df: DataFrame, groupCol: String, scoreFpCol: String,
            labelCol: String, scale: Long = 1000000L): DataFrame =
    df.select(col(groupCol), col(scoreFpCol).cast("long").as("__s"),
        when(col(labelCol) =!= 0, 1L).otherwise(0L).as("__y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(expr(s"""cast(__s - __y * $scale as decimal(38,0)) *
                    |  (__s - __y * $scale)""".stripMargin)).as("__se"))
      .withColumn("brier_fp", expr(
        s"cast(__se div (cast(n as decimal(38,0)) * $scale) as long)"))
      .drop("__se")

  /** Expected / maximum calibration error per group, composed over
    * [[calibration]]'s reliability bins: with per-bin size n_b, mean
    * score conf_b and positive fraction acc_b (both already declared
    * floored fp), `ece_fp = Σ_b n_b·|acc_b − conf_b| div n` and
    * `mce_fp = max_b |acc_b − conf_b|` — the one-number summaries of
    * the reliability diagram (ECE weights bins by mass; MCE reports
    * the worst bin).
    *
    * Scale: [[calibration]]'s one partial-agg shuffle to ≤ nBins·groups
    * rows, then a groups-sized rollup. Output: (group, n, n_bins_used,
    * ece_fp, mce_fp). */
  def ece(df: DataFrame, groupCol: String, scoreFpCol: String,
          labelCol: String, nBins: Int,
          scale: Long = 1000000L): DataFrame =
    calibration(df, groupCol, scoreFpCol, labelCol, nBins, scale)
      .withColumn("__gap", abs(col("frac_pos_fp") - col("mean_score_fp")))
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n"),
        count(lit(1)).cast("long").as("n_bins_used"),
        sum(expr("cast(n as decimal(38,0)) * __gap")).as("__w"),
        max(col("__gap")).as("mce_fp"))
      .withColumn("ece_fp", expr("cast(__w div n as long)"))
      .drop("__w")
      .select(col(groupCol), col("n"), col("n_bins_used"),
        col("ece_fp"), col("mce_fp"))

  /** Kendall concordance report per group over PAIRED ORDINAL columns:
    * concordant / discordant / tied pair counts and the fixed-point
    * tau-a `tau_a_fp = scale·(nc − nd) div (n·(n−1)/2)` (sign
    * factored) — the rank-agreement complement of [[rocAuc]] (which
    * needs a binary label) and Spearman (whose rank transform hides
    * tie structure). Tie counts are reported raw (ties_x / ties_y /
    * ties_xy) so a caller can form any tie-corrected variant; tau-b's
    * sqrt denominator is deliberately NOT computed (not engine-exact).
    *
    * Scale: raw rows collapse to (group, x, y) cell tallies in ONE
    * partial-agg shuffle; pair counting is a within-group cell
    * self-join — quadratic in CELLS, never rows — guarded by a
    * driver REQUIRE that the largest group's cell count stays under
    * `maxCells` (so worst-case join volume is maxCells²·groups;
    * default 2^11 cells → ≤ 4M pairs per group). Quantize x/y to
    * bounded ordinal domains (buckets, grades, fp deciles) before
    * calling — that is the contract, enforced fail-fast. Pair products
    * ride decimal(38,0). Output: (group, n, nc, nd, ties_x, ties_y,
    * ties_xy, tau_a_fp). */
  def kendall(df: DataFrame, groupCol: String, xCol: String,
              yCol: String, scale: Long = 1000000L,
              maxCells: Long = 1L << 11): DataFrame = {
    val tal = boundedTally(
      df.groupBy(col(groupCol).cast("string").as("__g"),
          col(xCol).cast("long").as("__x"),
          col(yCol).cast("long").as("__y"))
        .agg(count(lit(1)).as("__c")),
      "__g", maxCells, "kendall")
    val a = tal.select(col("__g"), col("__x").as("__xa"),
      col("__y").as("__ya"), col("__c").as("__ca"))
    val b = tal.select(col("__g").as("__gb"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__c").as("__cb"))
    // each unordered cell pair once: strict (x, y) lexicographic order
    val pairs = a.join(b,
      col("__g") === col("__gb") &&
        (col("__xa") < col("__xb") ||
          (col("__xa") === col("__xb") && col("__ya") < col("__yb"))))
      .select(col("__g"), col("__xa"), col("__ya"), col("__xb"),
        col("__yb"), expr("cast(__ca as decimal(38,0)) * __cb").as("__w"))
    val cls = when(col("__xa") === col("__xb"), lit("tx"))
      .when(col("__ya") === col("__yb"), lit("ty"))
      .when((col("__xa") < col("__xb")) === (col("__ya") < col("__yb")),
        lit("c"))
      .otherwise(lit("d"))
    val within = tal.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"),
        sum(expr("cast(__c as decimal(38,0)) * (__c - 1) div 2"))
          .as("__txy"))
    pairs.withColumn("__k", cls)
      .groupBy(col("__g"))
      .agg(sum(when(col("__k") === "c", col("__w")).otherwise(lit(0)))
          .as("__nc"),
        sum(when(col("__k") === "d", col("__w")).otherwise(lit(0)))
          .as("__nd"),
        sum(when(col("__k") === "tx", col("__w")).otherwise(lit(0)))
          .as("__tx"),
        sum(when(col("__k") === "ty", col("__w")).otherwise(lit(0)))
          .as("__ty"))
      .join(within, Seq("__g"), "right_outer")
      .select(col("__g").as(groupCol), col("n"),
        coalesce(col("__nc"), lit(0)).cast("long").as("nc"),
        coalesce(col("__nd"), lit(0)).cast("long").as("nd"),
        coalesce(col("__tx"), lit(0)).cast("long").as("ties_x"),
        coalesce(col("__ty"), lit(0)).cast("long").as("ties_y"),
        col("__txy").cast("long").as("ties_xy"))
      .withColumn("tau_a_fp", expr(
        s"""cast(case when n < 2 then null
           |  when nc >= nd
           |    then (cast($scale as decimal(38,0)) * (nc - nd))
           |         div (cast(n as decimal(38,0)) * (n - 1) div 2)
           |  else -((cast($scale as decimal(38,0)) * (nd - nc))
           |         div (cast(n as decimal(38,0)) * (n - 1) div 2))
           |  end as long)""".stripMargin))
  }

  /** Benjamini–Hochberg FDR gate (JRSS-B 1995) over a table of tests
    * with fixed-point p-values: reject the k* smallest p-values where
    * `k* = max{i : p_(i) ≤ i·α/m}`. Exact by cross-multiplication —
    * with p_fp and alpha_fp both at `scale`, the step-up condition for
    * the i-th order statistic is the integer test
    * `p_fp · m ≤ i · alpha_fp` — so the rejection set is
    * engine-reproducible with no float ranks. This is the
    * multiple-testing discipline for the drift/burst scan families
    * (run one test per term/segment, gate alarms at a controlled
    * false-discovery rate instead of per-test thresholds).
    *
    * Resolution entirely on the DISTINCT-p tally (ties share the
    * LARGEST index among equal p, which is the standard and the
    * monotone-safe choice): cumulative counts give each distinct value
    * its best index i = count(p' ≤ p); the threshold p* is the largest
    * value passing, found on the [[boundedTally]]-pinned tally series;
    * every row then gets `rejected = p_fp ≤ p*` from a 1-row broadcast
    * — no global sort, no per-row rank.
    *
    * Output: input rows + (m, k_star, p_threshold_fp, rejected 0/1);
    * if no value passes, k_star = 0 and p_threshold_fp is NULL. */
  def bhFdr(df: DataFrame, pFpCol: String, alphaFp: Long,
            scale: Long = 1000000L,
            maxSeries: Long = 1L << 22): DataFrame = {
    require(alphaFp > 0 && alphaFp <= scale,
      s"bhFdr: alphaFp must be in (0, $scale]")
    val tal = boundedTally(
      df.groupBy(col(pFpCol).cast("long").as("__p"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__g", lit(1)),
      "__g", maxSeries, "bhFdr")
    val wP = Window.partitionBy(col("__g")).orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = tal
      .withColumn("__i", sum(col("__c")).over(wP))
      .withColumn("__m", sum(col("__c")).over(Window.partitionBy("__g")))
      .filter(expr(s"cast(__p as decimal(38,0)) * __m <= " +
        s"cast(__i as decimal(38,0)) * $alphaFp"))
      .agg(max(col("__p")).as("__pstar"), max(col("__m")).as("__mm"),
        max(col("__i")).as("__kstar"))
    val m = tal.agg(sum(col("__c")).as("__mAll"))
    df.crossJoin(broadcast(
        cut.crossJoin(m).select(
          coalesce(col("__mm"), col("__mAll")).as("m"),
          coalesce(col("__kstar"), lit(0L)).as("k_star"),
          col("__pstar").as("p_threshold_fp"))))
      .withColumn("rejected",
        when(col("p_threshold_fp").isNotNull &&
          col(pFpCol).cast("long") <= col("p_threshold_fp"), 1L)
          .otherwise(0L))
  }

  /** Cochran–Armitage trend test (Cochran 1954 / Armitage 1955): does a
    * binary outcome's rate move MONOTONICALLY with an ordered dose
    * score — the dose-response question a 2×k χ² cannot answer (χ²
    * rejects any heterogeneity; CA spends all its power on the linear
    * trend). Per group: `T = Σᵢ wᵢ(rᵢ − nᵢR/n)` with integer numerator
    * `T_num = n·Σwr − R·Σwn`, and `z² = T_num²(n−1) /
    * (R(n−R)(nΣw²nᵢ − (Σwnᵢ)²))`. Reported through the
    * [[assocPhi2]] fp-normalization discipline — `t_fp = scale·T_num
    * div n²`, variance factors normalized by n² likewise, then ONE
    * declared division chain — so every intermediate stays bounded by
    * scale·wmax² regardless of n (the naive T_num² overflows
    * decimal(38,0) past ~10^9 rows) and any engine reproduces the
    * procedure bit-for-bit.
    *
    * Scale: ONE row-level partial aggregate per group (the score sums
    * Σw, Σw², Σw·outcome are plain row sums — no per-dose cell table
    * materializes); NULL z² on degenerate groups (all/no successes,
    * constant score, n < 2). Output: (groupCol, n, r, t_fp, z2_fp) —
    * t_fp signed (trend direction), z2_fp ~ χ²₁ under no trend. */
  def trendTest(df: DataFrame, groupCol: String, scoreCol: Column,
                outcome: Column, scale: Long = 1000000L): DataFrame =
    df.select(col(groupCol), scoreCol.cast("long").as("__w"),
        when(outcome, 1L).otherwise(0L).as("__r"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__r")).as("r"),
        sum(col("__w")).as("__sw"),
        sum(expr("cast(__w as decimal(38,0)) * __w")).as("__sww"),
        sum(col("__w") * col("__r")).as("__swr"))
      .withColumn("__tnum", expr(
        """cast(n as decimal(38,0)) * __swr -
          |  cast(r as decimal(38,0)) * __sw""".stripMargin))
      .withColumn("t_fp", expr(
        s"""case when __tnum >= 0
           |  then ($scale * __tnum) div (cast(n as decimal(38,0)) * n)
           |  else -(($scale * -__tnum) div (cast(n as decimal(38,0)) * n))
           |  end""".stripMargin))
      .withColumn("__v1", expr( // scale·R(n−R)/n² ≤ scale/4
        s"($scale * (cast(r as decimal(38,0)) * (n - r))) " +
          "div (cast(n as decimal(38,0)) * n)"))
      .withColumn("__v2", expr( // scale·(nΣw²−(Σw)²)/n² ≤ scale·wmax²
        s"($scale * (cast(n as decimal(38,0)) * __sww - " +
          "cast(__sw as decimal(38,0)) * __sw)) " +
          "div (cast(n as decimal(38,0)) * n)"))
      .withColumn("__nf", expr(s"($scale * (n - 1)) div n"))
      .withColumn("z2_fp", expr(
        // t_fp²·nf/(v1·v2) carries a stray 1/n (each fp factor divides
        // by a power of n; they don't cancel) — the ·n restores the
        // dimensionless z²·scale. Bound: (scale·wmax)²·scale·n < 10^38
        // holds to n ~ 10^12 at wmax ~ 10.
        s"""cast(case when n < 2 or __v1 <= 0 or __v2 <= 0 then null
           |  else (cast(t_fp as decimal(38,0)) * t_fp * __nf * n)
           |       div __v1 div __v2
           |  end as long)""".stripMargin))
      .select(col(groupCol), col("n"), col("r"),
        expr("cast(t_fp as long)").as("t_fp"), col("z2_fp"))

  /** Poisson-bootstrap confidence intervals (Chamandy et al., Google
    * 2012 — the standard DISTRIBUTED uncertainty machinery: true
    * resampling needs n draws per replicate coordinated across
    * machines; giving every row an independent Poisson(1) weight per
    * replicate is asymptotically equivalent and embarrassingly
    * parallel). Deterministic and engine-exact: the per-(row,
    * replicate) weight is the count of Poisson(1) CDF literals (fixed
    * point, 10^6) below a portable md5 draw — the BenfordFp
    * embedded-constant pattern — replicate means are sign-factored
    * floored fp, and the CI endpoints are EXACT order statistics of
    * the replicate means at declared ranks.
    *
    * Scale: the explode is rows × b with map-side combine straight to
    * per-(group, replicate) weight/weighted-sum partials — state is
    * groups × b, never rows; the rank pick is a window over those
    * b-bounded aggregate rows. Replicates with zero total weight
    * (P = e^−n, only microscopic groups) are dropped and reported via
    * b_eff. `idCol` must uniquely key rows (append-stable draws).
    *
    * Output: (groupCol, n, mean_fp, b_eff, lo_fp, hi_fp). */
  def poissonBootstrap(df: DataFrame, groupCol: String, idCol: String,
                       value: Column, b: Int = 48,
                       alphaBp: Long = 250, seed: String = "boot",
                       scale: Long = 1000000L): DataFrame =
    bootCi(bootPartials(df, groupCol, idCol, value, b, seed),
      bootPoint(df, groupCol, idCol, value), groupCol, alphaBp, scale)

  private def bootSignedDiv(num: String, den: String) =
    s"""case when ($num) >= 0 then ($num) div ($den)
       |  else -((-($num)) div ($den)) end""".stripMargin

  /** Per-(group, replicate) bootstrap weight partials — PLAIN SUMS, so
    * partials from disjoint row slices merge by addition: the property
    * the streaming twin rides (weights depend only on (id, replicate,
    * seed), never on batching). */
  private[graft] def bootPartials(df: DataFrame, groupCol: String,
                                  idCol: String, value: Column, b: Int,
                                  seed: String): DataFrame = {
    require(b >= 2 && b <= 256, s"replicate count $b outside [2, 256]")
    // floor(10^6 · P(Poisson(1) ≤ k)), k = 0..9; weight 10 caps the
    // tail (P < 10^-7 at the draw resolution)
    val cdf = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L, 999916L, 999989L, 999998L, 999999L)
    // ONE md5 per row, then per-replicate draws as exact-integer
    // affine perms of it (the portable-hash recipe): a per-(row, rep)
    // md5 costs b hashes per row, and the array-HOF weight lookup
    // falls out of codegen — together they made the first cut ~15×
    // slower. The CASE ladder and the affine math are pure codegen'd
    // comparisons; both are reproduced literally by the oracle.
    val ladder = cdf.zipWithIndex
      .map { case (t, i) => s"when __u < ${t}L then $i" }
      .mkString("case ", " ", s" else ${cdf.size} end")
    df.select(col(groupCol), col(idCol).cast("string").as("__id"),
        value.cast("long").as("__x"))
      .withColumn("__g0", expr("cast(conv(substring(md5(concat(" +
        s"__id, '-', '$seed')), 1, 8), 16, 10) as bigint)"))
      .withColumn("__rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", expr( // L-suffixed: int×int THROWS under ANSI
        """((((1103515245L * (cast(__rep as bigint) + 1) + 12345L)
          |      % 1073741824L) * 2L + 1L)
          |  * __g0
          |  + (22695477L * (cast(__rep as bigint) + 1) + 54321L)
          |      % 2147483647L)
          |  % 2147483647L % 1000000L""".stripMargin))
      .withColumn("__w", expr(ladder))
      .groupBy(col(groupCol), col("__rep"))
      .agg(sum(expr("cast(__w as decimal(38,0))")).as("__sw"),
        sum(expr("cast(__w as decimal(38,0)) * __x")).as("__swx"))
  }

  /** Per-group point-estimate moment partials (additive, like
    * [[bootPartials]]). */
  private[graft] def bootPoint(df: DataFrame, groupCol: String,
                               idCol: String, value: Column): DataFrame =
    df.select(col(groupCol), value.cast("long").as("__x"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(__x as decimal(38,0))")).as("__sx"))

  /** Assemble the CI report from (possibly merged) partials: replicate
    * means, exact order-statistic endpoints, point estimate. */
  private[graft] def bootCi(partials: DataFrame, point: DataFrame,
                            groupCol: String, alphaBp: Long,
                            scale: Long): DataFrame = {
    require(alphaBp > 0 && alphaBp < 5000,
      s"alphaBp $alphaBp outside (0, 5000)")
    val means = partials
      .filter(col("__sw") > 0)
      .withColumn("__m", expr(
        s"cast(${bootSignedDiv(s"$scale * __swx", "__sw")} as long)"))
    val wg = Window.partitionBy(col(groupCol))
    val wOrd = wg.orderBy(col("__m"), col("__rep"))
    val picked = means
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("b_eff", count(lit(1)).over(wg))
      .withColumn("__lo",
        expr(s"($alphaBp * (b_eff - 1)) div 10000 + 1"))
      .withColumn("__hi",
        expr(s"((10000 - $alphaBp) * (b_eff - 1)) div 10000 + 1"))
      .groupBy(col(groupCol), col("b_eff"))
      .agg(max(when(col("__rn") === col("__lo"), col("__m"))).as("lo_fp"),
        max(when(col("__rn") === col("__hi"), col("__m"))).as("hi_fp"))
    point
      .withColumn("mean_fp", expr(
        s"cast(${bootSignedDiv(s"$scale * __sx", "n")} as long)"))
      .join(picked, Seq(groupCol))
      .select(col(groupCol), col("n"), col("mean_fp"), col("b_eff"),
        col("lo_fp"), col("hi_fp"))
  }

  /** Split-conformal calibration (Vovk; Lei et al. 2018): the
    * nonconformity-score threshold `q̂ = s_(⌈(n+1)(1−α)⌉)` that makes
    * prediction sets cover with probability ≥ 1−α on exchangeable
    * data — the distribution-free uncertainty wrapper every deployed
    * predictor needs. Exact: the order statistic resolves through
    * [[Selection.valueAtRanks]] bucket histograms (no per-group fact
    * sort — a dominant group cannot serialize the job), and the
    * realized calibration coverage is reported in floored bp.
    *
    * Output: (groupCol, n, qhat, coverage_bp) — coverage_bp ≥
    * 10^4·(1−α)·n/(n+1) by the conformal guarantee (asserted in spec). */
  def conformal(df: DataFrame, groupCol: String, scoreCol: String,
                alphaBp: Long = 1000): DataFrame =
    conformalFromTallies(
      df.select(col(groupCol), col(scoreCol).cast("long").as("__s"))
        .filter(col("__s").isNotNull)
        .groupBy(col(groupCol), col("__s"))
        .agg(count(lit(1)).as("__c")),
      groupCol, alphaBp)

  /** [[conformal]] from (group, score, count) tallies — tallies are
    * PLAIN SUMS, so slices merge by addition: the streaming twin's
    * read view feeds summed per-batch tallies here and gets the batch
    * answer bitwise. The weighted valueAtRanks rank walk makes the
    * tally path exactly the raw-row order statistic. */
  private[graft] def conformalFromTallies(tal0: DataFrame,
                                          groupCol: String,
                                          alphaBp: Long): DataFrame = {
    require(alphaBp > 0 && alphaBp < 10000,
      s"alphaBp $alphaBp outside (0, 10000)")
    // the tally frame feeds THREE downstream jobs (valueAtRanks'
    // min/max scan, its bucket aggregate, and the coverage join) —
    // materialize it once or each job replays the tally SHUFFLE from
    // the raw scan (the r10→r12 q259 creep: 0.59 s → 1.5 s, a 2.5×
    // structural job-cost increase at any scale)
    val tal = tal0.transform(Materialize(_))
    val q = 10000 - alphaBp
    val thr = Selection.valueAtRanks(tal, groupCol, "__s",
        Seq("qhat" ->
          s"least(__n, ((__n + 1L) * ${q}L + 9999L) div 10000L)"),
        weightCol = Some("__c"))
      .select(col(groupCol), col("value").as("qhat"), col("n"))
    tal.join(broadcast(thr), Seq(groupCol))
      .groupBy(col(groupCol), col("qhat"), col("n"))
      .agg(sum(when(col("__s") <= col("qhat"), col("__c"))
        .otherwise(0L)).as("__cov"))
      .select(col(groupCol), col("n"), col("qhat"),
        expr("(__cov * 10000L) div n").as("coverage_bp"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. WSDM 2013):
    * adjust each variant's metric mean by the pre-experiment covariate,
    * `adj = ȳ_v − θ·(x̄_v − x̄)` with `θ = cov(x,y)/var(x)` pooled over
    * the whole group — removes the covariate-explained variance so the
    * same experiment resolves smaller effects. Deterministic fixed
    * point: `theta_fp = scale·(nΣxy − ΣxΣy) div (nΣx² − (Σx)²)`, the
    * variant deviations `dx_fp = scale·(n·Σx_v − n_v·Σx) div (n_v·n)`,
    * and the correction `(theta_fp·dx_fp) div scale` — every division a
    * declared sign-factored floor, so the report hash-checks.
    *
    * Scale: ONE row-level partial aggregate per (group, variant) —
    * moment sums only, decimal(38,0) against 10^12-row groups (bound:
    * n·Σxy needs n·n·x·y < 10^38) — then per-group pooled moments via a
    * groups-sized window; zero-variance covariate → theta NULL,
    * adjustment 0 (the correct limit). Output: (groupCol, variant, n,
    * ybar_fp, theta_fp, adj_fp). */
  def cuped(df: DataFrame, groupCol: String, variantCol: String,
            metric: Column, covariate: Column,
            scale: Long = 1000000L): DataFrame = {
    val wg = Window.partitionBy(col(groupCol))
    def signedDiv(num: String, den: String) =
      s"""case when ($num) >= 0 then ($num) div ($den)
         |  else -((-($num)) div ($den)) end""".stripMargin
    df.select(col(groupCol), col(variantCol).cast("string").as("variant"),
        metric.cast("long").as("__y"), covariate.cast("long").as("__x"))
      .groupBy(col(groupCol), col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(__y as decimal(38,0))")).as("__sy"),
        sum(expr("cast(__x as decimal(38,0))")).as("__sx"),
        sum(expr("cast(__x as decimal(38,0)) * __y")).as("__sxy"),
        sum(expr("cast(__x as decimal(38,0)) * __x")).as("__sxx"))
      // pooled-moment names must not collide case-insensitively with
      // the per-variant ones (withColumn REPLACES on a case-insensitive
      // match, silently losing the per-variant sums)
      .withColumn("__pn", sum(col("n")).over(wg))
      .withColumn("__psy", sum(col("__sy")).over(wg))
      .withColumn("__psx", sum(col("__sx")).over(wg))
      .withColumn("__psxy", sum(col("__sxy")).over(wg))
      .withColumn("__psxx", sum(col("__sxx")).over(wg))
      .withColumn("__covn", expr("__pn * __psxy - __psx * __psy"))
      .withColumn("__varn", expr("__pn * __psxx - __psx * __psx"))
      .withColumn("theta_fp", expr(s"""cast(case when __varn <= 0
           |  then null else ${signedDiv(s"$scale * __covn", "__varn")}
           |  end as long)""".stripMargin))
      .withColumn("ybar_fp", expr(
        s"cast(${signedDiv(s"$scale * __sy", "n")} as long)"))
      .withColumn("__dx_fp", expr(signedDiv(
        s"$scale * (__pn * __sx - cast(n as decimal(38,0)) * __psx)",
        "cast(n as decimal(38,0)) * __pn")))
      .withColumn("adj_fp", expr(
        s"""cast(case when theta_fp is null then ybar_fp
           |  else ybar_fp - ${signedDiv(
                 "cast(theta_fp as decimal(38,0)) * __dx_fp",
                 s"$scale")}
           |  end as long)""".stripMargin))
      .select(col(groupCol), col("variant"), col("n"), col("ybar_fp"),
        col("theta_fp"), col("adj_fp"))
  }
}

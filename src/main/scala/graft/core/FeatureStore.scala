package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Interlace

/** The flagship query of the engine: turn interval-valid feature rows into
  * a per-day (× stratification) time series.
  *
  * Semantics mirror the reference's `key_join_features`
  * (reference: R/DiseasystoreBase.R:286-506):
  *   1. clamp observable + stratification features to [start, end+1)
  *   2. truncate-interlace the stratifications onto the observable
  *   3. aggregate "added" mass at `valid_from` and "removed" mass at
  *      `valid_until` per (stratification, date)
  *   4. spread over the full date × strata grid and emit
  *      `observable = cumsum(n_add) - cumsum(n_remove)`
  *
  * Spark-first re-architecture (not a port): the reference runs two
  * group-bys (t_add, t_remove), materializes both, and joins them back on
  * the grid. Here both aggregations are fused into ONE shuffle: the
  * interlaced rows are unioned as (date=valid_from, add) ∪
  * (date=valid_until, remove) and aggregated once with conditional
  * aggregates; map-side partial aggregation halves the shuffled volume.
  * The date grid comes from `sequence()` on executors (no driver collect),
  * strata combos are a tiny distinct that Catalyst/AQE broadcasts, and the
  * prefix sum is a window partitioned by strata (bounded cardinality) —
  * the only ordered operation, over the already-tiny aggregated series.
  */
object KeyJoinFeatures {

  /** @param observable     bitemporal table holding `feature`
    * @param observableName output column name (e.g. "n_positive")
    * @param feature        column of `observable` to aggregate
    * @param agg            key-join aggregator (sum/min/max/count)
    * @param stratifications bitemporal tables carrying the strat columns,
    *                        joined on shared `key_*`s
    * @param stratCols      stratification column names in the output
    * @param start          study start date "yyyy-MM-dd" (inclusive)
    * @param endInclusive   study end date (inclusive)
    */
  def apply(
      observable: DataFrame,
      observableName: String,
      feature: String,
      agg: KeyJoinAggregator,
      stratifications: Seq[DataFrame],
      stratCols: Seq[String],
      start: String,
      endInclusive: String): DataFrame =
    withExprs(observable, observableName, feature, agg, stratifications,
      stratCols.map(c => c -> col(c)), start, endInclusive)

  /** Generalized stratification: each output stratum is a named
    * EXPRESSION evaluated over the interlaced rows (the reference
    * accepts arbitrary quosures — constants, derived cuts, renames — not
    * just feature columns; R/DiseasystoreBase.R:428-452
    * `group_by(!!!stratification)`). Columns referenced by the
    * expressions must exist on the observable or an interlaced
    * stratification table. */
  def withExprs(
      observable: DataFrame,
      observableName: String,
      feature: String,
      agg: KeyJoinAggregator,
      stratifications: Seq[DataFrame],
      stratExprs: Seq[(String, Column)],
      start: String,
      endInclusive: String): DataFrame = {

    val stratCols = stratExprs.map(_._1)
    val spark = observable.sparkSession
    val startD = to_date(lit(start))
    val endD = to_date(lit(endInclusive))
    val endExcl = date_add(endD, 1)

    def clamp(df: DataFrame): DataFrame =
      df.withColumn(Intervals.ValidFrom,
          greatest(col(Intervals.ValidFrom), startD))
        .withColumn(Intervals.ValidUntil,
          least(coalesce(col(Intervals.ValidUntil), endExcl), endExcl))

    val obs = clamp(observable)
    val strats = stratifications.map(clamp)
    val interlaced0 = Interlace.truncateInterlace(obs, strats)
    // evaluate the stratification expressions into real columns before
    // the delta aggregation (a plain projection — Catalyst merges it)
    val interlaced = stratExprs.foldLeft(interlaced0) {
      case (d, (n, e)) => d.withColumn(n, e)
    }

    val sc = stratCols.map(col)
    val featC = col(feature)

    // Fused add/remove delta aggregation: one scan (explode, not a
    // two-armed union that would read the source twice) and one shuffle.
    val exploded = interlaced
      .select(sc :+ explode(array(
        struct(col(Intervals.ValidFrom).as("date"),
          lit(true).as("is_add"), featC.as("f")),
        struct(col(Intervals.ValidUntil).as("date"),
          lit(false).as("is_add"), featC.as("f")))).as("__d"): _*)

    // `delta` is tiny by construction — one row per (strata, boundary
    // date). It stays lazy: stratified, the grid combos re-read its
    // subtree, which costs a second scan of the (interval-sliced) inputs
    // but keeps the series a plain plan that reflects the store at the
    // time it is evaluated.
    val delta = exploded
      .groupBy((sc :+ col("__d.date").as("date")): _*)
      .agg(
        agg.aggWhere(col("__d.f"), col("__d.is_add")).as("n_add"),
        agg.aggWhere(col("__d.f"), !col("__d.is_add")).as("n_remove"))

    // Full date × strata grid, generated on executors. Combos come from
    // `delta`, not `interlaced`: the set is identical (every interlaced
    // row forms a delta group).
    val dates = spark.range(1).select(
      explode(sequence(startD, endD)).as("date"))
    val grid =
      if (stratCols.isEmpty) dates
      else delta.select(sc: _*).distinct().crossJoin(dates)

    // Rename the delta side before joining: grid and delta share lineage
    // (both derive from `interlaced`), and Spark's self-join attribute
    // resolution can otherwise collapse `grid(c) <=> delta(c)` into a
    // trivially-true predicate.
    val deltaR = ("date" +: stratCols).foldLeft(delta) { (d, c) =>
      d.withColumnRenamed(c, s"__d_$c")
    }
    val joinCond = (col("date") === col("__d_date")) +:
      stratCols.map(c => col(c) <=> col(s"__d_$c"))
    val joined = grid.join(deltaR, joinCond.reduce(_ && _), "left")
      .select(
        (col("date") +: stratCols.map(col)) ++ Seq(
          coalesce(col("n_add"), lit(0)).as("n_add"),
          coalesce(col("n_remove"), lit(0)).as("n_remove")): _*)

    val w = Window.partitionBy(stratCols.map(joined(_)): _*)
      .orderBy(joined("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    joined
      .withColumn(observableName,
        sum(col("n_add")).over(w) - sum(col("n_remove")).over(w))
      .select((col("date") +: stratCols.map(col)) :+ col(observableName): _*)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Intervals.{ValidFrom, ValidUntil, intervalsOverlap}

/** Bitemporal interval joins.
  *
  * `truncate`: intersect each secondary feature table with the primary's
  * validity on their shared `key_*` columns
  * (reference: R/truncate_interlace.R:94-114).
  *
  * `interlace`: merge N bitemporal tables into one, segmenting each key's
  * timeline on the union of all validity breakpoints (the SCDB::interlace
  * step used at R/truncate_interlace.R:117).
  *
  * Spark-first design: both are expressed as equi-joins on the key columns
  * with range residual predicates, so Catalyst plans shuffle/broadcast
  * hash joins keyed on `key_*` — co-partitioned and scalable; no per-key
  * driver loops. Breakpoint segmentation is a window `lead` per key, not
  * an N-way iterative join.
  */
object Interlace {

  private def payloadCols(df: DataFrame, keys: Seq[String]): Seq[String] =
    df.columns.filterNot(c =>
      keys.contains(c) || c == ValidFrom || c == ValidUntil).toSeq

  /** Truncate one secondary table to the primary's validity.
    *
    * Inner overlap join on the shared keys; the intersected interval is
    * computed with the same CASE expressions the reference's dplyr code
    * translates to on SQL backends (R/truncate_interlace.R:109-112).
    * Output schema: primary columns (intervals intersected) ++ secondary
    * payload columns.
    */
  def truncateOne(primary: DataFrame, secondary: DataFrame,
                  keys: Seq[String]): DataFrame = {
    val p = primary.alias("p")
    val s = secondary.alias("s")
    val keyEq = keys.map(k => col(s"p.$k") <=> col(s"s.$k")).reduce(_ && _)
    val overlap = intervalsOverlap(
      col(s"p.$ValidFrom"), col(s"p.$ValidUntil"),
      col(s"s.$ValidFrom"), col(s"s.$ValidUntil"))
    val pPayload = payloadCols(primary, keys)
    val sPayload = payloadCols(secondary, keys)
    p.join(s, keyEq && overlap, "inner")
      .select(
        keys.map(k => col(s"p.$k")) ++
          pPayload.map(c => col(s"p.$c")) ++
          sPayload.map(c => col(s"s.$c")) ++ Seq(
            when(col(s"p.$ValidFrom") >= col(s"s.$ValidFrom"),
              col(s"p.$ValidFrom")).otherwise(col(s"s.$ValidFrom"))
              .as(ValidFrom),
            when(col(s"p.$ValidUntil") <= col(s"s.$ValidUntil"),
              col(s"p.$ValidUntil")).otherwise(col(s"s.$ValidUntil"))
              .as(ValidUntil)
          ): _*)
  }

  /** Interlace N bitemporal tables sharing `keys`: one output row per
    * (key, segment) where segments are delimited by the union of all
    * tables' breakpoints; each payload column takes the value valid in
    * that segment (NULL when that table has no valid row there). Payload
    * columns appearing in several tables (e.g. the primary's columns
    * repeated through `truncateOne`) are coalesced in first-table order.
    * Segments covered by no table are dropped.
    */
  def interlace(tables0: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(tables0.nonEmpty, "interlace needs at least one table")
    if (tables0.size == 1) return tables0.head

    // Each input feeds two consumers (the breakpoint union and its
    // payload join). Inputs that are themselves expensive (joins,
    // aggregates, windows — e.g. truncateOne outputs) are materialized
    // so the subtree runs once; bare scan/filter/project chains are NOT
    // (re-scanning beats materializing a copy, and the scan keeps its
    // pushed filters). Self-join attribute dedup blocks ReuseExchange
    // here, so materializing is the only sharing mechanism.
    def isExpensive(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Join => p
        case p: org.apache.spark.sql.catalyst.plans.logical.Aggregate => p
        case p: org.apache.spark.sql.catalyst.plans.logical.Window => p
        case p: org.apache.spark.sql.catalyst.plans.logical.Generate => p
      }.isDefined
    val tables = tables0.map(t => if (isExpensive(t)) Materialize(t) else t)

    val keyCols = keys.map(col)
    // Union of breakpoints per key (open ends contribute no breakpoint).
    val points = tables.map { t =>
      t.select(keyCols :+ col(ValidFrom).as("p"): _*)
        .unionByName(
          t.filter(col(ValidUntil).isNotNull)
            .select(keyCols :+ col(ValidUntil).as("p"): _*))
    }.reduce(_ unionByName _).distinct()

    val w = Window.partitionBy(keyCols: _*).orderBy(col("p"))
    val segs = points
      .withColumn("seg_until", lead(col("p"), 1).over(w))
      .withColumnRenamed("p", "seg_from")

    // Attach each table's payload where the segment start falls inside the
    // table's validity (segments never straddle a breakpoint, so testing
    // the start point suffices). Payloads get unique temp names; same-named
    // payloads across tables are coalesced at the end.
    val payloads: Seq[Seq[String]] = tables.map(payloadCols(_, keys))
    val joined = tables.zipWithIndex.foldLeft(segs) { case (acc, (t, i)) =>
      val rhs = t.select(
        keys.map(k => col(k).as(s"__k${i}_$k")) ++
          payloads(i).map(c => col(c).as(s"__p${i}_$c")) ++ Seq(
            col(ValidFrom).as(s"__vf$i"), col(ValidUntil).as(s"__vu$i"),
            lit(true).as(s"__hit$i")): _*)
      val cond = keys.map(k => acc(k) <=> rhs(s"__k${i}_$k")).reduce(_ && _) &&
        rhs(s"__vf$i") <= acc("seg_from") &&
        (rhs(s"__vu$i") > acc("seg_from") || rhs(s"__vu$i").isNull)
      acc.join(rhs, cond, "left")
        .drop((keys.map(k => s"__k${i}_$k") ++ Seq(s"__vf$i", s"__vu$i")): _*)
    }

    val covered = tables.indices.map(i => col(s"__hit$i") === lit(true))
      .reduce(_ || _)
    val outNames = payloads.flatten.distinct
    val outCols =
      keys.map(col) ++
        outNames.map { c =>
          val sources = tables.indices
            .filter(i => payloads(i).contains(c)).map(i => col(s"__p${i}_$c"))
          (if (sources.size == 1) sources.head else coalesce(sources: _*))
            .as(c)
        } ++ Seq(col("seg_from").as(ValidFrom), col("seg_until").as(ValidUntil))
    joined.filter(covered).select(outCols: _*)
  }

  /** truncate_interlace: truncate each secondary to the primary, then
    * interlace the truncated tables (reference: R/truncate_interlace.R:80-120).
    * Keys default to the primary's `key_*` columns shared with each
    * secondary.
    */
  def truncateInterlace(primary: DataFrame,
                        secondary: Seq[DataFrame]): DataFrame = {
    if (secondary.isEmpty) return primary
    val primaryKeys = graft.core.Intervals.keyCols(primary)
    val truncated = secondary.map { s =>
      val common = primaryKeys.intersect(graft.core.Intervals.keyCols(s))
      require(common.nonEmpty, "No common keys found to interlace by!")
      truncateOne(primary, s, common)
    }
    interlace(truncated, Seq(primaryKeys.head))
  }
}

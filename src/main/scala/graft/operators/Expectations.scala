package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the pipeline admission gate
  * a 100 TB ingest runs before publishing a snapshot (the public
  * Deequ / Great Expectations practice, re-expressed Spark-first).
  * No counterpart in ssi-dk/diseasystore (its battery validates the
  * store's own invariants; this validates arbitrary incoming data
  * against user-declared rules).
  *
  * Three rule classes, each with the cheapest exact plan available:
  *  - scalar [[Check]]s (null / range / regex / set / cross-column
  *    predicates): ALL compiled into ONE aggregate over ONE scan —
  *    a `sum(CASE WHEN violation)` per rule, unpivoted to long rows.
  *    N rules cost one pass, not N passes.
  *  - [[Unique]] keys: one count-distinct aggregate per key set;
  *    violations = surplus rows (total − distinct keys).
  *  - [[ReferencedIn]] foreign keys: one LEFT ANTI join per
  *    reference; a null FK is not a violation (declare NotNull
  *    separately) — matching SQL FK semantics.
  *
  * Output: (rule, violations, total) — exact 64-bit integers, so the
  * whole report hash-checks against any engine.
  */
object Expectations {

  /** A named scalar expectation; `violation` is the per-row predicate
    * that marks a FAILING row (null predicate = not a violation,
    * mirroring SQL CHECK semantics — declare NotNull to catch nulls). */
  final case class Check(rule: String, violation: Column)

  /** Convenience constructors for the common scalar rules. */
  def notNull(c: String): Check =
    Check(s"not_null($c)", col(c).isNull)
  def inRange(c: String, lo: Long, hi: Long): Check =
    Check(s"in_range($c,$lo,$hi)",
      col(c).isNotNull && (col(c) < lo || col(c) > hi))
  def matches(c: String, pattern: String): Check =
    Check(s"matches($c)", col(c).isNotNull && !col(c).rlike(pattern))
  def inSet(c: String, values: Seq[String]): Check =
    Check(s"in_set($c)", col(c).isNotNull && !col(c).isin(values: _*))

  /** A uniqueness expectation over a key column set. */
  final case class Unique(rule: String, keyCols: Seq[String])

  /** A referential expectation: every non-null `fkCol` value appears
    * in `dim`'s `pkCol`. */
  final case class ReferencedIn(rule: String, fkCol: String,
                                dim: DataFrame, pkCol: String)

  /** Run all expectations; returns (rule, violations, total) rows in
    * the declared order (total = row count of `df` for scalar/unique
    * rules, non-null FK count for referential rules). */
  def validate(df: DataFrame, checks: Seq[Check],
               uniques: Seq[Unique] = Nil,
               refs: Seq[ReferencedIn] = Nil): DataFrame = {
    require(checks.nonEmpty || uniques.nonEmpty || refs.nonEmpty,
      "declare at least one expectation")
    val spark = df.sparkSession
    import spark.implicits._

    val parts = Seq.newBuilder[DataFrame]
    if (checks.nonEmpty) {
      // one aggregate over one scan: a conditional sum per rule, then
      // stack() unpivots the single wide row to (rule, violations)
      val aggs = count(lit(1)).as("__total") +:
        checks.zipWithIndex.map { case (c, i) =>
          sum(when(c.violation, 1L).otherwise(0L)).as(s"__v$i")
        }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = checks.zipWithIndex.map { case (c, i) =>
        s"'${c.rule.replace("'", "''")}', __v$i"
      }.mkString(", ")
      parts += wide.select(
        expr(s"stack(${checks.size}, $stackArgs) as (rule, violations)"),
        col("__total").as("total"))
    }
    uniques.foreach { u =>
      parts += df.agg(
        count(lit(1)).as("total"),
        count_distinct(col(u.keyCols.head),
          u.keyCols.tail.map(col): _*).as("__d"))
        .select(lit(u.rule).as("rule"),
          (col("total") - col("__d")).as("violations"), col("total"))
    }
    refs.foreach { r =>
      val fk = df.select(col(r.fkCol)).filter(col(r.fkCol).isNotNull)
        .transform(Materialize(_)) // total + anti-join read it
      val miss = fk.join(
        r.dim.select(col(r.pkCol).as(r.fkCol)).distinct(),
        Seq(r.fkCol), "left_anti")
      parts += miss.agg(count(lit(1)).as("violations"))
        .crossJoin(broadcast(fk.agg(count(lit(1)).as("total"))))
        .select(lit(r.rule).as("rule"), col("violations"), col("total"))
    }
    parts.result().reduce(_ unionByName _)
  }
}

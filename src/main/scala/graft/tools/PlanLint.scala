package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Pre-flight plan linter: the scale-discipline rules this repo
  * enforces on its own operators (PlanSpec, PLANS.md), packaged as a
  * user-facing API — run it on any DataFrame BEFORE committing a
  * multi-hour cluster job. Purely driver-side plan inspection: no job
  * runs, nothing is collected from executors.
  *
  * Rules (each finding carries the offending node's one-line summary):
  *  - `cartesian-product`: a CartesianProductExec anywhere — O(n·m)
  *    row fanout, almost never survives a 100 TB input.
  *  - `nested-loop-join`: BroadcastNestedLoopJoin — per-row scan of
  *    the broadcast side; fine for a 1-row or bounded-grid side,
  *    fatal when the probe side is a corpus (flagged for review).
  *  - `bare-fact-window`: a window partitioned by fewer than two
  *    expressions (none of which is a bucket hash) whose input
  *    reaches a raw scan with no Aggregate on the path — a hot group
  *    serializes into ONE task's sort (the exact defect class the r6
  *    verdict found in Classifier.filterByQuality).
  *  - `global-window`: a window with an EMPTY partition spec whose
  *    child frame is not bounded (literal relation, Range, limit, or
  *    an Aggregate on every path to a leaf) — the whole frame sorts
  *    in ONE task regardless of cluster size. Subsumes the empty-spec
  *    half of `bare-fact-window` but is tracked as its own rule so a
  *    corpus sweep can assert ZERO occurrences (aggregate-bounded
  *    cumsums — calendar grids, bucket histograms — stay legal).
  *  - `unpushed-filter`: a Filter sitting directly on a parquet scan
  *    that reports no pushed-down data filters — the predicate should
  *    have reached the scan for row-group pruning; a cast or UDF in
  *    the predicate usually blocks it.
  *  - `many-shuffles`: more than `maxShuffles` ShuffleExchanges —
  *    informational; every exchange is a full network pass over its
  *    input.
  */
object PlanLint {

  final case class Finding(rule: String, severity: String, node: String)

  /** Lint the OPTIMIZED logical + physical plan of `df`. */
  def lint(df: DataFrame, maxShuffles: Int = 6): Seq[Finding] = {
    val findings = Seq.newBuilder[Finding]
    val optimized = df.queryExecution.optimizedPlan
    val physical = df.queryExecution.executedPlan

    def oneLine(p: Any): String =
      p.toString.linesIterator.toSeq.headOption.getOrElse("").take(200)

    // --- logical rules ------------------------------------------------
    val defs: Map[Long, Expression] = optimized.collect {
      case p => p.expressions.flatMap(_.collect {
        case a: Alias => a.exprId.id -> a.child
      })
    }.flatten.toMap
    def isBucketed(e: Expression, depth: Int = 0): Boolean =
      if (depth > 8) false
      else if (e.isInstanceOf[graft.functions.PortableBucket]) true
      else e match {
        case a: Attribute => defs.get(a.exprId.id).exists(isBucketed(_, depth + 1))
        case other => other.children.exists(isBucketed(_, depth + 1))
      }
    def scanWithoutAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: LocalRelation => false
      case _: LeafNode => true
      case other => other.children.exists(scanWithoutAgg)
    }
    // a frame is bounded when every leaf it can reach is a literal /
    // Range, sits under an Aggregate (count rows, not fact rows), or
    // under a Limit — those stay model/domain-sized at any input scale.
    def boundedFrame(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: LocalRelation => true
      case _: Range => true
      case _: OneRowRelation => true
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _: LeafNode => false
      case other => other.children.forall(boundedFrame)
    }
    optimized.foreach {
      case w: Window if w.partitionSpec.size < 2 &&
          !w.partitionSpec.exists(isBucketed(_)) &&
          scanWithoutAgg(w.child) =>
        findings += Finding("bare-fact-window", "error", oneLine(w))
      case _ => ()
    }
    optimized.foreach {
      case w: Window if w.partitionSpec.isEmpty &&
          !boundedFrame(w.child) =>
        findings += Finding("global-window", "error", oneLine(w))
      case _ => ()
    }

    // --- physical rules -----------------------------------------------
    // codegen/columnar adapters sit between a Filter and its scan in
    // the executed plan; see through them when matching structure
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => unwrap(c.child)
      case other => other
    }
    def walk(p: SparkPlan): Unit = {
      p match {
        case c: CartesianProductExec =>
          findings += Finding("cartesian-product", "error", oneLine(c))
        case j: BroadcastNestedLoopJoinExec =>
          findings += Finding("nested-loop-join", "warn", oneLine(j))
        case f: org.apache.spark.sql.execution.FilterExec =>
          // a Filter directly on a parquet scan that pushed nothing
          // beyond null checks: the predicate failed to reach the
          // scan (a cast/expression wrapper usually blocks it).
          // `dataFilters` holds pushdown CANDIDATES; the translated
          // set the scan will actually use is in metadata.
          unwrap(f.child) match {
            case s: FileSourceScanExec =>
              val pushed = s.metadata.getOrElse("PushedFilters", "[]")
                .stripPrefix("[").stripSuffix("]").trim
              val nullChecksOnly = pushed.isEmpty ||
                pushed.split(",").forall(_.trim.startsWith("IsNotNull"))
              if (nullChecksOnly)
                findings += Finding("unpushed-filter", "warn", oneLine(f))
            case _ => ()
          }
        case _ => ()
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case other => other.children.foreach(walk)
      }
    }
    walk(physical)

    var shuffles = 0
    def countShuffles(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => shuffles += 1
        case _ => ()
      }
      p match {
        case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
        case other => other.children.foreach(countShuffles)
      }
    }
    countShuffles(physical)
    if (shuffles > maxShuffles)
      findings += Finding("many-shuffles", "info",
        s"$shuffles shuffle exchanges (threshold $maxShuffles)")

    findings.result()
  }

  /** Findings as a DataFrame, for report sinks. */
  def lintReport(df: DataFrame, maxShuffles: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lint(df, maxShuffles).toDF("rule", "severity", "node")
  }
}

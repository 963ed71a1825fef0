package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one materialization policy in graft: every intermediate that is
  * read more than once is pinned by an EAGER `localCheckpoint` made
  * here and nowhere else (MaterializeLintSpec enforces it). A
  * checkpoint truncates lineage and is no CacheManager entry, so a later
  * query with the same plan is never served a stale copy; its blocks go
  * with the ContextCleaner once the frame is dropped, or earlier through
  * [[free]]; and the checkpointed LogicalRDD keeps the source plan's
  * size estimate, so broadcast planning downstream is unchanged.
  *
  * The `ck*` variants deliver aggregate metrics from the SAME job via a
  * named CollectMetrics node, replacing the `count()`/`isEmpty()` action
  * that used to follow a checkpoint (one job-scheduling floor per call
  * and per loop round). CollectMetrics is exactly-once per successful
  * query — task retries don't double-count. Deliberately the
  * STRING-named `observe` + `queryExecution.observedMetrics`, NOT
  * `org.apache.spark.sql.Observation`: that variant registers with the
  * session's non-serializable, lazily-initialized ObservationManager,
  * which then breaks any later task closure that drags the session
  * through Java serialization (Spark ML models with training summaries
  * do; MlSpec caught exactly that). */
private[graft] object Materialize {

  private val seq = new AtomicLong()

  /** Eager localCheckpoint; chained call sites use
    * `.transform(Materialize(_))`. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** One loop generation: materialize the successor, then free `old`
    * (`x = f(x).transform(Materialize.replacing(x))`). */
  def replacing(old: DataFrame)(df: DataFrame): DataFrame = {
    val next = apply(df)
    free(old)
    next
  }

  /** Plant metrics, checkpoint eagerly, read the metrics row back from
    * the query execution the checkpoint action ran. */
  private def ck(df: DataFrame, metrics: Seq[Column],
      key: Option[Column]): (DataFrame, Row) = {
    val name = s"__graft_ck_${seq.incrementAndGet()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val toRun = key.fold(observed)(observed.repartition(_))
    val ckd = apply(toRun)
    (ckd, toRun.queryExecution.observedMetrics(name))
  }

  /** localCheckpoint(true) + row count, one job. */
  def ckCount(df: DataFrame): (DataFrame, Long) = {
    val (ckd, row) = ck(df, Seq(count(lit(1)).as("__n")), None)
    (ckd, row.getLong(0))
  }

  /** The graph-prep shape: dedup/projection → `repartition(key)` →
    * checkpoint, with the driver-finish bound count observed on the way
    * in — ONE edge materialization on every branch. */
  def ckRepartitionCount(df: DataFrame, key: Column): (DataFrame, Long) = {
    val (ckd, row) = ck(df, Seq(count(lit(1)).as("__n")), Some(key))
    (ckd, row.getLong(0))
  }

  /** localCheckpoint(true) + arbitrary observed aggregates, one job.
    * Returns the checkpointed frame and the metric map (null-valued
    * aggregates — e.g. min over an empty frame — map to null). */
  def ckObserve(df: DataFrame, metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val (ckd, row) = ck(df, metrics, None)
    (ckd, row.schema.fieldNames.zip(row.toSeq).toMap)
  }

  /** [[ckRepartitionCount]] with arbitrary observed aggregates
    * (observed BEFORE the repartition — same rows either way). */
  def ckRepartitionObserve(df: DataFrame, key: Column,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val (ckd, row) = ck(df, metrics, Some(key))
    (ckd, row.schema.fieldNames.zip(row.toSeq).toMap)
  }

  /** Release a checkpoint's blocks NOW, through its LogicalRDD leaf
    * (Dataset.unpersist() is a no-op for checkpoints: the CacheManager
    * does not track them). Best-effort: any other plan shape is left to
    * GC. Free only what no live lazy frame still reads: freed
    * checkpoint blocks are not recomputed. */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(false)
    case _ => ()
  }
}

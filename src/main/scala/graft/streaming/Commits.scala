package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Materialize

/** The idempotent-append half of every exactly-once foreachBatch
  * commit in this package, in ONE place: append `rows` to the parquet
  * table at `path`, keeping only rows whose `keyCol` is not already
  * present. A replayed (at-least-once) batch finds its rows present
  * and appends nothing; a first batch finds no table and appends
  * everything.
  *
  * The anti-joined frame is pinned with an eager localCheckpoint so
  * the row set is decided EXACTLY once per commit: without it the
  * emptiness probe and the write would each re-execute the anti-join
  * against the table's then-current file listing, and a concurrent
  * writer (or lineage reading a table mutated between the two actions)
  * could duplicate or drop rows. */
object Commits {

  def appendIfAbsent(rows: DataFrame, path: String,
                     keyCol: String): Unit =
    appendIfAbsent(rows, path, Seq(keyCol))

  /** Composite-key variant. Key granularity matters for replay
    * correctness when one logical unit spans several rows: a parquet
    * job commit is not atomic across task files, so a crash mid-commit
    * can expose SOME of a unit's rows — an anti-join on the unit key
    * alone would then skip the unit on replay and drop the missing
    * rows forever. Keying on the FULL deterministic row identity makes
    * the replay append exactly the rows the crashed commit lost (the
    * recomputation is deterministic, so re-appended rows are
    * byte-equal to the lost ones). Use the single-column form only
    * when a unit is exactly one row (r14 advice, SaProbeStream
    * ranges). */
  def appendIfAbsent(rows: DataFrame, path: String,
                     keyCols: Seq[String]): Unit = {
    val spark = rows.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = (
      if (!fs.exists(p)) rows
      else rows.join(
        spark.read.parquet(path).select(keyCols.head, keyCols.tail: _*),
        keyCols, "left_anti")
    ).transform(Materialize(_))
    if (!fresh.isEmpty) fresh.write.mode("append").parquet(path)
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize}

/** Streaming twin of [[Dedup.dedupLines]] (CCNet-style boilerplate
  * removal) with PREFIX-EXACT semantics: each micro-batch is cleaned
  * with the line document-frequencies of everything seen UP TO AND
  * INCLUDING that batch — i.e. batch `i`'s output rows are exactly
  * what batch `dedupLines` over batches `0..i` emits for those ids
  * (LineDedupStreamSpec proves the law per batch boundary). A line
  * only a FUTURE document will reveal as boilerplate survives in
  * already-emitted docs — that is the price of streaming; re-running
  * the batch operator over the accumulated corpus reconciles.
  *
  * State is the line-frequency INDEX on disk: append-only
  * (line_hash, n_docs, batch_id) partial counts, summed at read time
  * — no per-batch rewrite of a corpus-sized table. Same-batch replays
  * are detected by `batch_id` marker rows; cross-batch re-delivery of
  * an already-emitted doc is dropped by an anti-join before counting
  * (see [[commitBatch]] for the one crash window that remains), and
  * the cleaned output appends through [[Commits.appendIfAbsent]].
  *
  * Scale: per batch, |batch| line hashes shuffle for the distinct +
  * count; the index read is a column-pruned scan aggregated by an
  * 8-byte key (partial-agg shuffle); document text never leaves the
  * batch except for its one cleaned append.
  */
object LineDedupStream {

  /** One commit: fold `batch`'s line frequencies into the index
    * (skipped on replay), then emit the batch cleaned against the
    * updated totals.
    *
    * Two re-delivery guards compose: the `batch_id` marker makes a
    * SAME-batch replay skip the index fold even when the output append
    * died mid-commit, and the anti-join against already-EMITTED docs
    * makes a doc re-delivered in a LATER batch (upstream retry,
    * overlapping backfill) count zero a second time. The uncovered
    * window is a doc whose first commit crashed between index and
    * output appends AND that is then re-delivered under a NEW batch id
    * — that doc's lines count twice until a batch [[Dedup.dedupLines]]
    * run over the accumulated corpus reconciles the index. */
  def commitBatch(batch: DataFrame, indexPath: String, outPath: String,
                  minDocs: Int, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delivered = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val (docs, n) = Materialize.ckCount(
      if (!fs.exists(outP)) delivered
      else delivered.join(
        spark.read.parquet(outPath).select("doc_id"),
        Seq("doc_id"), "left_anti"))
    if (n == 0) return

    val replayed = fs.exists(new org.apache.hadoop.fs.Path(indexPath)) &&
      !spark.read.parquet(indexPath)
        .filter(col("batch_id") === batchId).isEmpty
    if (!replayed) {
      // a line counts once per doc, summed at read time across batches
      Dedup.lineHashes(docs, "doc_id", "text")
        .select(col("doc_id"), col("__h")).distinct()
        .groupBy(col("__h")).agg(count(lit(1)).as("n_docs"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(indexPath)
    }

    val boiler = spark.read.parquet(indexPath)
      .groupBy(col("__h")).agg(sum(col("n_docs")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h").as("__bh"))
    Commits.appendIfAbsent(
      Dedup.removeLinesByHash(docs, "doc_id", "text", boiler),
      outPath, "doc_id")
  }

  /** Drive [[commitBatch]] from a stream of (doc_id, text) rows. */
  def run(docs: DataFrame, indexPath: String, outPath: String,
          checkpointDir: String, minDocs: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        commitBatch(batch, indexPath, outPath, minDocs, id)
      }
      .start()
}

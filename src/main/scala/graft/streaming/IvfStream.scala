package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Materialize}

/** Streaming maintenance of an IVF ANN index: the production shape
  * where the coarse quantizer is trained OFFLINE (rarely — [[Ivf.train]]
  * / [[Ivf.trainMllib]], persisted via [[Ivf.save]]) while the
  * cluster-assigned postings table ingests new vectors continuously.
  * Search ([[Ivf.topK]]-style nprobe over the postings) sees every
  * committed vector without any retraining step in the hot path.
  *
  * Per micro-batch: assign each incoming vector to its nearest centroid
  * with the codegen'd distance kernel (the model is a broadcast-sized
  * literal inside the expression — no join), then append through a
  * `vec_id` anti-join against the postings table, so at-least-once
  * delivery commits each vector exactly once — the
  * [[CurationStream.commitBatch]] idempotence pattern. Assignment is a
  * pure per-row function of (vector, model): the streamed postings are
  * row-identical to a batch [[Ivf.assign]] over the same input
  * (IvfStreamSpec proves equality, replay included).
  *
  * Scale: per batch, |batch| k×dim distance loops and one id-keyed
  * anti-join against a column-pruned (vec_id) scan of the postings;
  * the postings table partitions by `cluster_id` downstream for
  * co-located probe joins.
  */
object IvfStream {

  /** One ingest commit: assign `batch` (vec_id, embedding) and append
    * vectors not already present. Idempotent under replay. */
  def commitBatch(batch: DataFrame, model: Ivf.Model,
                  postingsPath: String): Unit = {
    // eager checkpoint: the assignment kernel must run once, not once
    // per downstream action (anti-join + write); the emptiness probe
    // rides the checkpoint job
    val (assigned, n) = Materialize.ckCount(Ivf.assign(
        batch.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")),
        "vec_id", "embedding", model)
      .select("vec_id", "embedding", "cluster_id"))
    if (n == 0) return
    Commits.appendIfAbsent(assigned, postingsPath, "vec_id")
  }

  /** Drive [[commitBatch]] from a stream of (vec_id, embedding) rows. */
  def run(vectors: DataFrame, model: Ivf.Model, postingsPath: String,
          checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        commitBatch(batch, model, postingsPath)
      }
      .start()
}

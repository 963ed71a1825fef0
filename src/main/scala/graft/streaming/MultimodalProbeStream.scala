package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.operators.{BandProbe, Materialize}

/** Streaming incremental near-dup PROBE for the signature modalities
  * (image dhash, audio fingerprint — any scalar 64-bit hash column):
  * the text family's [[DedupStream]] story for media. Each
  * micro-batch of (id, sig) rows
  *
  *   1. probes the ACCUMULATED corpus index — candidates are
  *      cross-side (band, bucket) collisions only, so a batch is
  *      compared against everything that arrived BEFORE it, never a
  *      corpus re-pairing;
  *   2. appends its verified pairs to `pairsPath`;
  *   3. appends its own band rows to `indexPath`, becoming corpus for
  *      every later batch.
  *
  * Stream ≡ batch: the accumulated pairs equal the cross-batch slice
  * of the full banded join over ordered batch arrival (probing is a
  * pure function of batch + prior index; MultimodalProbeStreamSpec
  * pins the parity). Replay idempotence (foreachBatch is
  * at-least-once): pairs append through an anti-join on (new_id,
  * corpus_id), the index on (id, __band) — a re-delivered batch
  * appends nothing, and a batch whose pairs landed but whose index
  * append crashed completes the index on replay without re-emitting
  * pairs.
  *
  * Scale: the index is 4 small rows per item, equi-joined per batch;
  * probe cost ∝ |batch| + collisions. The index parquet is
  * append-only and partitionable by __band at scale. */
object MultimodalProbeStream {

  def indexSchema(idType: org.apache.spark.sql.types.DataType)
      : StructType = StructType(Seq(
    StructField("id", idType),
    StructField("__h", LongType),
    StructField("__band", org.apache.spark.sql.types.IntegerType),
    StructField("__bucket", LongType)))

  val pairsSchema: StructType = StructType(Seq(
    StructField("new_id", StringType),
    StructField("corpus_id", StringType),
    StructField("hamming", LongType)))

  /** One probe-then-enroll commit over a batch of (idCol, hashCol)
    * rows. Exposed for tests and backfills; [[run]] drives it per
    * micro-batch. */
  def commitBatch(batch: DataFrame, idCol: String, hashCol: String,
                  indexPath: String, pairsPath: String,
                  maxHamming: Int): Unit = {
    val spark = batch.sparkSession
    val rows = batch.select(col(idCol), col(hashCol))
      .filter(col(hashCol).isNotNull)
      .transform(Materialize(_)) // probed AND enrolled
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val pairs = BandProbe.probeIndexed(
          spark.read.parquet(indexPath)
            .withColumnRenamed("id", idCol),
          rows, idCol, hashCol, maxHamming)
        // a REPLAYED batch probes an index that already contains
        // itself — excluding corpus rows from the current batch makes
        // the probe a pure function of (batch, index-before-batch):
        // no self-pairs, no intra-batch pairs on replay
        .join(rows.select(col(idCol).as("corpus_id")),
          Seq("corpus_id"), "left_anti")
        .withColumn("hamming", col("hamming").cast("long"))
      Commits.appendIfAbsent(pairs, pairsPath,
        Seq("new_id", "corpus_id"))
    }
    Commits.appendIfAbsent(
      BandProbe.bandIndex(rows, idCol, hashCol)
        .withColumnRenamed(idCol, "id"),
      indexPath, Seq("id", "__band"))
  }

  /** The accumulated cross-batch pairs (empty before the first
    * collision — callers get the schema, not an exception). */
  def pairs(spark: SparkSession, pairsPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(pairsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(pairsPath)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      pairsSchema)
  }

  /** Drive [[commitBatch]] from a stream of (idCol, hashCol) rows. */
  def run(hashed: DataFrame, idCol: String, hashCol: String,
          indexPath: String, pairsPath: String, checkpointDir: String,
          maxHamming: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    hashed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        commitBatch(batch, idCol, hashCol, indexPath, pairsPath,
          maxHamming)
      }
      .start()
}

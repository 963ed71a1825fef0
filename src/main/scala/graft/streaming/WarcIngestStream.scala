package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.operators.{Markup, Materialize}
import graft.sources.Warc

/** Streaming twin of the WARC front door — continuous web-corpus
  * ingest: archive blobs arrive on a stream (a fetcher drops one
  * multi-record WARC segment per row), and each micro-batch parses
  * records, splits HTTP responses, extracts boilerplate-filtered text
  * (the q277/q280 chain), and lands TWO append-only parquet tables:
  *
  *   - `pagesPath`      — one row per extracted response page, keyed
  *     by the record's WARC-Record-ID (unique by the ISO 28500
  *     contract): (record_id, target_uri, warc_date, http_status,
  *     n_blocks, n_content, clean_text, n_chars);
  *   - `quarantinePath` — one row per parse failure OR per parseable
  *     response lacking a WARC-Record-ID (no pages key exists for it):
  *     (src, rec_idx, error) — the [[Warc]] no-resync posture: a
  *     corrupt archive tail becomes a countable quarantine row, never
  *     a dead stream or a silent drop.
  *
  * Replay idempotence (foreachBatch is at-least-once): both sinks
  * append through anti-joins on their keys — pages on `record_id`,
  * quarantine on (src, rec_idx) — and extraction is a pure per-row
  * function, so a re-delivered batch appends nothing. Stream ≡ batch
  * by construction (stateless per-record work; WarcIngestStreamSpec
  * pins the parity).
  *
  * Scale: per batch, work is one record walk + one extraction scan
  * per blob — no shuffle except the append anti-joins, which are
  * keyed and candidate-bounded by the batch. Downstream curation
  * (dedup, quality, mixing) composes via [[CurationStream]] over the
  * pages table. */
object WarcIngestStream {

  val pagesSchema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("http_status", org.apache.spark.sql.types.IntegerType),
    StructField("n_blocks", LongType),
    StructField("n_content", LongType),
    StructField("clean_text", StringType),
    StructField("n_chars", LongType)))

  val quarantineSchema: StructType = StructType(Seq(
    StructField("src", StringType),
    StructField("rec_idx", LongType),
    StructField("error", StringType)))

  /** One ingest commit over a batch of (src, content) archive blobs.
    * Exposed for tests and backfills; [[run]] drives it per
    * micro-batch. */
  def commitBatch(batch: DataFrame, pagesPath: String,
                  quarantinePath: String, minWords: Int = 5,
                  linkWordRatio: Int = 4): Unit = {
    val recs = Warc.recordsFromBlobs(
      batch.select(col("src"), col("content")), "content")
      .transform(Materialize(_)) // feeds pages AND quarantine
    // a parseable response with no WARC-Record-ID has no pages key:
    // it quarantines on (src, rec_idx) — the 'reported, never
    // dropped' contract; letting a null key reach the pages join
    // would drop the page silently AND defeat the anti-join
    // idempotence below
    val quarantined = recs.filter(col("error").isNotNull ||
        (col("warc_type") === "response" && col("record_id").isNull))
      .select(col("src"), col("rec_idx"),
        coalesce(col("error"), lit("response record missing " +
          "WARC-Record-ID")).as("error"))
    val responses = Warc.httpResponses(
        recs.filter(col("error").isNull &&
          col("warc_type") === "response" &&
          col("record_id").isNotNull))
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        col("http_status"), col("body").cast("string").as("__html"))
    val pages = Markup.extractText(
        responses.select(col("record_id"), col("__html")),
        "record_id", "__html", minWords, linkWordRatio)
      .withColumnRenamed("doc_id", "record_id")
      .join(responses.drop("__html"), Seq("record_id"))
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        col("http_status"), col("n_blocks"), col("n_content"),
        col("clean_text"), col("n_chars"))
    Commits.appendIfAbsent(pages, pagesPath, "record_id")
    Commits.appendIfAbsent(quarantined, quarantinePath,
      Seq("src", "rec_idx"))
  }

  /** The accumulated pages / quarantine tables (empty frames before
    * the first commit — callers get schemas, not exceptions). */
  def pages(spark: SparkSession, pagesPath: String): DataFrame =
    readIfExists(spark, pagesPath, pagesSchema)

  def quarantine(spark: SparkSession, quarantinePath: String): DataFrame =
    readIfExists(spark, quarantinePath, quarantineSchema)

  private def readIfExists(spark: SparkSession, path: String,
                           schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schema)
  }

  /** Drive [[commitBatch]] from a stream of (src, content) blobs. */
  def run(blobs: DataFrame, pagesPath: String, quarantinePath: String,
          checkpointDir: String, minWords: Int = 5,
          linkWordRatio: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    blobs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        commitBatch(batch, pagesPath, quarantinePath, minWords,
          linkWordRatio)
      }
      .start()
}

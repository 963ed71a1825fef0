package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, SuffixDedup}

/** Streaming twin of the INCREMENTAL ExactSubstr probe
  * ([[SuffixDedup.probeSpans]]): each arriving micro-batch of documents
  * is suffix-array-probed against the corpus-so-far, its per-doc
  * excision ranges land in a ranges table, and the batch appends to the
  * corpus — continuous exact-substring dedup maintenance without ever
  * rebuilding the corpus suffix array.
  *
  * Incremental semantics (the honest contract, SaProbeStreamSpec
  * proves it per batch): a batch's ranges equal the FULL REBUILD over
  * (corpus-so-far ∪ batch) restricted to the batch's docs — each doc is
  * excised against everything that arrived before it plus its batch
  * peers. Like the batch operator, the feed must be id-ascending
  * (append semantics: a new doc's duplicates cut the NEW copy); under
  * that contract every range row is FINAL when written — later
  * arrivals have larger ids and mark themselves, never re-mark history.
  *
  * Replay idempotence (foreachBatch is at-least-once): the corpus read
  * anti-joins the current batch's ids FIRST — a replay after a crash
  * between the corpus append and the checkpoint commit would otherwise
  * probe the batch against its own half-appended copy and cut every
  * doc against itself. Both sinks then append through doc-keyed
  * anti-joins, so re-delivery appends nothing.
  *
  * Scale: per batch, one corpus gram SCAN (affected-doc discovery) +
  * a doubling loop over batch ∪ affected docs only — cost tracks the
  * batch and its duplication hits, never corpus size. The corpus and
  * ranges tables are plain append-only parquet (the Commits posture).
  */
object SaProbeStream {

  private val corpusSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  private def readIfExists(spark: SparkSession, path: String)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(corpusSchema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      corpusSchema)
  }

  /** One probe commit: spans of `batch` against (corpus-so-far minus
    * this batch's ids) ∪ batch, folded to per-doc cut ranges, ranges
    * appended doc-keyed, batch appended id-keyed. Idempotent under
    * replay. Exposed for tests and backfills; [[run]] drives it per
    * micro-batch. */
  def commitBatch(batch: DataFrame, corpusPath: String,
                  rangesPath: String, minLen: Int,
                  maxLcp: Int = 512): Unit = {
    val spark = batch.sparkSession
    // feeds the probe, both sinks, the guard
    val (prepared, n) = Materialize.ckCount(batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("text").isNotNull))
    if (n == 0) return
    // replay guard: a crash between the corpus append and the
    // checkpoint commit re-delivers this batch with its rows already
    // (partially) in the corpus — never probe a doc against itself
    val corpus = readIfExists(spark, corpusPath)
      .join(prepared.select("doc_id"), Seq("doc_id"), "left_anti")
    val ranges = SuffixDedup.exciseRanges(
      SuffixDedup.probeSpans(corpus, prepared, "doc_id", "text",
        minLen, maxLcp))
    // ranges first: if the corpus append dies, the replay recomputes
    // identical ranges from the unchanged corpus and the anti-join
    // makes the re-append a no-op. The anti-join keys on the FULL
    // range row, not `doc` alone: the parquet job commit is not atomic
    // across task files, so a crash mid-commit can expose SOME of a
    // doc's range rows — a doc-keyed replay would then skip the doc
    // and drop its missing ranges forever, breaking "ranges are final
    // when written". Full-row keying re-appends exactly the lost rows
    // (the recomputation is deterministic). (r14 advice)
    Commits.appendIfAbsent(ranges, rangesPath,
      Seq("doc", "cut_from", "cut_until"))
    Commits.appendIfAbsent(prepared, corpusPath, "doc_id")
  }

  /** Drive [[commitBatch]] from a stream of (doc_id, text) rows — one
    * probe commit per micro-batch, exactly-once corpus maintenance
    * from at-least-once delivery. */
  def run(docs: DataFrame, corpusPath: String, rangesPath: String,
          checkpointDir: String, minLen: Int, maxLcp: Int = 512)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        commitBatch(batch, corpusPath, rangesPath, minLen, maxLcp)
      }
      .start()
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize, Splits, TextAnalysis}

/** Streaming twin of the batch curation pipeline (the q98 chain):
  * quality gate → corpus-history LSH dedup → weighted acceptance →
  * curated-corpus append, one SCD2-style commit per micro-batch.
  *
  * Incremental semantics that make the stream EQUAL the batch run on
  * the same input (parity-proved in CurationStreamSpec):
  *
  *  - The dedup verdict for doc `d` is "∃ gated doc `a` with
  *    `a.id < d.id` whose signature match ≥ `minMatch`" — exactly the
  *    batch rule (`minhashLshPortable` pairs, higher id loses). The
  *    candidate pool is the persisted INDEX of every gated doc seen so
  *    far (kept or dropped — batch drops a doc that matches an
  *    already-dropped earlier doc, so dropped docs must keep vetoing)
  *    UNION the current batch, probed with the engine-portable kernel
  *    and filtered to `corpus_id < new_id`. With id-ascending feeds the
  *    union covers every lower-id doc; one code path handles
  *    within-batch pairs, cross-batch pairs, and replays.
  *  - The quality gate and `acceptByWeight` are per-row deterministic
  *    functions of (id, text) — stateless, batch ≡ stream.
  *  - Replay idempotence: both sinks append through a `doc_id`
  *    anti-join, and verdicts are pure functions of (index ∪ batch)
  *    under the `corpus_id < new_id` filter, so re-delivering a
  *    micro-batch (foreachBatch's at-least-once contract) is a no-op.
  *
  * Span EXCISION is deliberately absent: duplicated-window accounting
  * is a corpus-global signal (a gram's total count), maintained out of
  * band like the probe stream's corpus index — the stream expects
  * already-excised (or raw) text and owns everything downstream of it.
  *
  * Scale: per batch, work is |batch| signatures + (batch × history)
  * band collisions — the `minhashProbePortable` ingest shape; the
  * index stores one row per doc and is read as a column-pruned scan.
  */
object CurationStream {

  /** Weight expression of the batch pipeline: acceptance in basis
    * points by language. */
  def langWeight(enBp: Int, otherBp: Int): Column =
    when(col("lang") === "en", lit(enBp)).otherwise(lit(otherBp))

  private def readIfExists(spark: SparkSession, path: String,
                           schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
  }

  private val indexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** Stateless scrub stage (enabled with `scrub = true`): Unicode NFC
    * canonicalization, typed PII redaction, then an encoding-quality
    * veto (replacement chars / C0 controls / mojibake artifacts drop
    * the doc). Runs BEFORE the word gate and the dedup probe, so
    * signatures and the veto index see canonical redacted text — a
    * decomposed-accent copy of an indexed doc collides with it, which
    * raw bytes would miss. Per-row deterministic ⇒ stream ≡ batch by
    * construction (the CurationStreamSpec scrub case proves the whole
    * chain). The encoding veto reads the NFC text pre-redaction:
    * placeholders are ASCII and cannot mask artifacts. */
  private def scrubbed(df: DataFrame): DataFrame = df
    .withColumn("text", graft.functions.NativeExprs.nfc(col("text")))
    .filter(TextAnalysis.encodingClean(col("text")))
    .withColumn("text", TextAnalysis.piiRedactedText(col("text")))

  /** One curation commit: gate `batch`, veto docs matching any lower-id
    * doc in (index ∪ batch), accept by weight, append survivors to the
    * curated corpus and every gated doc to the index. Idempotent under
    * replay. Exposed for direct use in tests and backfills; `run`
    * drives it per micro-batch. */
  def commitBatch(batch: DataFrame, indexPath: String, corpusPath: String,
                  minWords: Int, weightBp: Column, seed: String,
                  n: Int = 3, numPerms: Int = 8, bands: Int = 4,
                  minMatch: Int = 6, scrub: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val prepared = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("text"))
    val (gated, nGated) = Materialize.ckCount(
      (if (scrub) scrubbed(prepared) else prepared)
        .filter(size(TextAnalysis.words(col("text"))) >= minWords))
    if (nGated == 0) return

    val index = readIfExists(spark, indexPath, indexSchema)
    // every doc seen so far (kept or dropped) vetoes higher ids
    val pool = index.select("doc_id", "lang", "text")
      .unionByName(gated).distinct()
    val dupIds = Dedup.minhashProbePortable(
        corpus = pool, incoming = gated, "doc_id", "text",
        n = n, numPerms = numPerms, bands = bands, minMatch = minMatch)
      .filter(col("corpus_id") < col("new_id"))
      .select(col("new_id").as("doc_id")).distinct()
    val accepted = Splits.acceptByWeight(
        gated.join(dupIds, Seq("doc_id"), "left_anti"),
        "doc_id", weightBp, seed = seed)
      .select("doc_id", "lang", "text")

    // append-through-anti-join on both sinks: a replayed batch finds
    // its rows already present and appends nothing. Index first — if
    // the corpus append dies, the replay recomputes identical verdicts
    // from the already-updated index (corpus_id < new_id excludes
    // self- and higher-id matches).
    Commits.appendIfAbsent(gated, indexPath, "doc_id")
    Commits.appendIfAbsent(accepted, corpusPath, "doc_id")
  }

  /** Drive [[commitBatch]] from a stream of (doc_id, lang, text) rows —
    * one curation commit per micro-batch, exactly-once corpus
    * maintenance from at-least-once delivery. */
  def run(docs: DataFrame, indexPath: String, corpusPath: String,
          checkpointDir: String, minWords: Int, weightBp: Column,
          seed: String, n: Int = 3, numPerms: Int = 8, bands: Int = 4,
          minMatch: Int = 6, scrub: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        commitBatch(batch, indexPath, corpusPath, minWords, weightBp,
          seed, n, numPerms, bands, minMatch, scrub)
      }
      .start()
}

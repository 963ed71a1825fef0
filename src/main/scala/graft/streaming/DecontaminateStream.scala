package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Materialize, SuffixDedup}

/** Streaming EXACT-substring decontamination — the continuous twin of
  * [[SuffixDedup.decontaminateExact]] (q275) in the SaProbeStream
  * posture: a training-corpus ingest where no arriving document is
  * ever stored un-audited against the protected (benchmark) set, and
  * where protected-set APPENDS retroactively cover everything already
  * ingested without re-decontaminating the corpus.
  *
  * State = three plain append-only parquet tables:
  *   - `corpusPath`   (doc_id, text)              — raw training docs
  *   - `protectedPath` (doc_id, text)             — benchmark docs
  *   - `rangesPath`   (doc, cut_from, cut_until)  — accumulated cuts
  * The CLEAN corpus is a VIEW ([[clean]]): raw docs with the
  * accumulated ranges re-merged and applied. Storing ranges instead
  * of cleaned text is what makes both ingest directions cheap and
  * crash-safe:
  *
  *   - a TRAINING batch is ranged against the protected set SO FAR —
  *     one gram-anchored candidate pass, contamination-bounded;
  *   - a PROTECTED batch ranges the EXISTING corpus against the new
  *     batch ONLY (the prior protected set already contributed its
  *     ranges) — the corpus pays one gram scan, the candidate volume
  *     is bounded by actual collisions, and nothing is rewritten;
  *   - interval-union merging is associative and idempotent, so the
  *     read-time re-merge equals one batch decontamination against
  *     the full protected set (DecontaminateStreamSpec pins streamed
  *     == batch over the union) — double-covered spans (a doc that
  *     arrived after a protected doc AND was re-scanned by a later
  *     protected append) collapse in the merge;
  *   - replay (at-least-once foreachBatch) is a no-op: every append
  *     goes through full-row anti-joins ([[Commits.appendIfAbsent]] —
  *     ranges on (doc, cut_from, cut_until), docs on doc_id), and
  *     recomputation is deterministic, so a crash that exposed only
  *     SOME rows is completed, never skipped. Monotone accumulation
  *     means a partial ranges append can only UNDER-report, and the
  *     replay adds exactly the missing rows.
  *
  * Scale: identical to q275's batch shape — the protected set is the
  * small side, candidates are gram-anchored (one integer gram shuffle
  * per commit), true-LCP extension kills hash collisions, and text
  * moves only on the final read join.
  */
object DecontaminateStream {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def readIfExists(spark: SparkSession, path: String)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(docSchema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      docSchema)
  }

  /** One training-doc commit: ranges of `batch` against the protected
    * set so far, then the batch appends to the raw corpus. Idempotent
    * under replay. */
  def commitDocs(batch: DataFrame, corpusPath: String,
                 protectedPath: String, rangesPath: String,
                 minLen: Int, maxLcp: Int = 512): Unit = {
    val spark = batch.sparkSession
    // feeds the ranging AND the corpus append
    val (prepared, n) = Materialize.ckCount(batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("text").isNotNull))
    if (n == 0) return
    // Serialized against commitProtected on the ranges table: without
    // the lock, a doc batch that reads the protected set BEFORE a
    // concurrent protected batch lands, while that protected batch
    // reads the corpus BEFORE this doc batch lands, leaves the (new
    // docs × new protected) pair ranged by NEITHER side — classic
    // write skew, and those docs would permanently escape
    // decontamination. Both commit paths run in the ingesting driver
    // JVM (foreachBatch + driver-side control-plane appends), which is
    // the regime the in-JVM lock covers; multi-DRIVER deployments must
    // route both paths through one driver.
    graft.core.KeyedLocks.withLock(s"__decon#$rangesPath") {
      val bench = readIfExists(spark, protectedPath)
      // ranges first (the SaProbeStream ordering): if the corpus append
      // dies, the replay recomputes identical ranges from the unchanged
      // protected set and the full-row anti-join completes the commit
      Commits.appendIfAbsent(
        SuffixDedup.decontaminationRanges(prepared, bench,
          "doc_id", "text", minLen, maxLcp),
        rangesPath, Seq("doc", "cut_from", "cut_until"))
      Commits.appendIfAbsent(prepared, corpusPath, "doc_id")
    }
  }

  /** One protected-set commit: the EXISTING corpus ranges against the
    * new benchmark batch only (prior protected docs already
    * contributed their ranges — union accumulation makes the result
    * equal decontaminating against the full set), then the batch
    * appends to the protected table. Idempotent under replay; a
    * half-appended protected batch re-ranges to the same rows. */
  def commitProtected(batch: DataFrame, corpusPath: String,
                      protectedPath: String, rangesPath: String,
                      minLen: Int, maxLcp: Int = 512): Unit = {
    val spark = batch.sparkSession
    // feeds the ranging AND the append
    val (prepared, n) = Materialize.ckCount(batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .filter(col("text").isNotNull))
    if (n == 0) return
    // same lock as commitDocs — see the write-skew note there
    graft.core.KeyedLocks.withLock(s"__decon#$rangesPath") {
      val corpus = readIfExists(spark, corpusPath)
      Commits.appendIfAbsent(
        SuffixDedup.decontaminationRanges(corpus, prepared,
          "doc_id", "text", minLen, maxLcp),
        rangesPath, Seq("doc", "cut_from", "cut_until"))
      Commits.appendIfAbsent(prepared, protectedPath, "doc_id")
    }
  }

  /** The decontaminated corpus view: raw docs with every accumulated
    * range re-merged and applied — equal to batch
    * [[SuffixDedup.decontaminateExact]] against the full protected
    * set. Output: (doc, n_tokens, n_removed, clean_text). */
  def clean(spark: SparkSession, corpusPath: String,
            rangesPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(rangesPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ranges =
      if (fs.exists(p)) spark.read.parquet(rangesPath)
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("doc", LongType),
          StructField("cut_from", LongType),
          StructField("cut_until", LongType))))
    SuffixDedup.applyCutRanges(
      readIfExists(spark, corpusPath), "doc_id", "text", ranges)
  }

  /** Drive [[commitDocs]] from a stream of (doc_id, text) training
    * docs — continuous ingest that never stores a doc un-audited
    * against the protected set. Protected-set appends go through
    * [[commitProtected]] (driver-side, they are rare control-plane
    * events, not a stream). */
  def run(docs: DataFrame, corpusPath: String, protectedPath: String,
          rangesPath: String, checkpointDir: String, minLen: Int,
          maxLcp: Int = 512)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        commitDocs(batch, corpusPath, protectedPath, rangesPath,
          minLen, maxLcp)
      }
      .start()
}

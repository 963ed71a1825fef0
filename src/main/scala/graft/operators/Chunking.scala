package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document preparation for training: chunking into overlapping
  * fixed-token windows, and PII/noise scrubbing. Pure codegen'd
  * functions — one pass over the corpus, no shuffle. */
object Chunking {

  /** Split each document into windows of `window` whitespace tokens with
    * stride `stride` (< window ⇒ overlap). Output: one row per chunk
    * with (chunk_idx, chunk_text, n_tokens). Documents shorter than one
    * window yield a single chunk. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window)
    // materialize the token array once — referenced from inside the
    // transform lambda below, where an inlined split would be
    // re-evaluated per chunk (HOFs get no codegen CSE)
    val tokenized = df.select(col(idCol),
      TextAnalysis.words(col(textCol)).as("__ws"))
    val n = size(col("__ws"))
    // number of chunks: 1 + ceil(max(0, n - window) / stride)
    val extra = greatest(lit(0), n - window)
    val nChunks = lit(1) + ceil(extra.cast("double") / stride).cast("int")
    tokenized.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("__ws"), i * stride + 1, lit(window))))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_text")
      .withColumn("n_tokens",
        size(TextAnalysis.words(col("chunk_text"))))
  }

  private val Scrubs: Seq[(String, String)] = Seq(
    "https?://[^ ]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{4,}" -> "<NUM>")

  /** Sequence packing for training batches: documents are laid out in a
    * stable deterministic order per `partCol` shard and cut into
    * CAPACITY-TARGETED contiguous bins — a doc belongs to the bin whose
    * `binTokens` boundary its cumulative token END crosses (an end
    * exactly on a boundary still belongs to the bin it filled). Bins
    * therefore AVERAGE `binTokens` but an individual bin overflows by
    * up to its last doc's length minus one (and a doc longer than
    * `binTokens` spills its bin by the excess) — `chunk` first if hard
    * per-sequence caps are required. Output: one row per doc with its
    * `bin_id`; downstream grouping by bin gives the batch manifest.
    *
    * Scale note: the running sum is a window per `partCol` (e.g.
    * language or shard), so packing parallelizes across partitions
    * while staying deterministic within each. */
  def packBins(df: DataFrame, idCol: String, textCol: String,
               partCol: String, binTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol)).orderBy(col(idCol))
    val toks = TextAnalysis.wsTokenCount(col(textCol)).cast("long")
    df.select(col(idCol), col(partCol), toks.as("n_tokens"))
      .withColumn("__cum",
        sum(col("n_tokens")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      // integer `div`, not `/`: Spark's `/` on integers is DOUBLE
      // division (CLAUDE.md invariant; DuckDB oracle uses `//`)
      .withColumn("bin_id", expr(s"(__cum - 1) div $binTokens"))
      .drop("__cum")
  }

  /** Token-shard binarization — the training-loader export step that
    * turns per-document token-id arrays into the fixed-width binary
    * payload + offset manifest shape (Megatron-style `.bin`/`.idx`):
    * each doc gets a deterministic md5 shard ([[Splits.bucket]]), its
    * ids packed as unsigned 16-bit BIG-ENDIAN words (REQUIREd
    * `0 ≤ id ≤ 65535` up front — map UNK sentinels before calling),
    * and its exact byte offset within the shard file in ascending
    * `idCol` order. The payload is emitted as a lowercase hex string —
    * byte-exact, engine-checkable (`string_agg(printf('%04x', id))`),
    * and `unhex`-able to the raw blob at write time.
    *
    * Scale: payload building is per-row codegen'd column work
    * (transform + hex + array_join — no UDF); offsets come from
    * [[Selection.prefixSums]]'s two-level bucket cumsum, so no shard
    * is ever sorted in one task. Output: (idCol, shard, n_tokens,
    * n_bytes, offset, shard_bytes, payload_hex). */
  def binarizeTokenShards(df: DataFrame, idCol: String, idsCol: String,
                          shards: Int): DataFrame = {
    require(shards >= 1, "binarizeTokenShards: shards must be >= 1")
    // array_min/array_max IGNORE null elements and array_join silently
    // drops them, so a NULL id would otherwise produce payload_hex
    // shorter than the declared n_bytes (corrupt manifest offsets)
    // instead of an error — count nulls explicitly in the same pass.
    val rng = df.agg(
      min(array_min(col(idsCol))).as("__mn"),
      max(array_max(col(idsCol))).as("__mx"),
      coalesce(sum(when(col(idsCol).isNull
          .or(exists(col(idsCol), _.isNull)), 1L)
        .otherwise(0L)), lit(0L)).as("__nulls")).collect()(0)
    require(rng.getAs[Number](2).longValue() == 0L,
      s"binarizeTokenShards: ${rng.get(2)} row(s) carry NULL token ids" +
        " (or a NULL id array) — u16 packing has no NULL encoding; " +
        "remap or drop them first.")
    require(rng.isNullAt(0) ||
      (rng.getAs[Number](0).longValue() >= 0L &&
        rng.getAs[Number](1).longValue() <= 65535L),
      s"binarizeTokenShards: token ids span [${rng.get(0)}, " +
        s"${rng.get(1)}] — u16 packing needs [0, 65535]; remap UNK/" +
        "overflow ids first.")
    val packed = df.select(
        col(idCol),
        Splits.bucket(col(idCol).cast("string"), shards).as("shard"),
        size(col(idsCol)).cast("long").as("n_tokens"),
        (size(col(idsCol)).cast("long") * 2L).as("n_bytes"),
        array_join(transform(col(idsCol),
          t => lower(lpad(hex(t), 4, "0"))), "").as("payload_hex"))
    Selection.prefixSums(packed, "shard", idCol, "n_bytes")
      .select(col(idCol), col("shard"), col("n_tokens"), col("n_bytes"),
        col("offset"), col("total").as("shard_bytes"), col("payload_hex"))
  }

  /** Redact URLs, e-mail addresses, and long digit runs. Patterns avoid
    * capture-group backreferences so the exact same regex text runs on
    * Java regex and RE2 engines identically. */
  def scrub(text: Column): Column =
    Scrubs.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Corpus-wide top-k vocabulary with counts, rank ties broken by term.
    * Map-side combine applies (explode → partial count); the global sort
    * is a TakeOrdered over the aggregated terms (no full sort), and the
    * rank window runs over just k rows. */
  def topVocab(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = df
      .select(explode(TextAnalysis.words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    counts.withColumn("rank", row_number().over(w))
      .select("rank", "term", "n")
  }

  /** Per-GROUP top-k vocabulary (per-language stopword/tokenizer seed
    * lists) without a per-group rank window over vocab rows — at
    * corpus scale a language's vocabulary is millions of terms, and
    * `row_number() over (partition by lang order by c desc)` would
    * sort each language's whole vocabulary in one task. Instead the
    * k-th largest count per group resolves through
    * [[Selection.valueAtRanks]] on NEGATED counts (rank k ascending of
    * −c), and the count table filters against the broadcast
    * thresholds. Every term TIED at the threshold is kept — the
    * multiset's k-th largest value is tie-order-independent, so the
    * result is deterministic and engine-reproducible (|result| may
    * exceed k by the tie width, SQL `rank() <= k` semantics). Output:
    * (group, term, c). */
  def topVocabPerGroup(df: DataFrame, groupCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // checkpointed: the threshold resolution and the final filter both
    // read this word-count — without it the explode+shuffle reruns per
    // Selection scan
    val counts = df
      .select(col(groupCol), explode(TextAnalysis.words(col(textCol)))
        .as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(groupCol), col("term")).agg(count(lit(1)).as("c"))
      .transform(Materialize(_))
    val thr = Selection.valueAtRanks(
        counts.withColumn("__neg", -col("c")), groupCol, "__neg",
        Seq("kth" -> s"least(__n, ${k}L)"))
      .select(col(groupCol), (-col("value")).as("__thr"))
    counts.join(broadcast(thr), Seq(groupCol))
      .filter(col("c") >= col("__thr"))
      .select(col(groupCol), col("term"), col("c"))
  }
}

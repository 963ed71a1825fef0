package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hash-agnostic banded INCREMENTAL near-dup probe — the
  * [[Dedup.minhashProbePortable]] posture for the 64-bit signature
  * families ([[ImageHash]] dhash, [[AudioHash]] afp / window arrays,
  * [[VideoHash]] frame arrays): the corpus's (band, bucket) index is
  * materialized ONCE and every new batch probes it, so candidates are
  * CROSS-SIDE collisions only and probe cost ∝ |batch| + collisions —
  * never a re-pairing of the whole corpus. Batch-internal pairs are
  * deliberately out of scope (run the batch through the full banded
  * join for those).
  *
  * Banding is [[ImageHash.nearDupPairs]]'s 4×16: exact for hamming ≤ 3
  * by pigeonhole, and for ARRAY signatures the band key carries no
  * frame/window index (the [[VideoHash.nearDupPairsShifted]] posture),
  * so the cross-side probe inherits its temporal-offset tolerance.
  *
  * Scale: the index is 4 small rows per item (plus the signature for
  * verify-in-place), partitionable by (band, bucket); a probe is one
  * equi-join against it + a hamming/offset verify on collision rows
  * only. Reference analogue: none (the reference has no media types);
  * this is the incremental leg the text family has via
  * minhashProbePortable + DedupStream. */
object BandProbe {

  /** The persistent corpus-side index of a SCALAR 64-bit hash column:
    * (id, __h, __band, __bucket) — 4 rows per item, the signature
    * carried so probes verify without a second corpus lookup. */
  def bandIndex(hashed: DataFrame, idCol: String,
                hashCol: String): DataFrame =
    hashed.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).as("__h"))
      .select(col(idCol), col("__h"),
        posexplode(array((0 until 4).map(bi =>
          shiftright(col("__h"), bi * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("__band", "__bucket")))

  /** Probe a batch against a materialized [[bandIndex]]: candidates =
    * cross-side (band, bucket) collisions, verified by hamming.
    * Output: (new_id, corpus_id, hamming ≤ maxHamming) — EXACTLY the
    * cross-side slice of [[ImageHash.nearDupPairs]] between batch and
    * corpus (ProbeSpec pins the equality). */
  def probeIndexed(index: DataFrame, batch: DataFrame, idCol: String,
                   hashCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "banded probing is exact only for maxHamming <= 3")
    bandIndex(batch, idCol, hashCol)
      .select(col(idCol).as("new_id"), col("__h").as("__hn"),
        col("__band"), col("__bucket"))
      .join(index.select(col(idCol).as("corpus_id"),
        col("__h").as("__hc"), col("__band"), col("__bucket")),
        Seq("__band", "__bucket"))
      .select("new_id", "corpus_id", "__hn", "__hc").distinct()
      .withColumn("hamming",
        bit_count(col("__hn").bitwiseXOR(col("__hc"))))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "corpus_id", "hamming")
  }

  /** One-shot convenience: build the corpus index in-plan and probe.
    * For a STANDING corpus, materialize [[bandIndex]] once and call
    * [[probeIndexed]] per batch instead. */
  def probePairs(corpus: DataFrame, batch: DataFrame, idCol: String,
                 hashCol: String, maxHamming: Int): DataFrame =
    probeIndexed(bandIndex(corpus, idCol, hashCol), batch, idCol,
      hashCol, maxHamming)

  /** Cross-side probe for ARRAY signatures (video frame hashes, audio
    * window fingerprints): candidates = any-element band collisions
    * between batch and corpus, verified by the best-offset vote —
    * exactly the cross-side slice of
    * [[VideoHash.nearDupPairsShifted]] (ProbeSpec pins it). Output:
    * (new_id, corpus_id, best_offset, n_overlap, n_match), offsets
    * aligning corpus[i] with batch[i + Δ]. */
  def probePairsShifted(corpus: DataFrame, batch: DataFrame,
                        idCol: String, hashesCol: String,
                        maxHamming: Int, maxOffset: Int,
                        minMatchBp: Int = 8000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "banded probing is exact only for maxHamming <= 3")
    def sigs(df: DataFrame, as: String, hcol: String) = df
      .filter(col(hashesCol).isNotNull && size(col(hashesCol)) > 0)
      .select(col(idCol).as(as), col(hashesCol).as(hcol))
      .transform(Materialize(_)) // band side + verify side
    def banded(s: DataFrame, idAs: String, hcol: String) = s
      .select(col(idAs), explode(col(hcol)).as("__fh"))
      .select(col(idAs),
        posexplode(array((0 until 4).map(bi =>
          shiftright(col("__fh"), bi * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("__band", "__bucket")))
      .distinct()
    val cs = sigs(corpus, "corpus_id", "__ha")
    val bs = sigs(batch, "new_id", "__hb")
    val cands = banded(bs, "new_id", "__hb")
      .join(banded(cs, "corpus_id", "__ha"), Seq("__band", "__bucket"))
      .select("new_id", "corpus_id").distinct()
    VideoHash.scoreShifted(
      cands.join(cs, Seq("corpus_id")).join(bs, Seq("new_id")),
      "corpus_id", "new_id", maxHamming, maxOffset, minMatchBp)
      .select(col("new_id"), col("corpus_id"), col("best_offset"),
        col("n_overlap"), col("n_match"))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Video sequence near-dup — the video leg of the multimodal dedup
  * matrix (text ✓ image ✓ audio ✓): per-frame [[ImageHash]] dHash
  * signatures over REAL decoded Y4M luma planes, paired by banded
  * any-frame candidate generation and verified by aligned per-frame
  * hamming majority.
  *
  * Signature: each frame's luma grid → 9×8 floor-boundary block means
  * → 64-bit dHash ([[ImageHash.dHash64]] — gradient signs, robust to
  * global brightness shifts), giving one `array<long>` per video.
  * All-integer, so signatures and the pairing hash-check end to end.
  *
  * Pairing: candidates = two videos sharing a 16-bit band of the SAME
  * frame index (the [[Dedup.simhashPairs]] machinery lifted to
  * (frame, band) keys); verification joins the two hash arrays and
  * counts aligned frames within `maxHamming`. EXACT for maxHamming ≤
  * 3: a qualifying pair has ≥ 1 aligned frame within hamming 3, and
  * ≤ 3 flipped bits leave one of the 4 bands intact (pigeonhole), so
  * the pair meets in a bucket — never all-pairs.
  *
  * Scale: hashing is per-row decode work (one container walk per
  * video, no shuffle); pairing shuffles 4 small rows per FRAME;
  * verification moves only candidate hash arrays. */
object VideoHash {

  /** Hash a binary Y4M column: appends (decode_ok, width, height,
    * n_frames, fhashes). Frames smaller than the 9×8 hash grid and
    * undecodable payloads report decode_ok = false with null hashes —
    * reported, never dropped. */
  def frameHashes(df: DataFrame, contentCol: String = "content")
      : DataFrame = {
    val session = df.sparkSession
    val outSchema = StructType(
      df.schema.fields.filterNot(_.name == contentCol) ++ Seq(
        StructField("decode_ok", BooleanType, nullable = false),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_frames", IntegerType),
        StructField("fhashes", ArrayType(LongType, containsNull = false))))
    val contentIdx = df.schema.fieldIndex(contentCol)
    val keepIdx = df.schema.fields.indices.filterNot(_ == contentIdx)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val kept = keepIdx.map(r.get)
        val hashed =
          try Multimodal.y4mFrames(r.getAs[Array[Byte]](contentIdx))
            .filter { case (w, h, _) =>
              w >= ImageHash.GridDW && h >= ImageHash.GridDH }
            .map { case (w, h, frames) =>
              val hs = frames.map(px => ImageHash.dHash64(
                ImageHash.blockMeans(px, w, h,
                  ImageHash.GridDW, ImageHash.GridDH))).toArray
              (w, h, hs)
            }
          catch { case scala.util.control.NonFatal(_) => None }
        hashed match {
          case Some((w, h, hs)) =>
            Row.fromSeq(kept ++ Seq(true, w, h, hs.length, hs.toSeq))
          case None =>
            Row.fromSeq(kept ++ Seq(false, null, null, null, null))
        }
      }
    }
    session.createDataFrame(rdd, outSchema)
  }

  /** Aligned near-dup pairs: same frame count, ≥ `minMatchBp` basis
    * points of aligned frames within `maxHamming`. Output: (id_a,
    * id_b, n_frames, n_match), id_a < id_b. */
  def nearDupPairs(hashed: DataFrame, idCol: String, maxHamming: Int,
                   minMatchBp: Int = 8000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "banded candidates are exact only for maxHamming <= 3")
    require(minMatchBp >= 1 && minMatchBp <= 10000)
    val sigs = hashed
      .filter(col("fhashes").isNotNull && size(col("fhashes")) > 0)
      .select(col(idCol), col("fhashes").as("__fhs"))
      .transform(Materialize(_)) // both band sides + both verify sides
    val banded = sigs
      .select(col(idCol), posexplode(col("__fhs"))
        .as(Seq("__fidx", "__fh")))
      .select(col(idCol), col("__fidx"),
        posexplode(array((0 until 4).map(bi =>
          shiftright(col("__fh"), bi * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("__band", "__bucket")))
    val cands = banded.select(col(idCol).as("id_a"), col("__fidx"),
        col("__band"), col("__bucket"))
      .join(banded.select(col(idCol).as("id_b"), col("__fidx"),
        col("__band"), col("__bucket")),
        Seq("__fidx", "__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(sigs.select(col(idCol).as("id_a"), col("__fhs").as("__ha")),
        Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("__fhs").as("__hb")),
        Seq("id_b"))
      .filter(size(col("__ha")) === size(col("__hb")))
      .select(col("id_a"), col("id_b"),
        size(col("__ha")).cast("long").as("n_frames"),
        size(filter(zip_with(col("__ha"), col("__hb"),
          (x, y) => bit_count(x.bitwiseXOR(y)) <= maxHamming),
          m => m)).cast("long").as("n_match"))
      .filter(col("n_match") * 10000 >= lit(minMatchBp) * col("n_frames"))
  }

  /** TEMPORAL-OFFSET-TOLERANT sequence near-dup — the re-encode that
    * trims or pads a few frames, which the aligned [[nearDupPairs]]
    * by construction cannot see. Candidates drop the frame index from
    * the band key (two sequences sharing a 16-bit band of ANY frame,
    * distinct per (id, band, bucket)); verification scores every
    * offset Δ ∈ [-maxOffset, maxOffset] — aligning A[i] with B[i+Δ] —
    * and keeps the best (max aligned-match count, ties to the
    * smallest |Δ|, then the smallest Δ: a total order both engines
    * express). A pair qualifies when the best offset matches ≥
    * `minMatchBp` basis points of its overlap length.
    *
    * EXACT for maxHamming ≤ 3: a qualifying pair has ≥ 1 aligned
    * frame pair within hamming 3 at its best offset, ≤ 3 flipped bits
    * leave one 16-bit band intact (pigeonhole), and the band key no
    * longer requires equal frame indices — so the pair meets in a
    * bucket regardless of the shift. Never all-pairs.
    *
    * The same machinery serves ANY per-item 64-bit signature ARRAY —
    * [[AudioHash.nearDupPairsShifted]] delegates here with sliding
    * PCM-window fingerprints (`hashesCol`).
    *
    * Scale: 4 band rows per frame (deduped per item), hash arrays
    * move only for candidates; verification is candidates ×
    * (2·maxOffset+1) × overlap — bounded integer HOF work per
    * candidate row, no extra shuffle.
    *
    * Output: (id_a, id_b, best_offset, n_overlap, n_match),
    * id_a < id_b. */
  def nearDupPairsShifted(hashed: DataFrame, idCol: String,
                          maxHamming: Int, maxOffset: Int,
                          minMatchBp: Int = 8000,
                          hashesCol: String = "fhashes"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "banded candidates are exact only for maxHamming <= 3")
    require(maxOffset >= 0 && minMatchBp >= 1 && minMatchBp <= 10000)
    val sigs = hashed
      .filter(col(hashesCol).isNotNull && size(col(hashesCol)) > 0)
      .select(col(idCol), col(hashesCol).as("__fhs"))
      .transform(Materialize(_)) // both band sides + both verify sides
    val banded = sigs
      .select(col(idCol), explode(col("__fhs")).as("__fh"))
      .select(col(idCol),
        posexplode(array((0 until 4).map(bi =>
          shiftright(col("__fh"), bi * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("__band", "__bucket")))
      .distinct() // one (id, band, bucket) row however many frames
    val cands = banded.withColumnRenamed(idCol, "id_a")
      .join(banded.withColumnRenamed(idCol, "id_b"),
        Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    scoreShifted(
      cands
        .join(sigs.select(col(idCol).as("id_a"),
          col("__fhs").as("__ha")), Seq("id_a"))
        .join(sigs.select(col(idCol).as("id_b"),
          col("__fhs").as("__hb")), Seq("id_b")),
      "id_a", "id_b", maxHamming, maxOffset, minMatchBp)
  }

  /** The offset-vote verify shared with [[BandProbe]]: `joined`
    * carries (aCol, bCol, __ha, __hb); Δ aligns __ha[i] with
    * __hb[i+Δ]; best = max (n_match, -|Δ|, -Δ); gate on the overlap
    * fraction. Output: (aCol, bCol, best_offset, n_overlap,
    * n_match). */
  private[operators] def scoreShifted(joined: DataFrame, aCol: String,
                                      bCol: String, maxHamming: Int,
                                      maxOffset: Int,
                                      minMatchBp: Int): DataFrame = {
    val scored = joined
      .select(col(aCol), col(bCol), col("__ha"), col("__hb"),
        explode(sequence(lit(-maxOffset), lit(maxOffset))).as("__d"))
      .withColumn("__lo", greatest(lit(0), -col("__d")))
      .withColumn("__hi",
        least(size(col("__ha")), size(col("__hb")) - col("__d")))
      .withColumn("__overlap",
        greatest(lit(0), col("__hi") - col("__lo")))
      // guard the sequence: Spark generates DESCENDING sequences when
      // stop < start, so an empty overlap must short-circuit
      .withColumn("__match", when(col("__overlap") > 0,
        size(filter(
          transform(sequence(col("__lo"), col("__hi") - 1), i =>
            bit_count(element_at(col("__ha"), i + 1).bitwiseXOR(
              element_at(col("__hb"), i + col("__d") + 1)))
              <= lit(maxHamming)),
          m => m))).otherwise(lit(0)))
    scored
      .groupBy(col(aCol), col(bCol))
      .agg(max(struct(col("__match").as("m"),
        (-abs(col("__d"))).as("negabs"), (-col("__d")).as("negd"),
        col("__overlap").as("ov"), col("__d").as("d"))).as("__best"))
      .select(col(aCol), col(bCol),
        col("__best.d").cast("long").as("best_offset"),
        col("__best.ov").cast("long").as("n_overlap"),
        col("__best.m").cast("long").as("n_match"))
      .filter(col("n_overlap") > 0 &&
        col("n_match") * 10000 >= lit(minMatchBp) * col("n_overlap"))
  }
}

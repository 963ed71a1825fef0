package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Integer perceptual image hashing + hamming-banded image near-dup —
  * the image-side counterpart of the text dedup family: aHash and
  * dHash (the classic public average-/difference-hash formulations,
  * e.g. Krawetz's "Looks Like It", 2011) over REAL decoded rasters,
  * kept ALL-INTEGER so the hashes are engine-exact and oracle-able:
  *
  *   - the "resize" is a floor-boundary BLOCK-MEAN downsample
  *     (block b of g spans pixel columns [⌊b·w/g⌋, ⌊(b+1)·w/g⌋)) —
  *     no interpolation floats; block mean = sum div count;
  *   - aHash (8×8): bit i set iff mean_i > (Σ means) div 64;
  *   - dHash (9×8): bit r·8+c set iff mean(r,c) > mean(r,c+1) —
  *     gradient direction, robust to global brightness shifts;
  *   - multi-band rasters fold to integer luma
  *     ⌊(299·R + 587·G + 114·B) / 1000⌋ (ITU-R BT.601 coefficients,
  *     integer-scaled); single-band rasters use the sample directly.
  *
  * Near-dup pairing bands the 64-bit dHash into 4×16 bits (the
  * [[Dedup.simhashPairs]] machinery): a pair within hamming ≤ 3
  * shares at least one intact band (pigeonhole), so the banded join
  * is EXACT for maxHamming ≤ 3 and never does all-pairs.
  *
  * Scale: hashing is embarrassingly parallel per-row decode work (one
  * raster pass per image, mapPartitions, no shuffle); pairing
  * shuffles 4 small (band, bucket) rows per image. */
object ImageHash {

  val GridA = 8 // aHash grid (8x8 = 64 bits)
  val GridDW = 9 // dHash grid width (9 cols -> 8 comparisons/row)
  val GridDH = 8

  /** Lossless grayscale PNG from a row-major 8-bit pixel grid —
    * the encode half of the portable-payload oracle posture (the
    * [[Multimodal.encodeWav]] pattern): PNG is lossless, so the
    * decoded raster is bit-equal to `pixels` and a SQL oracle can
    * replay the hash math from the generator directly. */
  def encodeGrayPng(pixels: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, "pixels must be w*h row-major")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, pixels(y * w + x) & 0xFF)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode to an integer luma grid: (width, height, row-major luma).
    * None when no installed reader accepts the bytes — including
    * readers that throw RuntimeExceptions on corrupt/hostile payloads
    * (ImageIO plugins raise IllegalArgument/ArrayIndexOutOfBounds on
    * malformed headers; a web corpus WILL contain such bytes, and one
    * of them must degrade to decode_ok=false, not kill the job).
    * Indexed-color rasters (palette PNG/GIF) carry palette INDICES in
    * the raster — two visually identical images with permuted palettes
    * would hash unrelated — so they resolve through the color model to
    * RGB before the BT.601 fold. */
  def decodeLuma(content: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      Option(img).map { bi =>
        val raster = bi.getRaster
        val (w, h, bands) = (bi.getWidth, bi.getHeight, raster.getNumBands)
        val indexed = bi.getColorModel
          .isInstanceOf[java.awt.image.IndexColorModel]
        val icm =
          if (indexed)
            bi.getColorModel.asInstanceOf[java.awt.image.IndexColorModel]
          else null
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) =
              if (indexed) {
                val i = raster.getSample(x, y, 0)
                (299 * icm.getRed(i) + 587 * icm.getGreen(i) +
                  114 * icm.getBlue(i)) / 1000
              } else if (bands >= 3)
                (299 * raster.getSample(x, y, 0) +
                  587 * raster.getSample(x, y, 1) +
                  114 * raster.getSample(x, y, 2)) / 1000
              else raster.getSample(x, y, 0)
            x += 1
          }
          y += 1
        }
        (w, h, out)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Floor-boundary block means over a luma grid: gw×gh longs in
    * row-major block order, mean = sum div count. Requires w ≥ gw and
    * h ≥ gh (every block nonempty). */
  private[graft] def blockMeans(px: Array[Int], w: Int, h: Int,
                                gw: Int, gh: Int): Array[Long] = {
    val out = new Array[Long](gw * gh)
    var by = 0
    while (by < gh) {
      val y0 = by * h / gh; val y1 = (by + 1) * h / gh
      var bx = 0
      while (bx < gw) {
        val x0 = bx * w / gw; val x1 = (bx + 1) * w / gw
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += px(y * w + x); x += 1 }
          y += 1
        }
        out(by * gw + bx) = s / ((y1 - y0).toLong * (x1 - x0))
        bx += 1
      }
      by += 1
    }
    out
  }

  /** aHash: bit i (block row-major) set iff mean_i > (Σ means) div 64. */
  private[graft] def aHash64(means: Array[Long]): Long = {
    var tot = 0L
    means.foreach(tot += _)
    val avg = tot / means.length
    var h = 0L
    var i = 0
    while (i < means.length) {
      if (means(i) > avg) h |= (1L << i)
      i += 1
    }
    h
  }

  /** dHash over a 9×8 mean grid: bit r·8+c set iff m(r,c) > m(r,c+1). */
  private[graft] def dHash64(means: Array[Long]): Long = {
    var h = 0L
    var r = 0
    while (r < GridDH) {
      var c = 0
      while (c < GridDW - 1) {
        if (means(r * GridDW + c) > means(r * GridDW + c + 1))
          h |= (1L << (r * (GridDW - 1) + c))
        c += 1
      }
      r += 1
    }
    h
  }

  /** Hash a binary image column: per row, decode + two block-mean
    * passes. Output keeps every non-content column and appends
    * (decode_ok, width, height, ahash, dhash); undecodable payloads
    * and images smaller than the hash grids report decode_ok = false
    * with null hashes — coverage is reported, never dropped. */
  def hashes(df: DataFrame, contentCol: String = "content")
      : DataFrame = {
    val session = df.sparkSession
    val outSchema = StructType(
      df.schema.fields.filterNot(_.name == contentCol) ++ Seq(
        StructField("decode_ok", BooleanType, nullable = false),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("ahash", LongType),
        StructField("dhash", LongType)))
    val contentIdx = df.schema.fieldIndex(contentCol)
    val keepIdx = df.schema.fields.indices.filterNot(_ == contentIdx)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val kept = keepIdx.map(r.get)
        decodeLuma(r.getAs[Array[Byte]](contentIdx)) match {
          case Some((w, h, px)) if w >= GridDW && h >= GridDH =>
            val a = aHash64(blockMeans(px, w, h, GridA, GridA))
            val d = dHash64(blockMeans(px, w, h, GridDW, GridDH))
            Row.fromSeq(kept ++ Seq(true, w, h, a, d))
          case _ =>
            Row.fromSeq(kept ++ Seq(false, null, null, null, null))
        }
      }
    }
    session.createDataFrame(rdd, outSchema)
  }

  /** Banded hamming near-dup pairs over a 64-bit hash column — EXACT
    * for maxHamming ≤ 3 (4 bands × 16 bits: ≤ 3 flipped bits leave at
    * least one band intact, so every qualifying pair meets in a
    * bucket; the final bit_count filter discards band-collision false
    * positives). Output: (id_a, id_b, hamming), id_a < id_b. */
  def nearDupPairs(hashed: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "banded pairing is exact only for maxHamming <= 3")
    val sigs = hashed.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).as("__ph"))
      .transform(Materialize(_)) // both sides of the band join
    val banded = sigs.select(col(idCol), col("__ph"),
      posexplode(array((0 until 4).map(bi =>
        shiftright(col("__ph"), bi * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bucket")
    val aSide = banded.select(col(idCol).as("id_a"),
      col("__ph").as("__ph_a"), col("__band"), col("__bucket"))
    val bSide = banded.select(col(idCol).as("id_b"),
      col("__ph").as("__ph_b"), col("__band"), col("__bucket"))
    aSide.join(bSide, Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__ph_a", "__ph_b").distinct()
      .withColumn("hamming",
        bit_count(col("__ph_a").bitwiseXOR(col("__ph_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}

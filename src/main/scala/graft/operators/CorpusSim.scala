package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Corpus-LEVEL similarity: how much do two sources/snapshots/dumps
  * overlap, before any doc-level pairing is attempted? The standard
  * curation question ("is this new crawl mostly a re-crawl?") answered
  * with bottom-k set sketches (KMV — Bar-Yossef et al., RANDOM'02;
  * Beyer et al., SIGMOD'07 for the union/Jaccard estimator): per
  * group, keep the k smallest distinct md5 shingle hashes. Sketches
  * union-merge exactly into the union's sketch, so for a pair (A, B)
  * the k smallest of sketch(A) ∪ sketch(B) are EXACTLY the k smallest
  * of A ∪ B, and the fraction of them present in both sides estimates
  * Jaccard with error O(1/√k) — independent of corpus size.
  *
  * Scale shape: one scan projecting shingle hashes, ONE partial-agg
  * shuffle of bounded (≤ k-long) [[graft.functions.Sketches.BottomK]]
  * states, then a model-sized driver computation over |groups|² pairs
  * of k-long arrays. Nothing doc×doc, nothing gram×gram; 100 TB of
  * text reduces to |groups| · k longs before any pairing happens.
  *
  * Everything is md5-derived and integer-exact, so the whole pipeline
  * — sketches AND pairwise estimates — is engine-reproducible and
  * oracle-checkable (DuckDB twin in LlmPack's q106).
  *
  * Reference context: diseasystore has no corpus-diff tool; its
  * age/stratification diagnostics are row-level. This is the
  * training-data counterpart of those diagnostics at dump granularity.
  */
object CorpusSim {

  /** Portable 32-bit hash of a word n-gram shingle (same construction
    * as [[Dedup.portableSigs]]: md5 prefix, so DuckDB reproduces it as
    * `('0x'||substr(md5(s),1,8))::BIGINT`). */
  private[graft] def gramHash(text: org.apache.spark.sql.Column, n: Int) =
    transform(Dedup.shingleArray(text, n), g =>
      conv(substring(md5(g), 1, 8), 16, 10).cast("long"))

  /** Per-group bottom-k shingle sketch: (groupCol, sketch ARRAY<BIGINT>
    * ascending, ≤ k distinct hashes). */
  def bottomKSketches(df: DataFrame, groupCol: String, textCol: String,
                      n: Int, k: Int): DataFrame =
    df.select(col(groupCol), explode(gramHash(col(textCol), n)).as("__gh"))
      .groupBy(col(groupCol))
      .agg(graft.functions.Sketches.bottomK(col("__gh"), k).as("sketch"))

  /** Pairwise corpus similarity for every unordered group pair:
    * (source_a, source_b, sketch_size, n_both, jaccard_bp) where
    * `sketch_size` = |k smallest of A ∪ B|, `n_both` = how many of
    * those fall in BOTH sketches, and `jaccard_bp` = n_both·10⁴ div
    * sketch_size — the resemblance estimate in integer basis points.
    * Group count is assumed model-sized (sources, dumps, shards — the
    * same contract as [[Profile.histogram]]); the quadratic runs on the
    * driver over k-long arrays, never in the cluster. */
  def corpusSimilarity(df: DataFrame, groupCol: String, textCol: String,
                       n: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    val sketches: Array[(String, Set[Long], Seq[Long])] =
      bottomKSketches(df, groupCol, textCol, n, k).collect()
        .map { r =>
          val s = r.getSeq[Long](1)
          (r.get(0).toString, s.toSet, s)
        }
        .sortBy(_._1)
    val rows = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield {
      val (ga, sa, _) = sketches(i)
      val (gb, sb, _) = sketches(j)
      val (size, nBoth, bp) = pairJaccard(sa, sb, k)
      Row(ga, gb, size, nBoth, bp)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source_a",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source_b",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("sketch_size",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_both",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("jaccard_bp",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Corpus drift SERIES: resemblance of every pair of CONSECUTIVE
    * snapshots (day number, dump id, ingest shard — any numeric
    * sequence where `snap` and `snap+1` are adjacent). The batch twin
    * of [[graft.streaming.SketchStream]]: per-snapshot bottom-k KMV
    * sketches (one partial-agg shuffle of 8-byte gram hashes), then
    * [[pairJaccard]] on the driver over model-sized k-long arrays.
    * KMV over the portable md5 gram hash is DETERMINISTIC, so the
    * whole series — sketches, union sizes, overlap counts — is exact
    * and oracle-checkable. Output: (snap_prev, snap, sketch_size,
    * n_both, jaccard_bp). */
  def driftSeries(df: DataFrame, snapCol: String, textCol: String,
                  n: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    val sketches: Array[(Long, Set[Long])] =
      bottomKSketches(
          df.select(col(snapCol).cast("long").as("__snap"), col(textCol)),
          "__snap", textCol, n, k)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    val byId = sketches.toMap
    val rows = sketches.map(_._1).sorted.toIndexedSeq.flatMap { s =>
      byId.get(s + 1L).map { nxt =>
        val (size, nBoth, bp) = pairJaccard(byId(s), nxt, k)
        Row(s, s + 1L, size, nBoth, bp)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      Seq("snap_prev", "snap", "sketch_size", "n_both", "jaccard_bp")
        .map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Resemblance of two bottom-k sketches: (sketch_size, n_both,
    * jaccard_bp). The k smallest of the union of two sketches are
    * EXACTLY the union corpus's sketch, so this estimator composes
    * across any grouping — pairwise sources, consecutive stream
    * windows ([[graft.streaming.SketchStream]]), snapshot diffs. */
  /** Exact total-variation distance between slice distributions over
    * an integer bucket column, in floored basis points — the
    * DISTRIBUTION-drift audit next to the content-leakage matrix
    * ([[TextAnalysis.crossSplitLeakage]]) and the sketch-based
    * content drift ([[driftSeries]]): TV(P,Q) = ½·Σ_b |P(b) − Q(b)|,
    * computed cross-multiplied so every intermediate is an integer:
    * Σ |c_a·N_b − c_b·N_a| · 10⁴ div (2·N_a·N_b). 0 bp = identical
    * histograms, 10000 bp = disjoint support.
    *
    * Scale: one (slice, bucket) count aggregate; slice totals are a
    * slice-count-sized collect (model-sized — slices are splits /
    * snapshots); each ordered pair is a bucket-keyed FULL OUTER join
    * of two filtered count frames plus one abs-sum — products ride
    * decimal(38,0) (count·total overflows a long at warehouse scale)
    * with an integral div back to a long. No windows, no text
    * movement. */
  def totalVariationBp(df: DataFrame, sliceCol: String,
                       bucketCol: String): DataFrame = {
    val spark = df.sparkSession
    val cnt = df
      .select(col(sliceCol).cast("string").as("__s"),
        col(bucketCol).cast("long").as("__b"))
      .groupBy(col("__s"), col("__b")).agg(count(lit(1)).as("__c"))
      .transform(Materialize(_)) // per-pair filtered probes + totals
    val totals = cnt.groupBy(col("__s")).agg(sum(col("__c")).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(totals.size >= 2, "need at least two slices")
    val slices = totals.keys.toSeq.sorted
    val dec = "decimal(38,0)"
    val perPair = for {
      i <- slices.indices; j <- (i + 1) until slices.size
    } yield {
      val (sa, sb) = (slices(i), slices(j))
      val (na, nb) = (totals(sa), totals(sb))
      val a = cnt.filter(col("__s") === sa)
        .select(col("__b"), col("__c").as("__ca"))
      val b = cnt.filter(col("__s") === sb)
        .select(col("__b"), col("__c").as("__cb"))
      a.join(b, Seq("__b"), "full_outer")
        .agg(sum(expr(
          s"abs(cast(coalesce(__ca, 0L) as $dec) * ${nb}L - " +
            s"cast(coalesce(__cb, 0L) as $dec) * ${na}L)")).as("__d"))
        .select(lit(sa).as("slice_a"), lit(sb).as("slice_b"),
          expr(s"cast(__d * 10000L div (cast(${na}L as $dec) * 2L * ${nb}L) as long)")
            .as("tv_bp"),
          lit(na).as("n_a"), lit(nb).as("n_b"))
    }
    perPair.reduce(_ unionByName _)
  }

  def pairJaccard(sa: Set[Long], sb: Set[Long], k: Int): (Long, Long, Long) = {
    val merged = (sa ++ sb).toSeq.sorted.take(k)
    val nBoth = merged.count(h => sa.contains(h) && sb.contains(h)).toLong
    val size = merged.size.toLong
    (size, nBoth, if (size == 0) 0L else nBoth * 10000L / size)
  }
}

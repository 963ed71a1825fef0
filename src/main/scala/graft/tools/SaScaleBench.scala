package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, SuffixDedup}

/** Isolated scale benchmark for the ExactSubstr block pre-filter and
  * large-mode doubling (SuffixDedup.duplicatedSpans) — the measurement
  * the shipped datasets cannot provide: sf0.1's SA slices peak around
  * 135k tokens, far below BlockFilterMinPos (2M) and BroadcastTiedMax
  * (4M), so the filter-ON branch and the m=2 doubling path never
  * execute in the recorded bench (r14 verdict, "What's wrong #1").
  *
  * The corpus is synthetic and fully deterministic (no wall clock, no
  * RNG): doc `d` holds `docLen` tokens `w<xxhash64(seed,d,p) mod V>` —
  * a V-word vocabulary, so SINGLE tokens repeat heavily (level-0 tied
  * set ≈ every position, exercising large mode whenever nPos >
  * BroadcastTiedMax) while minLen-gram windows are almost surely
  * unique (V^4 ≫ nPos), matching the natural-text property the filter
  * exploits. Every `passEvery`-th doc additionally carries one of
  * `passDistinct` planted `passLen`-token passages — the cross-doc
  * duplicate runs the SA must find, ~passLen/(passEvery·docLen) of all
  * positions.
  *
  * Output: ONE JSON line with the spans wall time, row count and an
  * order-insensitive row digest — run once with SA_SCALE_MODE=off and
  * once with =on in FRESH JVMs; equal digests prove the two paths
  * computed the same answer while the wall times measure the filter.
  * Env knobs: SA_SCALE_MODE (on|off|auto), SA_SCALE_NDOCS,
  * SA_SCALE_DOCLEN, SA_SCALE_VOCAB, SA_SCALE_PASS_EVERY,
  * SA_SCALE_PASS_LEN, SA_SCALE_PASS_DISTINCT, SPARK_GRAFT_CPUS.
  * SPARK_GRAFT_SA_DEBUG=1 adds per-level tied counts and the
  * kept-position cut to stderr.
  */
object SaScaleBench {
  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SA_SCALE_MODE", "auto")
    val nDocs = sys.env.getOrElse("SA_SCALE_NDOCS", "40000").toLong
    val docLen = sys.env.getOrElse("SA_SCALE_DOCLEN", "200").toInt
    val vocab = sys.env.getOrElse("SA_SCALE_VOCAB", "50000").toLong
    val passEvery = sys.env.getOrElse("SA_SCALE_PASS_EVERY", "30").toLong
    val passLen = sys.env.getOrElse("SA_SCALE_PASS_LEN", "64").toInt
    val passDistinct =
      sys.env.getOrElse("SA_SCALE_PASS_DISTINCT", "8").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      transform(sequence(lit(1), lit(docLen)),
        p => concat(lit("w"),
          pmod(xxhash64(lit(42L), col("id"), p), lit(vocab)))).as("ta"))
    val passage = transform(sequence(lit(0), lit(passLen - 1)),
      i => concat(lit("p"),
        pmod((col("doc_id") / lit(passEvery)).cast("long"),
          lit(passDistinct)),
        lit("_"), i))
    val corpus = base.select(col("doc_id"),
        array_join(when(col("doc_id") % passEvery === 0,
          concat(col("ta"), passage)).otherwise(col("ta")), " ")
          .as("text"))
      .transform(Materialize(_)) // materialize BEFORE the timed region
    val nPos = corpus.select(
      sum(size(split(col("text"), "\\s+")))).head.getLong(0)

    val threshold = mode match {
      case "on"  => 1L
      case "off" => Long.MaxValue
      case _     => SuffixDedup.BlockFilterMinPos
    }
    val t0 = System.nanoTime()
    val spans = SuffixDedup.duplicatedSpans(
      corpus, "doc_id", "text", minLen = 4, maxLcp = 512,
      blockFilterMinPos = threshold)
    // pmod keeps each term < 1e9 so the ANSI long sum cannot overflow
    // (≤ ~9e9 rows before 2^63)
    val row = spans.agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(col("doc_a"), col("pos_a"),
          col("doc_b"), col("pos_b"), col("lcp")),
        lit(1000000007L))), lit(0L)).as("digest")).head
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"""{"metric":"sa_scale","mode":"$mode","sec":${
      math.round(secs * 1000) / 1000.0},"rows":${row.getLong(0)},"digest":${
      row.getLong(1)},"n_pos":$nPos,"n_docs":$nDocs,"vocab":$vocab,"pass_every":$passEvery,"pass_len":$passLen}""")
  }
}

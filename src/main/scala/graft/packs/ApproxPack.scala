package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.operators.{Dedup, Ivf, Materialize, Multimodal, Pq, Similarity,
  TextAnalysis}

/** Approximate / hash-based operators. Deliberately NO oracle SQL: the
  * algorithms are not reasonably SQL-expressible, so the driver records
  * rows-only checks; their correctness is covered by ScalaTest specs
  * (recall against the exact operators on planted duplicates). */
object ApproxPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // native kernels addressed from SQL text: per-language corpus stats
    // over minhash/ngram/simhash outputs (rows-only: the kernels are not
    // DuckDB-reproducible; SqlPackSpec proves parity vs the DataFrame
    // formulation, NativeExprSpec vs the HOF twins)
    "q51_sql_native_fns" -> ((s, dir) => {
      graft.GraftExtensions.registerInto(s)
      Tables.load(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        """SELECT lang,
          |  count(*) AS n_docs,
          |  sum(size(graft_ngrams(split(trim(text), '\\s+'), 3))) AS n_shingles,
          |  sum(element_at(graft_minhash(
          |    graft_ngrams(split(trim(text), '\\s+'), 3), 16), 1)) AS sig1_sum,
          |  sum(bit_count(graft_simhash(
          |    graft_ngrams(split(trim(text), '\\s+'), 2)))) AS simhash_bits
          |FROM documents
          |GROUP BY lang""".stripMargin)
    }),

    "q29_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.load(s, dir, "documents"), "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.5)),

    // q204_cmh moved to StatsPack: Eval.cmhExactFp (per-stratum 10^9
    // fixed-point floors instead of the ~211-bit exact-rational fold)
    // made the statistic hash-oracleable in r12. The exact-rational
    // Eval.cmh stays for precision-critical use, parity spec-pinned.

    "q30_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        maxHamming = 16)),

    "q31_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", pmod(col("vec_id"), lit(50)) === 0,
        k = 10, dim = 64, bands = 8, rowsPerBand = 4)),

    // graph-refined ANN: per-IVF-cluster HNSW graphs built inside
    // mapPartitions, queries routed to nprobe clusters — rows-only by
    // the ANN-recall family contract (float cosine + approximate
    // recall guarantee; HnswSpec pins recall ≥ 0.9, determinism, and
    // the routing bound). SF-INVARIANT panel: vec_id % 100 = 0, ≤ 2000
    "q270_hnsw_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings").transform(Materialize(_))
      val model = graft.operators.Ivf.train(
        emb, "vec_id", "embedding", k = 16, iters = 2)
      graft.operators.Hnsw.topK(emb, "vec_id", "embedding",
        pmod(col("vec_id"), lit(100)) === 0 && col("vec_id") <= 2000,
        k = 10, model, nprobe = 4)
    }),

    "q40_ivf_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val model = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      Ivf.topK(emb, "vec_id", "embedding",
        pmod(col("vec_id"), lit(50)) === 0, k = 10, model, nprobe = 4)
    }),

    "q32_fingerprint" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
        .select(col("doc_id"), col("f.min_hash").as("min_hash"),
          col("f.distinct_grams").as("distinct_grams"))),

    "q33_multimodal" -> ((s, dir) => {
      // documents' bytes stand in for opaque media payloads: the schema,
      // batching and partition-parallel decode plumbing are the real thing
      val assets = Tables.load(s, dir, "documents").select(
        col("doc_id").as("asset_id"),
        lit("text").as("kind"),
        encode(col("text"), "UTF-8").as("content"),
        struct(lit(0).as("width"), lit(0).as("height"),
          col("source").as("format")).as("meta"))
      Multimodal.extractFeatures(assets, dim = 8)
        .select(col("asset_id"), col("kind"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 8).as("f7"))
    }),

    // q71_bm25 moved to ScalePack in r11 and q217_rm3 in r12: the
    // exact-integer profile (PortableLn idf + fixed-point relevance
    // model + cleared-denominator interpolation weights) made both
    // hash-oracleable. The float bm25TopK/rm3TopK stay API-covered
    // through FusionSpec/TextIndexSpec parity batteries.

    // HyperLogLog++ distinct profile: sketch-based → rows-only;
    // ScaleOpsSpec asserts the rsd error bound against exact counts
    "q72_approx_distinct" -> ((s, dir) =>
      graft.operators.Profile.approxDistinct(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_partkey")),

    // Greenwald-Khanna quantile sketch profile: rows-only (long format);
    // ScaleOpsSpec bounds the rank error against exact percentiles
    "q77_quantiles" -> ((s, dir) =>
      graft.operators.Profile.quantiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.99))),

    // IVF-PQ: coarse k-means pruning + product-quantized ADC scoring —
    // float scores → rows-only; PqSpec proves ADC-score exactness vs the
    // reconstruction and recall bounds vs exact inner-product top-k
    "q78_ivf_pq" -> ((s, dir) => {
      // cache: the two trainers make several passes each (Lloyd
      // iterations + per-subspace codebooks) over the same vectors.
      // Codebooks train on a deterministic 1/4 hash-sample — at corpus
      // scale a quantizer is always fit on a sample, and the k-means
      // passes are the dominant cost of this query
      val emb = Tables.load(s, dir, "embeddings").transform(Materialize(_))
      val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
      val pq = Pq.train(sample, "vec_id", "embedding", m = 8, ksub = 16,
        iters = 2)
      val coarse = Ivf.train(sample, "vec_id", "embedding", k = 16,
        iters = 2)
      Pq.ivfTopKAdc(emb, "vec_id", "embedding",
        pmod(col("vec_id"), lit(50)) === 0, k = 10, coarse, pq, nprobe = 4)
    }),

    // residual IVF-PQ: codes quantize x − centroid (far more
    // concentrated than raw vectors → tighter error for the same
    // budget); score = ⟨q,centroid⟩ offset + residual ADC lookups
    "q94_ivf_pq_residual" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings").transform(Materialize(_))
      val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
      val coarse = Ivf.train(sample, "vec_id", "embedding", k = 16,
        iters = 2)
      val pq = Pq.trainResidual(sample, "vec_id", "embedding", coarse,
        m = 8, ksub = 16, iters = 2)
      Pq.ivfTopKAdcResidual(emb, "vec_id", "embedding",
        pmod(col("vec_id"), lit(50)) === 0, k = 10, coarse, pq,
        nprobe = 4)
    }),

    // OPQ: eigenvalue-allocated PCA init + Procrustes-refined rotation
    // before PQ — same (m, ksub) budget, tighter quantization. Float
    // scores → rows-only; PqSpec proves the rotation stays orthonormal
    // and recall >= plain PQ on subspace-straddling data
    "q99_opq_topk" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings").transform(Materialize(_))
      val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(8)) === 0)
      val opq = Pq.trainOpq(sample, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 2, opqIters = 2)
      Pq.topKAdcOpq(emb, "vec_id", "embedding",
        pmod(col("vec_id"), lit(50)) === 0, k = 10, opq)
    }),

    // SemDeDup: coarse k-means clusters, then drop any vector with a
    // lower-id clustermate within 0.9 cosine — float similarity inside
    // → rows-only; SimilaritySpec proves the verdicts equal a
    // brute-force within-cluster scan and measures recall vs the
    // global pair set
    "q87_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings").transform(Materialize(_))
      val model = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      Similarity.semanticDedup(emb, "vec_id", "embedding", model,
        threshold = 0.9)
    }),

    // q102_bigram_ppl moved to LlmPack: scoreWithBucketsExactFp +
    // PortableLn made the surprisal sums hash-oracleable in r11. The
    // float scoreWithBuckets stays API-covered via q123's per-group
    // variant and the LangModelSpec parity battery.

    // q104_hybrid_topk moved to ScalePack: hybridTopKExactFp (integer
    // BM25 ∪ int8 integer-MIPS, RRF-fused) made it hash-oracleable in
    // r12. The float-cosine hybridTopK stays spec-covered (FusionSpec
    // driver-recomputed fusion parity).

    // q108_dsir_select moved to LlmPack: importanceSelectExactFp +
    // PortableLn made the likelihood-ratio weights hash-oracleable in
    // r11. The float importanceSelect stays spec-covered
    // (LangModelSpec brute-force parity).

    // q123_domain_ce_buckets moved to LlmPack:
    // scoreWithBucketsByExactFp + PortableLn made the per-group cuts
    // hash-oracleable in r12. The float scoreWithBucketsBy stays
    // spec-covered (LangModelSpec per-group monotonicity,
    // constant-group ≡ global parity, and exactFp bucket parity).

    // Gopher-style compression-ratio quality signal: raw-deflate byte
    // count per doc via the native kernel — zlib bytes are JVM-
    // deterministic but not engine-portable → rows-only; NativeExprSpec
    // pins SQL round-trip, null handling, and the entropy ordering
    "q124_compression_signal" -> ((s, dir) =>
      graft.operators.TextAnalysis.compressionSignals(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // lexical hashed-bag-of-words LR quality filter: trained to pick
    // out the 'en' slice by word choice, exact top-25% kept through
    // the Selection cutoff — float margins → rows-only; ClassifierSpec
    // pins separation, loss descent, and exact-fraction semantics.
    // 6 single-action GD iterations (loss+bias+grad fused into one
    // groupBy collect) separate the planted slice comfortably
    "q128_lexical_filter" -> ((s, dir) =>
      graft.operators.Classifier.filterByQuality(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        labelPred = col("lang") === "en", keepBp = 2500,
        dim = 1024, iters = 6, lr = 2.0, seed = "q128")),

    // Johnson–Lindenstrauss sign projection 64→16 dims ahead of ANN;
    // floats → rows-only (vector stringified — pandas cannot order
    // array cells); ClassifierSpec pins geometry and determinism
    "q129_jl_project" -> ((s, dir) =>
      graft.operators.Similarity.randomProject(
          Tables.load(s, dir, "embeddings"), "embedding",
          k = 16, dim = 64, seed = "q129")
        .select(col("vec_id"),
          concat_ws(" ", transform(col("projected"),
            v => round(v, 6).cast("string"))).as("projected")))
  )

  def oracleSql: Map[String, String] = Map.empty
}

package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.operators.{Chunking, Dedup, Markup, Materialize, Similarity,
  Splits, TextAnalysis}

/** LLM-training-data pipeline operators over the documents/embeddings
  * tables: dedup, similarity search, text analysis. */
object LlmPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")),

    "q21_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(Tables.load(s, dir, "documents"),
        "doc_id", "text", Seq("lang"), n = 3, threshold = 0.5)),

    "q22_dedup_embedding" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.4)),

    "q23_ann_topk" -> ((s, dir) =>
      Similarity.topK(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", pmod(col("vec_id"), lit(50)) === 0, k = 10)),

    "q24_token_count" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))),

    "q25_quality_score" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_words"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    "q26_lang_id" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_id"))),

    "q35_dataset_split" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        Splits.bucket(col("doc_id")).as("bucket"),
        Splits.assign(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))),

    "q36_chunking" -> ((s, dir) =>
      Chunking.chunk(Tables.load(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 16)),

    "q37_scrub" -> ((s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"), Chunking.scrub(col("text")).as("scrubbed"))),

    "q38_top_vocab" -> ((s, dir) =>
      Chunking.topVocab(Tables.load(s, dir, "documents"), "text", k = 25)),

    "q39_stratified_sample" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(Splits.stratifiedSample(col("doc_id"), 20))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))),

    // Gopher-style repetition quality signals (modal bigram, distinct
    // fractions) — all-integer output.
    "q45_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // Benchmark-contamination scan: corpus docs sharing >= 3 distinct
    // trigrams with the pseudo-benchmark subset (doc_id % 97 == 0).
    "q46_contamination" -> ((s, dir) =>
      TextAnalysis.benchmarkOverlap(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        pmod(col("doc_id"), lit(97)) === 0, n = 3, minOverlap = 3)),

    // cross-split 3-gram leakage matrix over the portable hash split:
    // per ordered split pair, distinct shared gram hashes + documents
    // of the target split touching any of them — all exact integers
    "q135_split_leakage" -> ((s, dir) =>
      TextAnalysis.crossSplitLeakage(
        Tables.load(s, dir, "documents")
          .withColumn("split", Splits.assign(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10))),
        "doc_id", "text", "split")),

    // exact total-variation drift of the doc-length distribution
    // between splits (the DISTRIBUTION-drift audit next to q135's
    // content leakage): cross-multiplied integer arithmetic, 0 bp =
    // identical histograms
    "q144_dist_drift" -> ((s, dir) =>
      graft.operators.CorpusSim.totalVariationBp(
        Tables.load(s, dir, "documents")
          .withColumn("split", Splits.assign(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)))
          .withColumn("len_bucket", expr("length(text) div 100")),
        "split", "len_bucket")),

    // End-to-end training-data pipeline: dedup -> quality filter ->
    // train split -> chunk -> per-language stats. One DataFrame flow.
    "q42_pipeline" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val canonical = Dedup.exact(docs, "doc_id", "text")
        .filter(col("is_dup") === 0).select("doc_id")
      val train = docs
        .join(canonical, Seq("doc_id"), "left_semi")
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .filter(Splits.assign(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)) === "train")
      Chunking.chunk(train, "doc_id", "text", window = 32, stride = 16)
        .join(train.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"))
    }),

    // Winnowing (SIGMOD'03) with engine-portable md5 gram hashes — the
    // exact fingerprint sets are DuckDB-reproducible, unlike q32's
    // murmur3 variant.
    "q49_winnow" -> ((s, dir) =>
      TextAnalysis.winnowStats(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 8, w = 4)),

    // The whole MinHash+LSH pipeline — signatures, banding, candidate
    // pairs, match scores — on portable md5 hashing, hash-checked
    // against DuckDB (q29 keeps the faster murmur kernel, rows-only).
    "q52_lsh_portable" -> ((s, dir) =>
      Dedup.minhashLshPortable(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 3, numPerms = 8, bands = 4, minMatch = 4)),

    // portable 32-bit simhash signatures, hash-checked per doc (q30
    // keeps the 64-bit xxhash64 kernel for pairing, rows-only)
    "q53_simhash_portable" -> ((s, dir) =>
      Dedup.simhashPortable(Tables.load(s, dir, "documents"),
        "doc_id", "text")),

    // near-dup clusters over the portable LSH candidate pairs: each doc
    // labelled with its component's canonical (minimum) id
    "q63_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(
        Dedup.minhashLshPortable(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, numPerms = 8, bands = 4, minMatch = 4),
        "id_a", "id_b")),

    // sequence packing: contiguous token-bin assignment per language,
    // batch manifest = docs and tokens per bin
    "q56_packing" -> ((s, dir) =>
      Chunking.packBins(Tables.load(s, dir, "documents"),
        "doc_id", "text", "lang", binTokens = 512)
        .groupBy("lang", "bin_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"))),

    // exact window-duplication accounting (word 5-grams, with
    // multiplicity): per-doc total / duplicated / distinct-duplicated
    // window counts — the exact-substring dedup signal
    "q80_dup_windows" -> ((s, dir) =>
      Dedup.duplicatedWindows(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 5)),

    // duplicated-SPAN detection: maximal runs of consecutive duplicated
    // 5-gram windows per doc — the unit exact-substring dedup excises
    "q82_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 5, minRun = 4)),

    // span EXCISION: cut every >=4-window duplicated run out of the
    // text — the transformation q80/q82 only measure; the cleaned text
    // itself is hash-checked against the oracle's reconstruction
    "q89_excise_spans" -> ((s, dir) =>
      Dedup.exciseSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 5, minRun = 4)),

    // END-TO-END curation pipeline, every stage integer/hash-exact and
    // the WHOLE CHAIN hash-verified against an independent DuckDB
    // reconstruction: excise duplicated spans → keep docs with >= 10
    // surviving words → portable-LSH near-dup drop (higher id loses) on
    // the CLEANED text → language-weighted acceptance sampling → pack
    // into 512-token bins per language; output is the bin manifest
    "q98_pipeline_exact" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // checkpointed: the LSH-signature branch and the anti-join/
      // packing branch both read it, and the excision subtree
      // (corpus-wide gram shuffle + run window + reconstruction) is
      // the dominant cost — without this it executes twice.
      val cleaned = Dedup.exciseSpans(docs, "doc_id", "text",
          n = 5, minRun = 4)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .filter(col("n_words") - col("n_removed") >= 10)
        .select(col("doc_id"), col("lang"),
          col("clean_text").as("text"))
        .transform(Materialize(_))
      val dupIds = Dedup.minhashLshPortable(cleaned, "doc_id", "text",
          n = 3, numPerms = 8, bands = 4, minMatch = 6)
        .select(col("id_b").as("doc_id")).distinct()
      val sampled = graft.operators.Splits.acceptByWeight(
        cleaned.join(dupIds, Seq("doc_id"), "left_anti"),
        "doc_id",
        when(col("lang") === "en", lit(10000)).otherwise(lit(7500)),
        seed = "q98")
      Chunking.packBins(sampled, "doc_id", "text", "lang",
          binTokens = 512)
        .groupBy("lang", "bin_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"))
    }),

    // corpus bigram novelty: share of each doc's distinct bigram
    // vocabulary that no other document uses — near-zero flags
    // boilerplate, integer-exact (counts + basis points)
    "q101_bigram_novelty" -> ((s, dir) =>
      graft.operators.TextAnalysis.bigramNovelty(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // reciprocal-rank fusion kernel, oracle-checked end to end: two
    // deterministic per-lang rankings (byte length; portable doc-id
    // hash) fused with integer fixed-point contributions. Rank inputs
    // are top-20 WindowGroupLimit prunes, fusion input is
    // langs x 2 x 20 rows — bounded, never corpus-sized
    "q105_rrf_fuse" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val byLen = Window.partitionBy(col("lang"))
        .orderBy(octet_length(col("text")).desc, col("doc_id"))
      val byHash = Window.partitionBy(col("lang")).orderBy(
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8)," +
          " 16, 10) as bigint)"), col("doc_id"))
      val a = docs.select(col("lang"), col("doc_id"),
        row_number().over(byLen).as("r")).filter(col("r") <= 20)
      val b = docs.select(col("lang"), col("doc_id"),
        row_number().over(byHash).as("r")).filter(col("r") <= 20)
      graft.operators.Fusion.rrfFuse(Seq(a, b), "lang", "doc_id", "r",
        topK = 10)
    }),

    // incremental ingest dedup: odd doc_ids (the "new batch") probed
    // against the band index of even doc_ids (the "corpus") — no
    // corpus-corpus or batch-batch pairing, the production ingest shape
    "q83_incr_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashProbePortable(
        corpus = docs.filter(col("doc_id") % 2 === 0),
        incoming = docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 3, numPerms = 8, bands = 4, minMatch = 4)
    }),

    // corpus-level similarity: bottom-k KMV sketches per source,
    // pairwise union-merge Jaccard — 100 TB reduces to |sources|·k
    // longs before any pairing; md5-portable, so the whole estimator
    // (not just the sketches) hash-matches the DuckDB twin
    "q106_corpus_sim" -> ((s, dir) =>
      graft.operators.CorpusSim.corpusSimilarity(
        Tables.load(s, dir, "documents"), "source", "text",
        n = 3, k = 256)),

    // token-budget mixture allocation: largest-remainder apportionment
    // of a 30k-token budget across sources, capped by availability —
    // exact integers end to end, windows only over the 10-row summary
    "q107_mixture_alloc" -> ((s, dir) =>
      graft.operators.Splits.mixtureAllocate(
        Tables.load(s, dir, "documents").select(col("source"),
          size(graft.operators.TextAnalysis.words(col("text")))
            .as("n_tokens")),
        "source", "n_tokens", budget = MixBudget, weights = MixWeights)),

    // encoding-quality gate: replacement chars, C0 controls, mojibake
    // artifacts, bytes-per-char profile — pure per-row scan work, all
    // integer, one shared Java/RE2 pattern text on both engines
    "q109_encoding_quality" -> ((s, dir) =>
      graft.operators.TextAnalysis.encodingQuality(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // stratified top-k vocabulary: per-language top-50 terms, the
    // k-th-largest-count threshold resolved through Selection — no
    // per-group rank window over vocab rows; threshold ties all kept
    "q121_top_vocab_strat" -> ((s, dir) =>
      Chunking.topVocabPerGroup(Tables.load(s, dir, "documents"),
        "lang", "text", k = 50)),

    // feature hashing (the hashing trick): sparse long-format vectors
    // with no trained vocab — portable hash bucket + sign bit, all
    // integer, one word-count-shaped shuffle
    "q119_hash_features" -> ((s, dir) =>
      TextAnalysis.hashFeatures(Tables.load(s, dir, "documents"),
        "doc_id", "text", dim = 256, seed = "fh1")),

    // corpus drift series: consecutive doc_id-div-125 snapshots
    // compared by deterministic KMV sketches — exact end to end
    "q120_drift_series" -> ((s, dir) =>
      graft.operators.CorpusSim.driftSeries(
        Tables.load(s, dir, "documents")
          .withColumn("snap", expr("doc_id div 125")),
        "snap", "text", n = 3, k = 256)),

    // curriculum schedule: three phases, weights lerping from the q107
    // mix to uniform, growing budgets — one scan, exact integers
    "q118_curriculum" -> ((s, dir) =>
      graft.operators.Splits.curriculumSchedule(
        Tables.load(s, dir, "documents").select(col("source"),
          size(graft.operators.TextAnalysis.words(col("text")))
            .as("n_tokens")),
        "source", "n_tokens", budgets = CurricBudgets,
        startWeights = MixWeights, endWeights = CurricEnd)),

    // epoch/upsampling plan: q107's apportionment at a 40x budget so
    // targets exceed availability — exact repeat epochs + final-pass
    // fraction per source, over-repetition flagged
    "q115_epoch_plan" -> ((s, dir) =>
      graft.operators.Splits.epochPlan(
        Tables.load(s, dir, "documents").select(col("source"),
          size(graft.operators.TextAnalysis.words(col("text")))
            .as("n_tokens")),
        "source", "n_tokens", budget = MixBudget * 40,
        weights = MixWeights)),

    // corpus-level line dedup (CCNet-style boilerplate removal): a
    // trimmed line seen in >= 3 distinct docs is cut everywhere
    "q111_line_dedup" -> ((s, dir) =>
      Dedup.dedupLines(Tables.load(s, dir, "documents"),
        "doc_id", "text", minDocs = 3)),

    // decontamination as a transformation: the corpus that SURVIVES
    // the q46 scan (non-benchmark docs below the overlap threshold)
    "q112_decontaminate" -> ((s, dir) =>
      TextAnalysis.decontaminate(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        pmod(col("doc_id"), lit(97)) === 0, n = 3, minOverlap = 3)
        .select(col("doc_id"), col("lang"), col("source"))),

    // PII redaction: the corpus carries no digits/'@', so the query
    // plants deterministic PII via ONE shared SQL fragment parsed
    // identically by Spark and DuckDB; staged counts + redacted text
    // are engine-exact end to end
    "q125_pii_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr(PiiAug).as("text")),
        "doc_id", "text")),

    // C4 quality-rule battery over synthesized multi-line pages (same
    // shared-fragment trick): line rules + page flags + cleaned text
    "q126_c4_rules" -> ((s, dir) =>
      TextAnalysis.c4Rules(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr(C4Aug).as("text")),
        "doc_id", "text")),

    // Unicode NFC canonicalization: planted decomposed/precomposed
    // accent spellings; the native kernel's output hash-matches
    // DuckDB's utf8proc nfc_normalize (NFC is stability-frozen)
    "q127_nfc_profile" -> ((s, dir) =>
      TextAnalysis.nfcProfile(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr(NfcAug).as("text")),
        "doc_id", "text")),

    // HTML → text extraction (jusText-class boilerplate rule) over
    // pages synthesized from documents.text by ONE shared SQL
    // fragment: script/style/comment drop, anchor sentinels, block
    // segmentation, entity decode, word-count × link-density keep
    // rule — counts and the extracted text hash-check end to end
    "q277_html_extract" -> ((s, dir) =>
      Markup.extractText(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr(HtmlAug).as("html")),
        "doc_id", "html")),

    // WARC ingest end-to-end: per-doc HTTP responses wrapped as ISO
    // 28500 records (fixture ENCODER udfs — the q253 portable-payload
    // posture for binary codecs), concatenated into multi-record
    // streams, then parsed back by the OPERATORS UNDER TEST
    // (Warc.recordsFromBlobs record walker, Warc.httpResponses
    // splitter) and extracted through the q277 markup chain. Headers,
    // exact Content-Length, HTTP status/content-type, and the
    // extracted text all hash-check against the generator
    "q280_warc_extract" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr(HtmlAug).as("html"))
      val httpHead = "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n\r\n"
      val rec = udf((id: Long, http: String) =>
        graft.sources.Warc.buildRecord(
          warcType = "response",
          recordId = s"<urn:uuid:$id>",
          targetUri = s"http://example.com/doc/$id",
          warcDate = "2024-01-01T00:00:00Z",
          contentType = "application/http; msgtype=response",
          payload = http.getBytes("UTF-8")))
      val cat = udf((rs: Seq[Array[Byte]]) =>
        rs.foldLeft(Array.empty[Byte])(_ ++ _))
      val blobs = docs
        .select((col("doc_id") % 37).as("__bucket"),
          struct(col("doc_id"),
            rec(col("doc_id"), concat(lit(httpHead), col("html")))
              .as("rec")).as("__sr"))
        .groupBy(col("__bucket"))
        .agg(sort_array(collect_list(col("__sr"))).as("__srs"))
        .select(cat(expr("transform(__srs, x -> x.rec)")).as("blob"))
      val bodies = graft.sources.Warc.httpResponses(
        graft.sources.Warc.recordsFromBlobs(blobs, "blob"))
      val headers = bodies.select(
        expr("cast(regexp_extract(target_uri, 'doc/([0-9]+)$', 1) " +
          "as bigint)").as("doc_id"),
        col("warc_type"), col("target_uri"), col("content_length"),
        col("http_status"), col("http_content_type"),
        col("body").cast("string").as("__html"))
      Markup.extractText(headers.select(col("doc_id"), col("__html")),
          "doc_id", "__html")
        .join(headers.drop("__html"), Seq("doc_id"))
        .select(col("doc_id"), col("warc_type"), col("target_uri"),
          col("content_length"), col("http_status"),
          col("http_content_type"), col("n_blocks"), col("n_content"),
          col("clean_text"), col("n_chars"))
    }),

    // WET export + ingest roundtrip: extracted text re-wrapped as ISO
    // 28500 `conversion` records (the format Common Crawl publishes
    // next to raw WARC), concatenated, parsed back through
    // recordsFromBlobs + the wetText view — the text and its exact
    // byte length hash-check against the markup chain directly
    "q288_wet_extract" -> ((s, dir) => {
      val extracted = Markup.extractText(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr(HtmlAug).as("html")),
        "doc_id", "html")
      val rec = udf((id: Long, text: String) =>
        graft.sources.Warc.buildRecord(
          warcType = "conversion",
          recordId = s"<urn:uuid:wet-$id>",
          targetUri = s"http://example.com/doc/$id",
          warcDate = "2024-01-01T00:00:00Z",
          contentType = "text/plain",
          payload = text.getBytes("UTF-8")))
      val cat = udf((rs: Seq[Array[Byte]]) =>
        rs.foldLeft(Array.empty[Byte])(_ ++ _))
      val blobs = extracted
        .select((col("doc_id") % 37).as("__bucket"),
          struct(col("doc_id"),
            rec(col("doc_id"), col("clean_text")).as("rec")).as("__sr"))
        .groupBy(col("__bucket"))
        .agg(sort_array(collect_list(col("__sr"))).as("__srs"))
        .select(cat(expr("transform(__srs, x -> x.rec)")).as("blob"))
      graft.sources.Warc.wetText(
          graft.sources.Warc.recordsFromBlobs(blobs, "blob"))
        .select(
          expr("cast(regexp_extract(target_uri, 'doc/([0-9]+)$', 1) " +
            "as bigint)").as("doc_id"),
          col("warc_type"), col("content_length"), col("text"))
    }),

    // CCNet-style perplexity gate, ENGINE-EXACT: bigram LM trained on
    // the even-id half, every doc's surprisal summed in fixed-point
    // nanonats through the portable integer ln kernel (model-table
    // fold driver-side; the oracle replays the SAME integer algorithm
    // as a recursive CTE over the distinct probability rationals), and
    // head/middle/tail buckets cut at exact ranks — every column
    // integer, hash-checked (was rows-only while the surprisals used
    // libm ln)
    "q102_bigram_ppl" -> ((s, dir) =>
      graft.operators.LangModel.scoreWithBucketsExactFp(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        trainPred = col("doc_id") % 2 === 0, cuts = Seq(33, 67))),

    // per-domain CCNet buckets, ENGINE-EXACT: one LM trained on the
    // src1 slice, surprisals through the portable integer ln, and the
    // CE percentile cuts computed INSIDE each source (scorable docs
    // only; a group with no scorable docs has NULL cuts → bucket 0) —
    // every column integer, hash-checked (was rows-only in ApproxPack
    // while the surprisals used libm ln)
    "q123_domain_ce_buckets" -> ((s, dir) =>
      graft.operators.LangModel.scoreWithBucketsByExactFp(
        Tables.load(s, dir, "documents"), "doc_id", "text", "source",
        trainPred = col("source") === "src1", cuts = Seq(33, 67))),

    // DSIR importance selection, ENGINE-EXACT: docs ranked by the
    // fixed-point log-likelihood ratio between the src1-trained LM and
    // the whole-corpus LM, both through the portable integer ln; exact
    // top-120 via rank cutoff + portable-bucket tie resolution — the
    // weights AND the selected set hash-check (was rows-only while
    // surprisals used libm ln)
    "q108_dsir_select" -> ((s, dir) =>
      graft.operators.LangModel.importanceSelectExactFp(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        targetPred = col("source") === "src1", nKeep = 120)),

    // BPE tokenizer training: word-count shuffle + driver merge loop.
    // Oracle: the FULL training replayed as a DuckDB recursive CTE —
    // the working table carries the per-word symbol sequences (each
    // symbol sep-wrapped so replace() is exactly the left-to-right
    // non-overlapping fusion), each iteration computes pair counts
    // via per-position unnest, picks the (max count, lexicographically
    // smallest) pair under the count >= 2 stop rule, and rewrites
    // every word — the merge sequence falls out of the iteration tags
    "q103_bpe_merges" -> ((s, dir) => {
      val model = graft.operators.Bpe.train(
        Tables.load(s, dir, "documents"), "text", numMerges = 60)
      graft.operators.Bpe.mergesDf(s, model)
    }),

    // the trained model's dictionary segmentation (the training
    // byproduct applied at scale via broadcast join) — same recursive
    // replay, read out at the final iteration instead of the tags
    "q224_bpe_segments" -> ((s, dir) => {
      val ss = s
      import ss.implicits._
      val model = graft.operators.Bpe.train(
        Tables.load(s, dir, "documents"), "text", numMerges = 60)
      model.segments.toSeq.map { case (w, toks) =>
        (w, toks.length.toLong, toks.mkString(" "))
      }.toDF("w", "n_tokens", "tokens")
    }),

    // tokenizer APPLICATION: train on the corpus, then encode every
    // document to integer token ids through the vocab map literal.
    // Oracle: the q224 recursive replay's final segmentation + the
    // vocab id assignment re-derived in SQL (code-point-sorted
    // alphabet, then merges in rank order, first occurrence wins).
    // token_ids is emitted space-joined: the driver's checker sorts
    // result columns with pandas, which cannot order array cells
    // (r5 q114 err row).
    "q114_bpe_encode" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, "text", numMerges = 60)
      graft.operators.Bpe.encodeIds(docs, "doc_id", "text", model)
        .withColumn("token_ids",
          concat_ws(" ", transform(col("token_ids"), _.cast("string"))))
    }),

    // tokenizer fertility per language: pieces/word, bytes/piece,
    // OOV share under the q103 BPE model — per-language integer
    // rollups of the same recursive-replay segmentation
    "q196_fertility" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, "text", numMerges = 60)
      graft.operators.Bpe.fertility(docs, "doc_id", "text", "lang", model)
    }),

    // near-dup-aware leakage-safe split: portable LSH pairs →
    // connected components → cluster-keyed md5 split, so near-identical
    // docs can never straddle train/eval. Every stage is
    // engine-portable (q52's LSH recipe, q79's recursive closure,
    // q35's bucket hash), so the whole composition hash-checks;
    // FunctionsSpec additionally proves the no-straddle and
    // append-inherit laws
    "q110_dedup_split" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = graft.operators.Dedup.minhashLshPortable(
        docs, "doc_id", "text", n = 3, numPerms = 8, bands = 4,
        minMatch = 4)
      val clusters = graft.operators.Dedup.nearDupClusters(
        pairs, "id_a", "id_b")
      graft.operators.Splits.dedupSafeSplit(docs, "doc_id", clusters,
        Seq("train" -> 80, "val" -> 10, "test" -> 10), seed = "r5")
        .select(col("doc_id"), col("split"))
    }),

    // WAT ingest end-to-end (the Common Crawl METADATA sibling —
    // completes the WARC/WET/WAT artifact triple): per-doc JSON
    // payloads with deterministic headers/title/outlinks wrapped as
    // ISO 28500 `metadata` records (the q280 fixture-encoder
    // posture), concatenated into multi-record streams, parsed back
    // by the OPERATORS UNDER TEST (record walker + from_json watView)
    // — title, server header, and the full outlink list hash-check
    // against the generator arithmetic
    "q290_wat_extract" -> ((s, dir) => {
      val wat = graft.sources.Warc.watView(
        graft.sources.Warc.recordsFromBlobs(watBlobs(s, dir), "blob"))
      wat.filter(col("error").isNull)
        .select(
          expr("cast(regexp_extract(target_uri, 'doc/([0-9]+)$', 1) " +
            "as bigint)").as("doc_id"),
          col("warc_type"), col("title"),
          col("headers")(lit("Server")).as("server"),
          size(col("links")).cast("long").as("n_links"),
          concat_ws(" ", expr("transform(links, x -> x.url)"))
            .as("link_urls"))
    }),

    // the crawl link GRAPH: outlinks of the parsed WAT records
    // projected to (src_host, dst_host) edges with link counts — the
    // domain graph that feeds PageRank/TrustRank quality priors
    "q291_wat_hostgraph" -> ((s, dir) => {
      val wat = graft.sources.Warc.watView(
        graft.sources.Warc.recordsFromBlobs(watBlobs(s, dir), "blob"))
      graft.sources.Warc.hostEdges(graft.sources.Warc.watLinks(wat))
    }),

    // crawl → link graph → centrality prior END TO END: exact-integer
    // PageRank (q130's arithmetic) over the WAT host graph. Node ids
    // are parsed back OUT OF THE HOST STRINGS the projection emitted,
    // so the whole chain — JSON encode, record walk, from_json, host
    // extraction, distinct-edge PageRank — hash-checks as one unit
    "q292_wat_hostrank" -> ((s, dir) => {
      val wat = graft.sources.Warc.watView(
        graft.sources.Warc.recordsFromBlobs(watBlobs(s, dir), "blob"))
      val edges = graft.sources.Warc.hostEdges(
          graft.sources.Warc.watLinks(wat))
        .select(
          expr("cast(regexp_extract(src_host, '^site([0-9]+)\\\\." +
            "example$', 1) as bigint)").as("src"),
          expr("cast(regexp_extract(dst_host, '^site([0-9]+)\\\\." +
            "example$', 1) as bigint)").as("dst"))
      graft.operators.PageRank.iterate(edges, "src", "dst", iters = 5)
        .select(concat(lit("site"), col("node"), lit(".example"))
          .as("host"), col("rank"))
    }),
  )

  /** Shared q290/q291/q292 fixture: every document wrapped as a WAT
    * `metadata` record whose JSON payload carries headers, a title,
    * and 1 + doc_id % 4 outlinks, ALL derived from doc_id by integer
    * arithmetic — the oracle recomputes every expected output
    * directly, so a hash match certifies the JSON encode → record
    * walk → from_json extraction chain. Link j of doc d targets doc
    * (d + 97·j²) % 100000 on host site{target % 23}.example. */
  private def watBlobs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
    def dst(j: org.apache.spark.sql.Column) =
      (col("doc_id") + lit(97L) * j * j) % 100000L
    val json = to_json(struct(struct(struct(struct(
      map(lit("Server"),
          concat(lit("srv-"), (col("doc_id") % 7L).cast("string")),
          lit("Content-Type"), lit("text/html")).as("Headers"),
      struct(
        struct(concat(lit("Doc "), col("doc_id").cast("string"))
          .as("Title")).as("Head"),
        transform(sequence(lit(1L), lit(1L) + col("doc_id") % 4L),
          j => struct(lit("A@/href").as("path"),
            concat(lit("http://site"), (dst(j) % 23L).cast("string"),
              lit(".example/doc/"), dst(j).cast("string")).as("url")))
          .as("Links")).as("HTML-Metadata"))
      .as("HTTP-Response-Metadata")).as("Payload-Metadata"))
      .as("Envelope")))
    val rec = udf((id: Long, payload: String) =>
      graft.sources.Warc.buildRecord(
        warcType = "metadata",
        recordId = s"<urn:uuid:wat-$id>",
        targetUri = s"http://site${id % 23}.example/doc/$id",
        warcDate = "2024-01-01T00:00:00Z",
        contentType = "application/json",
        payload = payload.getBytes("UTF-8")))
    val cat = udf((rs: Seq[Array[Byte]]) =>
      rs.foldLeft(Array.empty[Byte])(_ ++ _))
    docs
      .select((col("doc_id") % 37).as("__bucket"),
        struct(col("doc_id"), rec(col("doc_id"), json).as("rec"))
          .as("__sr"))
      .groupBy(col("__bucket"))
      .agg(sort_array(collect_list(col("__sr"))).as("__srs"))
      .select(cat(expr("transform(__srs, x -> x.rec)")).as("blob"))
  }

  /** Input-augmentation fragments for q125/q126/q127, written in the
    * SQL subset Spark's `expr()` and DuckDB parse IDENTICALLY
    * (`||`, CASE, substr, lpad, chr, `%` on nonnegative BIGINT,
    * CAST(.. AS VARCHAR(n))) — ONE string drives both engines, so the
    * planted inputs can never drift apart. */
  // NOTE: continuation lines must never START with '||' — these
  // fragments are re-interpolated into stripMargin oracle strings,
  // which would eat the first '|' as a margin marker.
  private[packs] val PiiAug: String =
    """substr(text, 1, 80) || CASE doc_id % 5
      |  WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR(20)) ||
      |    '@mail.example.com for info'
      |  WHEN 1 THEN ' call +1 (555) 010-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR(20)), 4, '0') || ' now'
      |  WHEN 2 THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR(20)) ||
      |    '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR(20)) || ' is up'
      |  WHEN 3 THEN ' ref 123-45-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR(20)), 4, '0') || ' on file'
      |  ELSE '' END""".stripMargin

  private[packs] val C4Aug: String =
    """'Heading line with no punctuation' || chr(10) ||
      |substr(text, 1, 40 + doc_id % 40) || '.' || chr(10) ||
      |CASE WHEN doc_id % 7 = 0
      |  THEN 'lorem ipsum dolor sit amet.' || chr(10) ELSE '' END ||
      |CASE WHEN doc_id % 11 = 0
      |  THEN 'Please enable javascript to continue.' || chr(10)
      |  ELSE '' END ||
      |CASE WHEN doc_id % 13 = 0
      |  THEN 'function f() { return 0; }' || chr(10) ELSE '' END ||
      |CASE WHEN doc_id % 5 = 0
      |  THEN 'See our privacy policy for details.' || chr(10)
      |  ELSE '' END ||
      |'Tiny line.' || chr(10) ||
      |substr(text, 21, 30 + doc_id % 25) || '!'""".stripMargin

  /** Combining acute / precomposed accents, embedded as literal chars
    * (the q109 shared-pattern recipe: Scala escapes compile to the
    * char; both engines read the same UTF-8 text). */
  private val CombAcute = "\u0301"
  private val PreComposed = "caf\u00e9 d\u00e9j\u00e0 vu"
  /** Synthetic HTML page per document — ONE shared fragment parsed
    * identically by Spark `expr` and DuckDB (the PiiAug/C4Aug trick):
    * head noise that must vanish (title merges into the first block;
    * style/script/comment are dropped wholesale), a link-farm nav and
    * footer (boilerplate by link density), content paragraphs carved
    * from the document text (kept by word count), a mod-gated
    * entity-bearing paragraph and a mod-gated too-short paragraph, and
    * a <br>-split paragraph (two blocks). */
  private[packs] val HtmlAug: String =
    """'<html><head><title>' || substr(text, 1, 18) || '</title>' ||
      |'<style> .nav { color: #333; } </style>' ||
      |'<script type="text/javascript">var hidden = "' ||
      |  substr(text, 5, 30) || '";</script></head><body>' ||
      |'<!-- build ' || CAST(doc_id % 100 AS VARCHAR(20)) || ' ' ||
      |  substr(text, 2, 12) || ' -->' ||
      |'<nav><a href="/">Home</a> <a href="/about">About</a> ' ||
      |  '<a href="/contact">Contact</a></nav>' ||
      |'<h1>' || substr(text, 1, 24 + doc_id % 7) || '</h1>' ||
      |'<p>' || substr(text, 1, 120 + doc_id % 60) ||
      |  ' and more details follow here.</p>' ||
      |'<p>' || substr(text, 30, 80 + doc_id % 40) ||
      |  ' as documented in <a href="#ref">the reference manual ' ||
      |  'appendix</a> near the end.</p>' ||
      |CASE WHEN doc_id % 3 = 0 THEN
      |  '<p>Fish &amp; chips &lt;cheap&gt; &quot;fresh&quot; ' ||
      |  '&#39;daily&#39; &amp;lt;escaped&nbsp;here always fine.</p>'
      |  ELSE '' END ||
      |CASE WHEN doc_id % 4 = 0 THEN '<p>short line</p>' ELSE '' END ||
      |'<p>First half of a broken paragraph<br>second half continues ' ||
      |  'with several more words.</p>' ||
      |'<div class="footer"><a href="/p">Privacy</a> ' ||
      |  '<a href="/t">Terms</a> <a href="/c">Cookies</a></div>' ||
      |'</body></html>'""".stripMargin

  private[packs] val NfcAug: String =
    s"""substr(text, 1, 60) || CASE doc_id % 3
       |  WHEN 0 THEN ' expose$CombAcute cafe$CombAcute naive'
       |  WHEN 1 THEN ' $PreComposed'
       |  ELSE '' END""".stripMargin

  /** q107's mixture spec, embedded as literals on BOTH sides (the
    * q49/q52 portable recipe). */
  private val MixWeights: Map[String, Long] =
    (0 until 10).map(i => s"src$i" -> (((i % 4) + 1).toLong * 5L)).toMap
  private val MixBudget = 30000L
  /** q118's curriculum spec: three phases warming from the q107 mix to
    * a uniform end mix, with a growing per-phase budget. */
  private val CurricBudgets = Seq(10000L, 20000L, 40000L)
  private val CurricEnd: Map[String, Long] =
    MixWeights.map { case (g, _) => g -> 10L }
  private def curricPhaseWeights(p: Int): Map[String, Long] =
    MixWeights.map { case (g, s) =>
      g -> (s * (CurricBudgets.length - 1 - p) + CurricEnd(g) * p)
    }

  /** The largest-remainder mixture CTE chain (`a`..`d`) shared by the
    * q107/q115/q118 oracles, parameterized by budget and weights — the
    * same literals the Spark side embeds. */
  private def mixtureSqlCtes(budget: Long,
                             weights: Map[String, Long] = MixWeights)
      : String = {
    val wVals = weights.toSeq.sorted
      .map { case (g, wt) => s"('$g', $wt)" }.mkString(", ")
    val totalW = weights.values.sum
    s"""a AS (
       |  SELECT source,
       |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
       |      AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT * FROM (VALUES $wVals) AS w(source, wt)
       |), b AS (
       |  SELECT a.source, a.avail_tokens,
       |    ($budget * wt) // $totalW AS t,
       |    ($budget * wt) % $totalW AS rem
       |  FROM a JOIN w ON a.source = w.source
       |), c AS (
       |  SELECT source, avail_tokens, t, rem,
       |    CAST($budget - CAST(sum(t) OVER () AS BIGINT) AS BIGINT)
       |      AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rn
       |  FROM b
       |), d AS (
       |  SELECT source, avail_tokens,
       |    CAST(t + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
       |      AS BIGINT) AS target_tokens
       |  FROM c
       |)""".stripMargin
  }

  private val PackingSql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t
      |)
      |SELECT lang, CAST((cum - 1) // 512 AS BIGINT) AS bin_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
      |FROM c GROUP BY lang, bin_id""".stripMargin

  private val ShinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, lang, array_to_string(words[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, lang,
      |          regexp_split_to_array(trim(text), '\s+') AS words
      |        FROM documents) w,
      |       LATERAL (SELECT unnest(generate_series(
      |          1, greatest(1, len(words) - 2))) AS i) g
      |)""".stripMargin

  private lazy val LshPortableSql: String = {
      val permValues = graft.operators.Dedup.portablePerms(8).zipWithIndex
        .map { case ((a, b), p) => s"($p, $a, $b)" }.mkString(", ")
      s"""WITH $ShinglesSql,
         |gh AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS g
         |  FROM sh
         |),
         |ph AS (
         |  SELECT doc_id, p, min((a * g + b) % 2147483647) AS h
         |  FROM gh, (VALUES $permValues) AS perms(p, a, b)
         |  GROUP BY doc_id, p
         |),
         |sig AS (
         |  SELECT doc_id, p // 2 AS band,
         |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY p) AS bkey
         |  FROM ph GROUP BY doc_id, p // 2
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.doc_id < b.doc_id
         |),
         |m AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(sum(CASE WHEN pa.h = pb.h THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_match
         |  FROM cand c
         |  JOIN ph pa ON pa.doc_id = c.id_a
         |  JOIN ph pb ON pb.doc_id = c.id_b AND pb.p = pa.p
         |  GROUP BY c.id_a, c.id_b
         |)
         |SELECT id_a, id_b, n_match FROM m WHERE n_match >= 4""".stripMargin
  }

  /** q110: [[LshPortableSql]]'s pair construction, closed into
    * components by q79's recursive-closure recipe (min label per
    * node), then the q35 md5-bucket split keyed by "c|cluster" for
    * clustered docs / "d|id" for singletons — the exact composition
    * Splits.dedupSafeSplit evaluates. */
  private lazy val DedupSplitSql: String = {
    val permValues = graft.operators.Dedup.portablePerms(8).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }.mkString(", ")
    s"""WITH RECURSIVE $ShinglesSql,
       |gh AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS g
       |  FROM sh
       |),
       |ph AS (
       |  SELECT doc_id, p, min((a * g + b) % 2147483647) AS h
       |  FROM gh, (VALUES $permValues) AS perms(p, a, b)
       |  GROUP BY doc_id, p
       |),
       |sig AS (
       |  SELECT doc_id, p // 2 AS band,
       |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY p) AS bkey
       |  FROM ph GROUP BY doc_id, p // 2
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |),
       |m AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(sum(CASE WHEN pa.h = pb.h THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match
       |  FROM cand c
       |  JOIN ph pa ON pa.doc_id = c.id_a
       |  JOIN ph pb ON pb.doc_id = c.id_b AND pb.p = pa.p
       |  GROUP BY c.id_a, c.id_b
       |),
       |pr AS (SELECT id_a, id_b FROM m WHERE n_match >= 4),
       |e AS (
       |  SELECT id_a AS a, id_b AS b FROM pr
       |  UNION
       |  SELECT id_b, id_a FROM pr
       |),
       |r AS (
       |  SELECT a AS id, a AS l FROM e
       |  UNION
       |  SELECT e.a, r.l FROM e JOIN r ON e.b = r.id
       |),
       |cl AS (SELECT id, min(l) AS cluster_id FROM r GROUP BY id),
       |k AS (
       |  SELECT d.doc_id,
       |    (CASE WHEN cl.cluster_id IS NOT NULL
       |       THEN 'c|' || CAST(cl.cluster_id AS VARCHAR)
       |       ELSE 'd|' || CAST(d.doc_id AS VARCHAR) END) || '|r5'
       |      AS key
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
       |),
       |bk AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT) % 100 AS b
       |  FROM k
       |)
       |SELECT doc_id,
       |  CASE WHEN b < 80 THEN 'train'
       |       WHEN b < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM bk""".stripMargin
  }

  /** q83: same md5/affine construction as [[LshPortableSql]], but
    * candidates are (odd "incoming", even "corpus") band collisions
    * only — the incremental-ingest probe, never pairing either side
    * with itself. */
  private lazy val IncrDedupSql: String = {
    val permValues = graft.operators.Dedup.portablePerms(8).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }.mkString(", ")
    s"""WITH $ShinglesSql,
       |gh AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS g
       |  FROM sh
       |),
       |ph AS (
       |  SELECT doc_id, p, min((a * g + b) % 2147483647) AS h
       |  FROM gh, (VALUES $permValues) AS perms(p, a, b)
       |  GROUP BY doc_id, p
       |),
       |sig AS (
       |  SELECT doc_id, p // 2 AS band,
       |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY p) AS bkey
       |  FROM ph GROUP BY doc_id, p // 2
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
       |),
       |m AS (
       |  SELECT c.new_id, c.corpus_id,
       |    CAST(sum(CASE WHEN pa.h = pb.h THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match
       |  FROM cand c
       |  JOIN ph pa ON pa.doc_id = c.new_id
       |  JOIN ph pb ON pb.doc_id = c.corpus_id AND pb.p = pa.p
       |  GROUP BY c.new_id, c.corpus_id
       |)
       |SELECT new_id, corpus_id, n_match FROM m WHERE n_match >= 4""".stripMargin
  }

  /** q98: the whole curation chain — excision (q89's construction),
    * length gate, portable LSH on the CLEANED text (q52's construction
    * at minMatch 6), md5 acceptance sampling, token packing (q56's
    * construction) — rebuilt independently in one DuckDB CTE chain.
    * Every stage is integer/hash-exact, so the full pipeline output
    * hash-matches, not just the stages. */
  private lazy val PipelineExactSql: String = {
    val permValues = graft.operators.Dedup.portablePerms(8).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }.mkString(", ")
    raw"""WITH w AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS gram
         |  FROM w, LATERAL (SELECT unnest(generate_series(
         |    1, greatest(1, len(ws) - 4))) AS i) t
         |), c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
         |d AS (
         |  SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM g JOIN c USING (gram) WHERE cnt >= 2
         |),
         |r AS (
         |  SELECT doc_id, min(i) AS s, max(i) AS e
         |  FROM d GROUP BY doc_id, grp HAVING count(*) >= 4
         |),
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(s, e + 4)) AS cp
         |  FROM r
         |),
         |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY 1),
         |k AS (
         |  SELECT w.doc_id,
         |    list_transform(list_filter(range(1, len(ws) + 1),
         |      p -> NOT list_contains(coalesce(cps, []), p)),
         |      p -> ws[p]) AS kept
         |  FROM w LEFT JOIN cl USING (doc_id)
         |),
         |cleaned AS (
         |  SELECT k.doc_id, d0.lang, kept
         |  FROM k JOIN documents d0 ON k.doc_id = d0.doc_id
         |  WHERE len(kept) >= 10
         |),
         |sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(kept[i:i+2], ' ') AS s
         |  FROM cleaned, LATERAL (SELECT unnest(generate_series(
         |    1, greatest(1, len(kept) - 2))) AS i) gi
         |),
         |gh AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS g
         |  FROM sh
         |),
         |ph AS (
         |  SELECT doc_id, p, min((a * g + b) % 2147483647) AS h
         |  FROM gh, (VALUES $permValues) AS perms(p, a, b)
         |  GROUP BY doc_id, p
         |),
         |sig AS (
         |  SELECT doc_id, p // 2 AS band,
         |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY p) AS bkey
         |  FROM ph GROUP BY doc_id, p // 2
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.doc_id < b.doc_id
         |),
         |m AS (
         |  SELECT c2.id_a, c2.id_b,
         |    sum(CASE WHEN pa.h = pb.h THEN 1 ELSE 0 END) AS n_match
         |  FROM cand c2
         |  JOIN ph pa ON pa.doc_id = c2.id_a
         |  JOIN ph pb ON pb.doc_id = c2.id_b AND pb.p = pa.p
         |  GROUP BY c2.id_a, c2.id_b
         |),
         |dup AS (SELECT DISTINCT id_b AS doc_id FROM m WHERE n_match >= 6),
         |samp AS (
         |  SELECT doc_id, lang, len(kept) AS n_tokens FROM cleaned
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dup)
         |    AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|q98'),
         |        1, 8))::BIGINT % 10000
         |      < CASE lang WHEN 'en' THEN 10000 ELSE 7500 END
         |),
         |cum AS (
         |  SELECT doc_id, lang, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM samp
         |)
         |SELECT lang, CAST((cum - 1) // 512 AS BIGINT) AS bin_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM cum GROUP BY lang, bin_id""".stripMargin
  }

  /** Shared recursive BPE-training replay (see q103's comment): the
    * recursive term references `rec` ONCE (the nested-CTE recipe);
    * per-symbol sep-wrapping (chr(31)·sym·chr(31) concatenated) keeps
    * adjacent fusions from sharing boundary separators, so replace()
    * is bit-exact left-to-right greedy pair fusion.
    *
    * Corpus contract (holds for the shipped testdata, all code points
    * in 32..121): words must not contain chr(31) — it is the reserved
    * separator, and a word containing it would corrupt the wrapping on
    * the SQL side only (the Scala trainer is unaffected) → loud verify
    * mismatch. Tie-breaks collate identically because the Scala side
    * compares CODE POINTS (Bpe.codePointOrder) and DuckDB ORDER BY is
    * binary UTF-8 — equal orders on every valid string. */
  private val BpeRecursiveCte: String =
    """WITH RECURSIVE dict AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
      |          AS w
      |        FROM documents)
      |  WHERE w <> '' GROUP BY 1),
      |rec AS (
      |  SELECT 0 AS iter, w, cnt,
      |    chr(31) ||
      |      array_to_string(string_split(w, ''), chr(31)||chr(31)) ||
      |      chr(31) || chr(31) || '</w>' || chr(31) AS seq,
      |    CAST(NULL AS VARCHAR) AS ml, CAST(NULL AS VARCHAR) AS mr,
      |    CAST(NULL AS BIGINT) AS mc
      |  FROM dict
      |  UNION ALL
      |  (WITH cur AS (SELECT * FROM rec WHERE iter < 60),
      |   syms AS (
      |     SELECT iter, w, cnt, seq,
      |       string_split(trim(seq, chr(31)), chr(31)||chr(31)) AS ss
      |     FROM cur),
      |   pairs AS (
      |     SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c FROM (
      |       SELECT cnt, ss[gs] AS a, ss[gs + 1] AS b FROM (
      |         SELECT cnt, ss,
      |           unnest(generate_series(1, array_length(ss) - 1)) AS gs
      |         FROM syms))
      |     GROUP BY 1, 2 HAVING sum(cnt) >= 2),
      |   best AS (SELECT a, b, c FROM pairs ORDER BY c DESC, a, b
      |     LIMIT 1)
      |   SELECT s.iter + 1, s.w, s.cnt,
      |     replace(s.seq,
      |       chr(31) || best.a || chr(31) || chr(31) || best.b ||
      |         chr(31),
      |       chr(31) || best.a || best.b || chr(31)) AS seq,
      |     best.a, best.b, best.c
      |   FROM syms s CROSS JOIN best))""".stripMargin

  /** Shared application side of the replay: `fin` = each dictionary
    * word's FINAL segmentation, `dw` = the corpus re-split to (doc,
    * word-position, word) — the SQL twin of Bpe.tokenize's broadcast
    * segmentation join. */
  private val BpeApplyCtes: String =
    """fin AS (
      |  SELECT w,
      |    string_split(trim(seq, chr(31)), chr(31)||chr(31)) AS toks
      |  FROM rec WHERE iter = (SELECT max(iter) FROM rec)),
      |dw AS (
      |  SELECT doc_id, i AS pos, ws[i] AS w
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(trim(text), '\s+') AS ws
      |        FROM documents),
      |       LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) t
      |  WHERE ws[i] <> '')""".stripMargin

  /** q102 oracle: the exact-fp bigram-LM gate replayed end-to-end —
    * training (unigram/bigram counts, deterministic top-V/top-B
    * prunes), every probability rational's −ln through
    * [[graft.functions.PortableLn.duckLnCtes]] (the recursive-CTE twin
    * of the integer ln the operator folded driver-side), per-doc
    * surprisal sums, and the exact-rank percentile cuts. λ = 9/10:
    * p_bi = (9·cb·D + c1·(c2+1)) / (10·c1·D), p_uni = (c2+1)/(10·D),
    * p_oov = 1/(10·D), D = T+V+1. */
  private val Q102OracleSql: String = ccnetOracle(
    trainWhere = "doc_id % 2 = 0", groupCol = None)

  /** q123 oracle: the same replay with the LM trained on the src1
    * slice and the percentile cuts computed PER SOURCE over scorable
    * docs (NULL cuts — a group with no scorable docs — bucket 0, the
    * operator's documented posture). */
  private val Q123OracleSql: String = ccnetOracle(
    trainWhere = "source = 'src1'", groupCol = Some("source"))

  private def ccnetOracle(trainWhere: String,
                          groupCol: Option[String]): String = {
    val lnCtes = graft.functions.PortableLn.duckLnCtes(
      "__ln_in", Seq("den", "num"), "__ln_out")
    val gSel = groupCol.map(g => s"d.$g, ").getOrElse("")
    val gCol = groupCol.map(g => s"$g, ").getOrElse("")
    val gPart = groupCol.map(g => s"PARTITION BY $g ").getOrElse("")
    // global cuts rank ALL docs (unscorable key −1 included) — the
    // scoreWithBuckets contract; per-group cuts rank scorable only —
    // the scoreWithBucketsBy contract
    val ordWhere = if (groupCol.isDefined) "WHERE n_scored > 0" else ""
    val cutJoin = groupCol match {
      case Some(g) => s"LEFT JOIN cutv USING ($g)"
      case None => ", cutv"
    }
    s"""WITH RECURSIVE tr AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents WHERE $trainWhere),
       |trtok AS (
       |  SELECT unnest(a) AS w FROM tr),
       |uniall AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM trtok
       |  WHERE w <> '' GROUP BY 1),
       |tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t
       |        FROM uniall),
       |uni AS (SELECT w, c FROM uniall ORDER BY c DESC, w LIMIT 65536),
       |dd AS (SELECT t + (SELECT count(*) FROM uni) + 1 AS d0 FROM tot),
       |trp AS (
       |  SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS w
       |  FROM tr),
       |bi AS (
       |  SELECT w1, w2, cb FROM (
       |    SELECT p1.w AS w1, p2.w AS w2, CAST(count(*) AS BIGINT) AS cb
       |    FROM trp p1 JOIN trp p2
       |      ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
       |    WHERE p1.w <> '' AND p2.w <> ''
       |    GROUP BY 1, 2)
       |  WHERE w1 IN (SELECT w FROM uni) AND w2 IN (SELECT w FROM uni)
       |  ORDER BY cb DESC, w1, w2 LIMIT 1048576),
       |bim AS (
       |  SELECT b.w1, b.w2, 10 * u1.c * dd.d0 AS den,
       |    9 * b.cb * dd.d0 + u1.c * (u2.c + 1) AS num
       |  FROM bi b JOIN uni u1 ON u1.w = b.w1
       |    JOIN uni u2 ON u2.w = b.w2, dd),
       |unim AS (SELECT w, 10 * d0 AS den, c + 1 AS num FROM uni, dd),
       |oovm AS (SELECT 10 * d0 AS den, CAST(1 AS BIGINT) AS num FROM dd),
       |__ln_in AS (
       |  SELECT DISTINCT den, num, den AS a, num AS b FROM (
       |    SELECT den, num FROM bim
       |    UNION ALL SELECT den, num FROM unim
       |    UNION ALL SELECT den, num FROM oovm)),
       |$lnCtes,
       |bis AS (SELECT w1, w2, ln_fp FROM bim
       |        JOIN __ln_out USING (den, num)),
       |unis AS (SELECT w, ln_fp FROM unim JOIN __ln_out USING (den, num)),
       |oovs AS (SELECT ln_fp FROM oovm JOIN __ln_out USING (den, num)),
       |arr AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS w
       |  FROM arr),
       |docbi AS (
       |  SELECT p1.doc_id, p1.w AS w1, p2.w AS w2
       |  FROM p p1 JOIN p p2
       |    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
       |  WHERE p1.w <> '' AND p2.w <> ''),
       |per AS (
       |  SELECT d.doc_id,
       |    coalesce(b.ln_fp, u.ln_fp, (SELECT ln_fp FROM oovs)) AS fp
       |  FROM docbi d
       |    LEFT JOIN bis b ON b.w1 = d.w1 AND b.w2 = d.w2
       |    LEFT JOIN unis u ON u.w = d.w2),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       |    CAST(sum(fp) AS BIGINT) AS surprisal_fp
       |  FROM per GROUP BY 1),
       |sc AS (
       |  SELECT d.doc_id, ${gSel}coalesce(n_scored, 0) AS n_scored,
       |    coalesce(surprisal_fp, 0) AS surprisal_fp
       |  FROM documents d LEFT JOIN agg USING (doc_id)),
       |kk AS (
       |  SELECT doc_id, ${gCol}n_scored, surprisal_fp,
       |    CASE WHEN n_scored > 0 THEN CAST(
       |      (CAST(surprisal_fp AS HUGEINT) * 1000) // n_scored AS BIGINT)
       |    ELSE -1 END AS ce_mnn
       |  FROM sc),
       |ord AS (
       |  SELECT ${gCol}ce_mnn,
       |    row_number() OVER (${gPart}ORDER BY ce_mnn) AS rn,
       |    count(*) OVER ($gPart) AS nn
       |  FROM kk $ordWhere),
       |cutv AS (
       |  SELECT ${gCol}
       |    max(CASE WHEN rn = greatest(1, (nn * 33) // 100)
       |        THEN ce_mnn END) AS c33,
       |    max(CASE WHEN rn = greatest(1, (nn * 67) // 100)
       |        THEN ce_mnn END) AS c67
       |  FROM ord${groupCol.map(g => s" GROUP BY $g").getOrElse("")})
       |SELECT doc_id, ${gCol}n_scored, surprisal_fp, ce_mnn,
       |  CAST(CASE WHEN ce_mnn > c33 THEN 1 ELSE 0 END
       |     + CASE WHEN ce_mnn > c67 THEN 1 ELSE 0 END AS INT) AS ce_bucket
       |FROM kk $cutJoin""".stripMargin
  }

  /** q108 oracle: the exact-fp DSIR replay — BOTH models (target =
    * src1 slice, corpus = everything) trained from one token/bigram
    * tally with per-model prunes, all six probability-rational
    * families through ONE shared ln CTE, per-doc (tfp, cfp) sums, the
    * truncating weight quotient (Spark div ≡ DuckDB //), and the exact
    * top-120: rank cutoff + portable md5-bucket tie resolution. */
  private val Q108OracleSql: String = {
    val lnCtes = graft.functions.PortableLn.duckLnCtes(
      "__ln_in", Seq("den", "num"), "__ln_out")
    s"""WITH RECURSIVE tr AS (
       |  SELECT doc_id, source = 'src1' AS tgt,
       |    regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents),
       |tok AS (SELECT tgt, unnest(a) AS w FROM tr),
       |uniall AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM tok WHERE w <> '' GROUP BY 1),
       |tot AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS ta,
       |               CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt
       |        FROM uniall),
       |unic AS (SELECT w, ca AS c FROM uniall
       |         ORDER BY ca DESC, w LIMIT 65536),
       |unit AS (SELECT w, ct AS c FROM uniall WHERE ct > 0
       |         ORDER BY ct DESC, w LIMIT 65536),
       |ddc AS (SELECT ta + (SELECT count(*) FROM unic) + 1 AS d0 FROM tot),
       |ddt AS (SELECT tt + (SELECT count(*) FROM unit) + 1 AS d0 FROM tot),
       |trp AS (
       |  SELECT doc_id, tgt, generate_subscripts(a, 1) AS pos,
       |    unnest(a) AS w
       |  FROM tr),
       |docbi AS (
       |  SELECT p1.doc_id, p1.tgt, p1.w AS w1, p2.w AS w2
       |  FROM trp p1 JOIN trp p2
       |    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
       |  WHERE p1.w <> '' AND p2.w <> ''),
       |biall AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM docbi GROUP BY 1, 2),
       |bic AS (SELECT w1, w2, ca AS cb FROM biall
       |  WHERE w1 IN (SELECT w FROM unic) AND w2 IN (SELECT w FROM unic)
       |  ORDER BY ca DESC, w1, w2 LIMIT 1048576),
       |bit AS (SELECT w1, w2, ct AS cb FROM biall
       |  WHERE ct > 0
       |    AND w1 IN (SELECT w FROM unit) AND w2 IN (SELECT w FROM unit)
       |  ORDER BY ct DESC, w1, w2 LIMIT 1048576),
       |bimc AS (
       |  SELECT b.w1, b.w2, 10 * u1.c * ddc.d0 AS den,
       |    9 * b.cb * ddc.d0 + u1.c * (u2.c + 1) AS num
       |  FROM bic b JOIN unic u1 ON u1.w = b.w1
       |    JOIN unic u2 ON u2.w = b.w2, ddc),
       |unimc AS (SELECT w, 10 * d0 AS den, c + 1 AS num FROM unic, ddc),
       |oovmc AS (SELECT 10 * d0 AS den, CAST(1 AS BIGINT) AS num FROM ddc),
       |bimt AS (
       |  SELECT b.w1, b.w2, 10 * u1.c * ddt.d0 AS den,
       |    9 * b.cb * ddt.d0 + u1.c * (u2.c + 1) AS num
       |  FROM bit b JOIN unit u1 ON u1.w = b.w1
       |    JOIN unit u2 ON u2.w = b.w2, ddt),
       |unimt AS (SELECT w, 10 * d0 AS den, c + 1 AS num FROM unit, ddt),
       |oovmt AS (SELECT 10 * d0 AS den, CAST(1 AS BIGINT) AS num FROM ddt),
       |__ln_in AS (
       |  SELECT DISTINCT den, num, den AS a, num AS b FROM (
       |    SELECT den, num FROM bimc UNION ALL SELECT den, num FROM unimc
       |    UNION ALL SELECT den, num FROM oovmc
       |    UNION ALL SELECT den, num FROM bimt
       |    UNION ALL SELECT den, num FROM unimt
       |    UNION ALL SELECT den, num FROM oovmt)),
       |$lnCtes,
       |bisc AS (SELECT w1, w2, ln_fp FROM bimc
       |         JOIN __ln_out USING (den, num)),
       |unisc AS (SELECT w, ln_fp FROM unimc JOIN __ln_out USING (den, num)),
       |oovsc AS (SELECT ln_fp FROM oovmc JOIN __ln_out USING (den, num)),
       |bist AS (SELECT w1, w2, ln_fp FROM bimt
       |         JOIN __ln_out USING (den, num)),
       |unist AS (SELECT w, ln_fp FROM unimt JOIN __ln_out USING (den, num)),
       |oovst AS (SELECT ln_fp FROM oovmt JOIN __ln_out USING (den, num)),
       |per AS (
       |  SELECT d.doc_id,
       |    coalesce(bt.ln_fp, ut.ln_fp, (SELECT ln_fp FROM oovst)) AS tfp,
       |    coalesce(bc.ln_fp, uc.ln_fp, (SELECT ln_fp FROM oovsc)) AS cfp
       |  FROM docbi d
       |    LEFT JOIN bist bt ON bt.w1 = d.w1 AND bt.w2 = d.w2
       |    LEFT JOIN unist ut ON ut.w = d.w2
       |    LEFT JOIN bisc bc ON bc.w1 = d.w1 AND bc.w2 = d.w2
       |    LEFT JOIN unisc uc ON uc.w = d.w2),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       |    CAST(sum(tfp) AS BIGINT) AS tfp, CAST(sum(cfp) AS BIGINT) AS cfp
       |  FROM per GROUP BY 1),
       |wgt AS (
       |  SELECT d.doc_id, coalesce(n_scored, 0) AS n_scored,
       |    CASE WHEN coalesce(n_scored, 0) > 0 THEN CAST(
       |      ((CAST(cfp AS HUGEINT) - tfp) * 1000) // n_scored AS BIGINT)
       |    END AS weight_fp
       |  FROM documents d LEFT JOIN agg USING (doc_id)),
       |scor AS (SELECT * FROM wgt WHERE n_scored > 0),
       |cutv AS (
       |  SELECT negw AS cut FROM (
       |    SELECT -weight_fp AS negw,
       |      row_number() OVER (ORDER BY -weight_fp) AS rn,
       |      count(*) OVER () AS nn
       |    FROM scor)
       |  WHERE rn = least(nn, 120)),
       |nabove AS (SELECT count(*) AS na FROM scor, cutv
       |           WHERE -weight_fp < cut),
       |ties AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY
       |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |        % 1000000, doc_id) AS tr
       |  FROM scor, cutv WHERE -weight_fp = cut),
       |sel AS (SELECT t.doc_id FROM ties t, nabove WHERE tr <= 120 - na)
       |SELECT w.doc_id, w.n_scored, w.weight_fp,
       |  (w.n_scored > 0 AND ((-w.weight_fp < (SELECT cut FROM cutv))
       |    OR w.doc_id IN (SELECT doc_id FROM sel))) AS selected
       |FROM wgt w""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q102_bigram_ppl" -> Q102OracleSql,
    "q123_domain_ce_buckets" -> Q123OracleSql,
    "q108_dsir_select" -> Q108OracleSql,

    "q103_bpe_merges" -> (BpeRecursiveCte + "\n" +
      """SELECT DISTINCT CAST(iter - 1 AS INT) AS rank, ml AS "left",
        |  mr AS "right", mc AS count
        |FROM rec WHERE iter >= 1""".stripMargin),

    "q224_bpe_segments" -> (BpeRecursiveCte + ",\n" +
      """fin AS (
        |  SELECT w,
        |    string_split(trim(seq, chr(31)), chr(31)||chr(31)) AS toks
        |  FROM rec WHERE iter = (SELECT max(iter) FROM rec))
        |SELECT w, CAST(array_length(toks) AS BIGINT) AS n_tokens,
        |  array_to_string(toks, ' ') AS tokens
        |FROM fin""".stripMargin),

    // q114: the replay's final segmentation applied per document, ids
    // re-derived exactly as Bpe.vocab does — code-point-sorted initial
    // alphabet at 0..A-1, then fused symbols in merge-rank order,
    // first occurrence winning duplicates. Every corpus word is in the
    // dictionary by construction (the model trains unpruned on the
    // same documents), so the fin join is total and n_oov_words/n_unk
    // are identically zero — any future prune would surface as a loud
    // row-count mismatch, never a silent drop.
    "q114_bpe_encode" -> (BpeRecursiveCte + ",\n" + BpeApplyCtes +
      ",\n" +
      """alpha AS (
        |  SELECT DISTINCT unnest(string_split(w, '')) AS s FROM dict
        |  UNION SELECT '</w>' AS s),
        |mg AS (SELECT DISTINCT iter, ml || mr AS s FROM rec
        |  WHERE iter >= 1),
        |ord1 AS (
        |  SELECT s, row_number() OVER (ORDER BY grp, k1, k2) - 1 AS p
        |  FROM (
        |    SELECT s, 0 AS grp, s AS k1, CAST(0 AS BIGINT) AS k2
        |    FROM alpha
        |    UNION ALL
        |    SELECT s, 1 AS grp, '' AS k1, iter AS k2 FROM mg)),
        |firsts AS (SELECT s, min(p) AS fp FROM ord1 GROUP BY 1),
        |vocab AS (
        |  SELECT s, CAST(row_number() OVER (ORDER BY fp) - 1 AS INT)
        |    AS id
        |  FROM firsts),
        |dtok AS (
        |  SELECT dw.doc_id, dw.pos, u.ti, fin.toks[u.ti] AS tok
        |  FROM dw JOIN fin ON dw.w = fin.w,
        |       LATERAL (SELECT unnest(generate_series(
        |         1, len(fin.toks))) AS ti) u),
        |ids AS (
        |  SELECT d2.doc_id, d2.pos, d2.ti, vocab.id
        |  FROM dtok d2 JOIN vocab ON d2.tok = vocab.s)
        |SELECT doc_id,
        |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos, ti)
        |    AS token_ids,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(0 AS BIGINT) AS n_oov_words,
        |  CAST(0 AS BIGINT) AS n_unk
        |FROM ids GROUP BY doc_id""".stripMargin),

    // q196: per-language integer rollups of the same segmentation;
    // byte length is DuckDB strlen ⇄ Spark octet_length
    "q196_fertility" -> (BpeRecursiveCte + ",\n" + BpeApplyCtes +
      ",\n" +
      """dn AS (
        |  SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS nw,
        |    CAST(sum(len(fin.toks)) AS BIGINT) AS nt
        |  FROM dw JOIN fin ON dw.w = fin.w GROUP BY 1),
        |g AS (
        |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dn.nw) AS BIGINT) AS n_words,
        |    CAST(sum(dn.nt) AS BIGINT) AS n_tokens,
        |    CAST(sum(strlen(d.text)) AS BIGINT) AS n_bytes,
        |    CAST(0 AS BIGINT) AS n_oov_words
        |  FROM documents d JOIN dn ON d.doc_id = dn.doc_id
        |  GROUP BY 1)
        |SELECT lang, n_docs, n_words, n_tokens, n_bytes, n_oov_words,
        |  (10000 * n_tokens) // greatest(1, n_words) AS fertility_bp,
        |  (10000 * n_bytes) // greatest(1, n_tokens)
        |    AS bytes_per_token_bp,
        |  (10000 * n_oov_words) // greatest(1, n_words) AS oov_bp
        |FROM g""".stripMargin),

    "q56_packing" -> PackingSql,
    "q83_incr_dedup" -> IncrDedupSql,
    "q98_pipeline_exact" -> PipelineExactSql,

    // Same gram/run construction as q82's oracle, extended to the
    // covered-word positions and the reconstructed text. DuckDB i is
    // 1-based where Spark's window position is 0-based — run grouping
    // and span arithmetic are shift-invariant, word indexing adds 1.
    "q89_excise_spans" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    1, greatest(1, len(ws) - 4))) AS i) t
        |),
        |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
        |d AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM g JOIN c USING (gram) WHERE cnt >= 2
        |),
        |r AS (
        |  SELECT doc_id, min(i) AS s, max(i) AS e
        |  FROM d GROUP BY doc_id, grp HAVING count(*) >= 4
        |),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(s, e + 4)) AS cp
        |  FROM r
        |),
        |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY 1),
        |k AS (
        |  SELECT w.doc_id, len(ws) AS n_words,
        |    list_transform(
        |      list_filter(range(1, len(ws) + 1),
        |        p -> NOT list_contains(coalesce(cps, []), p)),
        |      p -> ws[p]) AS kept
        |  FROM w LEFT JOIN cl USING (doc_id)
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_words - len(kept) AS BIGINT) AS n_removed,
        |  -- DuckDB's array_to_string of an empty list is NULL; a fully
        |  -- excised doc is the empty string on both engines
        |  coalesce(array_to_string(kept, ' '), '') AS clean_text
        |FROM k""".stripMargin,

    // Window-level duplication over word 5-grams WITH multiplicity; the
    // Spark side aggregates xxhash64 gram identities, the oracle the
    // gram strings — equal counts absent a 64-bit collision.
    "q80_dup_windows" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    1, greatest(1, len(ws) - 4))) AS i) t
        |),
        |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_windows,
        |  CAST(count(DISTINCT CASE WHEN cnt >= 2 THEN gram END) AS BIGINT)
        |    AS n_distinct_dup
        |FROM g JOIN c USING (gram) GROUP BY 1""".stripMargin,

    // Runs of consecutive duplicated windows; `i - row_number()` is
    // constant within a run on both engines (0- vs 1-based positions
    // only shift the constant).
    "q82_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    1, greatest(1, len(ws) - 4))) AS i) t
        |),
        |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
        |d AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM g JOIN c USING (gram) WHERE cnt >= 2
        |),
        |r AS (
        |  SELECT doc_id, count(*) AS run_len FROM d GROUP BY doc_id, grp
        |)
        |SELECT d0.doc_id,
        |  CAST(coalesce(max(r.run_len), 0) AS BIGINT) AS max_dup_run,
        |  CAST(coalesce(sum(CASE WHEN r.run_len >= 4 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_long_runs
        |FROM documents d0 LEFT JOIN r ON d0.doc_id = r.doc_id
        |GROUP BY 1""".stripMargin,

    "q52_lsh_portable" -> LshPortableSql,
    "q110_dedup_split" -> DedupSplitSql,

    // connected components of the candidate-pair graph by recursive
    // closure — an INDEPENDENT formulation of the min-label fixpoint
    "q63_dedup_clusters" ->
      s"""WITH RECURSIVE cand AS ($LshPortableSql),
         |e AS (
         |  SELECT id_a AS a, id_b AS b FROM cand
         |  UNION
         |  SELECT id_b, id_a FROM cand
         |),
         |r AS (
         |  SELECT a AS id, a AS l FROM e
         |  UNION
         |  SELECT e.a, r.l FROM e JOIN r ON e.b = r.id
         |)
         |SELECT id AS doc_id, min(l) AS cluster_id
         |FROM r GROUP BY id""".stripMargin,

    "q53_simhash_portable" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS g
        |  FROM w, LATERAL unnest(ws) AS u(t)
        |),
        |bits AS (
        |  SELECT doc_id, bit,
        |    CAST(sum((g >> CAST(bit AS INT)) & 1) AS BIGINT) AS cnt,
        |    count(*) AS n
        |  FROM tok, range(0, 32) r(bit)
        |  GROUP BY doc_id, bit
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN 2 * cnt > n
        |    THEN (CAST(1 AS BIGINT) << (31 - CAST(bit AS INT)))
        |    ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,

    "q49_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, text, greatest(1, length(text) - 7) AS np
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id, np, i,
        |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 8))
        |         AS BIGINT) AS h
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, np)) AS i) t
        |),
        |w AS (
        |  SELECT doc_id, np, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
        |  FROM g
        |),
        |f AS (
        |  SELECT DISTINCT doc_id, mh FROM w WHERE i <= greatest(1, np - 3)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |  CAST(min(mh) AS BIGINT) AS min_fp,
        |  CAST(max(mh) AS BIGINT) AS max_fp
        |FROM f GROUP BY doc_id""".stripMargin,

    "q45_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |),
        |b AS (
        |  SELECT doc_id, len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct,
        |    array_to_string(ws[i:i+1], ' ') AS bigram
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    1, greatest(1, len(ws) - 1))) AS i) g
        |),
        |c AS (
        |  SELECT doc_id, n_words, n_distinct, bigram, count(*) AS cnt
        |  FROM b GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_id, n_words, n_distinct,
        |  CAST(max(cnt) AS BIGINT) AS top_bigram_n,
        |  count(*) AS n_distinct_bigrams,
        |  CAST(sum(cnt) AS BIGINT) AS n_bigrams
        |FROM c GROUP BY 1, 2, 3""".stripMargin,

    "q46_contamination" ->
      s"""WITH $ShinglesSql,
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
         |SELECT doc_id, count(*) AS n_overlap
         |FROM sh JOIN bench USING (s)
         |WHERE doc_id % 97 <> 0
         |GROUP BY 1 HAVING count(*) >= 3""".stripMargin,

    // q144: the full (pair, bucket) grid makes absent buckets
    // explicit zeros — same sum as the Spark side's FULL OUTER join
    // over the union of supports; HUGEINT promotion mirrors the
    // decimal(38,0) products
    "q144_dist_drift" ->
      """WITH d AS (
        |  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |           1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |           1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    length(text) // 100 AS b
        |  FROM documents),
        |cnt AS (SELECT split, b, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |tot AS (SELECT split, CAST(sum(c) AS BIGINT) AS n
        |  FROM cnt GROUP BY 1),
        |sp AS (SELECT a.split AS sa, a.n AS na, b.split AS sb, b.n AS nb
        |  FROM tot a JOIN tot b ON a.split < b.split),
        |bk AS (SELECT DISTINCT b FROM cnt),
        |grid AS (SELECT sa, na, sb, nb, bk.b FROM sp, bk),
        |j AS (SELECT g.sa, g.sb, g.na, g.nb,
        |    coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
        |  FROM grid g
        |  LEFT JOIN cnt ca ON ca.split = g.sa AND ca.b = g.b
        |  LEFT JOIN cnt cb ON cb.split = g.sb AND cb.b = g.b)
        |SELECT sa AS slice_a, sb AS slice_b,
        |  CAST(sum(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
        |    * 10000 // (CAST(na AS HUGEINT) * 2 * nb) AS BIGINT) AS tv_bp,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
        |FROM j GROUP BY sa, sb, na, nb""".stripMargin,

    // q135: the q35 portable-bucket split recipe + the q46 shingle
    // recipe, reduced to DISTINCT (split, gram-hash) before the pair
    // join — both sides mirror that reduction, so fanout per hash is
    // bounded by the split count on either engine
    "q135_split_leakage" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |           1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |           1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, split,
        |    CAST(('0x' || substr(md5(array_to_string(words[i:i+2], ' ')),
        |      1, 8)) AS BIGINT) AS g
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    1, greatest(1, len(words) - 2))) AS i) t),
        |sp AS (SELECT DISTINCT split, g FROM sh),
        |shared AS (
        |  SELECT a.split AS split_a, b.split AS split_b, count(*) AS c
        |  FROM sp a JOIN sp b ON a.g = b.g AND a.split <> b.split
        |  GROUP BY 1, 2),
        |leaked AS (
        |  SELECT a.split AS split_a, sh.split AS split_b,
        |    count(DISTINCT sh.doc_id) AS ld
        |  FROM sh JOIN sp a ON a.g = sh.g AND a.split <> sh.split
        |  GROUP BY 1, 2)
        |SELECT split_a, split_b, CAST(shared.c AS BIGINT) AS shared_shingles,
        |  CAST(coalesce(leaked.ld, 0) AS BIGINT) AS leaked_docs
        |FROM shared LEFT JOIN leaked USING (split_a, split_b)""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY text) AS canonical_id,
        |  CAST(doc_id <> min(doc_id) OVER (PARTITION BY text) AS INT) AS is_dup
        |FROM documents""".stripMargin,

    "q21_dedup_ngram" ->
      s"""WITH $ShinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b
         |    ON a.s = b.s AND a.lang = b.lang AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
         |""".stripMargin,

    "q22_dedup_embedding" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, label, e,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        |  FROM v
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.e, b.e),
        |        x -> x[1] * x[2])) / (a.nrm * b.nrm) >= 0.4
        |""".stripMargin,

    "q23_ann_topk" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        |  FROM v
        |),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.e, c.e),
        |      x -> x[1] * x[2])) / (q.nrm * c.nrm) AS sim
        |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id % 50 = 0
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
        |FROM ranked WHERE rank <= 10
        |""".stripMargin,

    "q24_token_count" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,

    "q25_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9_\s]')) AS n_punct
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, text, n_punct,
        |    len(words) AS n_words,
        |    len(list_filter(words, w -> w IN
        |      ('the','a','of','and','to','in','is','it','for','on'))) AS n_stop
        |  FROM t
        |)
        |SELECT doc_id, n_words, n_punct,
        |  CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
        |  least(1.0, CAST(n_words AS DOUBLE) / 64.0) * 0.4
        |    + (1.0 - CAST(n_punct AS DOUBLE) / len(text)) * 0.3
        |    + (CAST(n_stop AS DOUBLE) / n_words) * 0.3 AS quality
        |FROM c""".stripMargin,

    "q101_bigram_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, a[i] || ' ' || a[i + 1] AS b
        |  FROM w, UNNEST(range(1, len(a))) AS t(i)
        |), pd AS (
        |  SELECT doc_id, b, count(*) AS k FROM bg GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS n_unique
        |  FROM pd GROUP BY 1
        |), own AS (
        |  SELECT b, count(*) AS df, max(doc_id) AS owner
        |  FROM pd GROUP BY b
        |), nov AS (
        |  SELECT owner AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |  FROM own WHERE df = 1 GROUP BY owner
        |)
        |SELECT d.doc_id,
        |  COALESCE(t.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(t.n_unique, 0) AS n_unique,
        |  COALESCE(n.n_novel, 0) AS n_novel,
        |  CAST(CASE WHEN COALESCE(t.n_unique, 0) > 0
        |    THEN COALESCE(n.n_novel, 0) * 10000 // t.n_unique
        |    ELSE 0 END AS BIGINT) AS novelty_bp
        |FROM documents d
        |LEFT JOIN tot t ON d.doc_id = t.doc_id
        |LEFT JOIN nov n ON d.doc_id = n.doc_id
        |""".stripMargin,

    "q106_corpus_sim" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, array_to_string(words[i:i+2], ' ') AS sg
        |  FROM (SELECT source,
        |          regexp_split_to_array(trim(text), '\s+') AS words
        |        FROM documents) w,
        |       LATERAL (SELECT unnest(generate_series(
        |          1, greatest(1, len(words) - 2))) AS i) g
        |), gh AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5(sg), 1, 8)) AS BIGINT) AS gv
        |  FROM sh
        |), rk AS (
        |  SELECT source, gv,
        |    row_number() OVER (PARTITION BY source ORDER BY gv) AS r
        |  FROM gh
        |), sk AS (
        |  SELECT source, gv FROM rk WHERE r <= 256
        |), pr AS (
        |  SELECT DISTINCT a.source AS sa, b.source AS sb
        |  FROM sk a, sk b WHERE a.source < b.source
        |), u AS (
        |  SELECT pr.sa, pr.sb, s.gv,
        |    max(CASE WHEN s.source = pr.sa THEN 1 ELSE 0 END) AS ina,
        |    max(CASE WHEN s.source = pr.sb THEN 1 ELSE 0 END) AS inb
        |  FROM pr JOIN sk s ON s.source = pr.sa OR s.source = pr.sb
        |  GROUP BY pr.sa, pr.sb, s.gv
        |), l AS (
        |  SELECT sa, sb, ina, inb,
        |    row_number() OVER (PARTITION BY sa, sb ORDER BY gv) AS r
        |  FROM u
        |)
        |SELECT sa AS source_a, sb AS source_b,
        |  CAST(count(*) AS BIGINT) AS sketch_size,
        |  CAST(sum(ina * inb) AS BIGINT) AS n_both,
        |  CAST(CAST(sum(ina * inb) AS BIGINT) * 10000 // count(*)
        |    AS BIGINT) AS jaccard_bp
        |FROM l WHERE r <= 256 GROUP BY sa, sb""".stripMargin,

    "q107_mixture_alloc" ->
      s"""WITH ${mixtureSqlCtes(MixBudget)}
         |SELECT source, avail_tokens, target_tokens,
         |  CAST(least(target_tokens, avail_tokens) AS BIGINT)
         |    AS alloc_tokens,
         |  CAST(target_tokens - least(target_tokens, avail_tokens)
         |    AS BIGINT) AS shortfall
         |FROM d""".stripMargin,

    // q121: threshold = value at descending-count position least(n, k)
    // — the multiset's k-th largest, tie-order-independent on both
    // engines; every term at or above it survives
    "q121_top_vocab_strat" ->
      """WITH t AS (
        |  SELECT lang, w AS term, count(*) AS c FROM (
        |    SELECT lang,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) u
        |  WHERE w <> '' GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, c,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM t
        |), thr AS (
        |  SELECT lang, max(CASE WHEN rn = least(n, 50) THEN c END) AS th
        |  FROM r GROUP BY lang
        |)
        |SELECT t.lang, term, CAST(c AS BIGINT) AS c
        |FROM t JOIN thr USING (lang) WHERE c >= th""".stripMargin,

    // q119: same md5-prefix hash, modulus bucket, and sign bit as the
    // Spark side; zero weights dropped on both engines
    "q119_hash_features" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(w || '|fh1'), 1, 8)) AS BIGINT) AS h
        |  FROM w WHERE w <> ''
        |), s AS (
        |  SELECT doc_id, h % 256 AS bucket,
        |    CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM h
        |)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(sum(sgn) AS BIGINT) AS weight
        |FROM s GROUP BY 1, 2 HAVING sum(sgn) <> 0""".stripMargin,

    // q120: KMV is deterministic — k smallest distinct gram hashes per
    // snapshot via rank, union-sketch of each consecutive pair, exact
    // overlap counts; the same shingle construction as ShinglesSql
    "q120_drift_series" ->
      """WITH w AS (
        |  SELECT doc_id // 125 AS snap,
        |    regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT snap, array_to_string(words[i:i+2], ' ') AS s
        |  FROM w, LATERAL (SELECT unnest(generate_series(
        |    1, greatest(1, len(words) - 2))) AS i) g
        |), hh AS (
        |  SELECT DISTINCT snap,
        |    CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
        |  FROM sh
        |), rk AS (
        |  SELECT snap, h,
        |    row_number() OVER (PARTITION BY snap ORDER BY h) AS rn
        |  FROM hh
        |), sk AS (SELECT snap, h FROM rk WHERE rn <= 256),
        |snaps AS (SELECT DISTINCT snap FROM sk),
        |pairs AS (
        |  SELECT a.snap AS s0, b.snap AS s1
        |  FROM snaps a JOIN snaps b ON b.snap = a.snap + 1
        |), mrg AS (
        |  SELECT p.s0, p.s1, sk.h,
        |    max(CASE WHEN sk.snap = p.s0 THEN 1 ELSE 0 END) AS in0,
        |    max(CASE WHEN sk.snap = p.s1 THEN 1 ELSE 0 END) AS in1
        |  FROM pairs p JOIN sk ON sk.snap = p.s0 OR sk.snap = p.s1
        |  GROUP BY 1, 2, 3
        |), r2 AS (
        |  SELECT s0, s1, in0, in1,
        |    row_number() OVER (PARTITION BY s0, s1 ORDER BY h) AS rn
        |  FROM mrg
        |)
        |SELECT s0 AS snap_prev, s1 AS snap,
        |  CAST(count(*) AS BIGINT) AS sketch_size,
        |  CAST(sum(in0 * in1) AS BIGINT) AS n_both,
        |  CAST(sum(in0 * in1) * 10000 // count(*) AS BIGINT)
        |    AS jaccard_bp
        |FROM r2 WHERE rn <= 256 GROUP BY 1, 2""".stripMargin,

    // q118: one phase block per budget with its Scala-generated lerped
    // weight literals, UNION ALL'd — WITH scoped inside each subquery
    "q118_curriculum" -> CurricBudgets.zipWithIndex.map { case (b, p) =>
      s"""SELECT $p AS phase, source, avail_tokens, target_tokens,
         |  CAST(least(target_tokens, avail_tokens) AS BIGINT)
         |    AS alloc_tokens,
         |  CAST(target_tokens - least(target_tokens, avail_tokens)
         |    AS BIGINT) AS shortfall
         |FROM (WITH ${mixtureSqlCtes(b, curricPhaseWeights(p))}
         |  SELECT source, avail_tokens, target_tokens FROM d)""".stripMargin
    }.mkString("\nUNION ALL\n"),

    // q115: q107's chain at a 40x budget (so targets exceed
    // availability), resolved into repeat epochs + a final fraction
    "q115_epoch_plan" ->
      s"""WITH ${mixtureSqlCtes(MixBudget * 40)}
         |SELECT source, avail_tokens, target_tokens,
         |  CAST(target_tokens // greatest(avail_tokens, 1) AS BIGINT)
         |    AS epochs,
         |  CAST((target_tokens % greatest(avail_tokens, 1)) * 10000
         |    // greatest(avail_tokens, 1) AS BIGINT) AS final_frac_bp,
         |  CAST(CASE WHEN target_tokens // greatest(avail_tokens, 1) >= 4
         |    THEN 1 ELSE 0 END AS INT) AS over_cap
         |FROM d""".stripMargin,

    "q109_encoding_quality" -> {
      import graft.operators.TextAnalysis.{
        ReplacementPattern, CtrlPattern, MojibakePattern}
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  CAST(CASE WHEN length(text) > 0
         |    THEN (strlen(text) * 10000) // length(text)
         |    ELSE 0 END AS BIGINT) AS bytes_per_char_bp,
         |  CAST(len(regexp_extract_all(text, '$ReplacementPattern', 0))
         |    AS BIGINT) AS n_replacement,
         |  CAST(len(regexp_extract_all(text, '$CtrlPattern', 0))
         |    AS BIGINT) AS n_ctrl,
         |  CAST(len(regexp_extract_all(text, '$MojibakePattern', 0))
         |    AS BIGINT) AS n_mojibake,
         |  (len(regexp_extract_all(text, '$ReplacementPattern', 0)) = 0
         |   AND len(regexp_extract_all(text, '$CtrlPattern', 0)) = 0
         |   AND len(regexp_extract_all(text, '$MojibakePattern', 0)) = 0)
         |    AS clean
         |FROM documents""".stripMargin
    },

    "q105_rrf_fuse" ->
      """WITH a AS (
        |  SELECT lang, doc_id, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY strlen(text) DESC, doc_id)
        |    AS INT) AS r
        |  FROM documents
        |), b AS (
        |  SELECT lang, doc_id, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT), doc_id) AS INT) AS r
        |  FROM documents
        |), u AS (
        |  SELECT lang, doc_id, 1000000000 // (60 + r) AS c
        |  FROM a WHERE r <= 20
        |  UNION ALL
        |  SELECT lang, doc_id, 1000000000 // (60 + r) AS c
        |  FROM b WHERE r <= 20
        |), f AS (
        |  SELECT lang, doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM u GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, doc_id, rrf_fp, n_sources,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY rrf_fp DESC, doc_id) AS INT) AS rank
        |  FROM f
        |)
        |SELECT lang, rank, doc_id, rrf_fp, n_sources
        |FROM r WHERE rank <= 10
        |""".stripMargin,

    "q35_dataset_split" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    % 100 AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q36_chunking" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |),
        |c AS (SELECT doc_id, words, len(words) AS n FROM w),
        |g AS (
        |  SELECT doc_id, words, CAST(i AS INT) AS chunk_idx
        |  FROM c, LATERAL (SELECT unnest(generate_series(0,
        |    CAST(ceil(CAST(greatest(0, n - 32) AS DOUBLE) / 16) AS INT))) AS i) t
        |)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(words[chunk_idx * 16 + 1 : chunk_idx * 16 + 32],
        |    ' ') AS chunk_text,
        |  len(words[chunk_idx * 16 + 1 : chunk_idx * 16 + 32]) AS n_tokens
        |FROM g""".stripMargin,

    "q37_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "q38_top_vocab" ->
      """WITH terms AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents
        |),
        |counts AS (SELECT term, count(*) AS n FROM terms GROUP BY 1),
        |ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n DESC, term) AS INT)
        |    AS rank, term, n
        |  FROM counts
        |)
        |SELECT rank, term, n FROM ranked WHERE rank <= 25""".stripMargin,

    "q39_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 100 < 20
        |GROUP BY 1""".stripMargin,

    "q42_pipeline" ->
      """WITH canon AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS m
        |    FROM documents) WHERE doc_id = m
        |),
        |q AS (
        |  SELECT d.doc_id, d.lang, d.text,
        |    regexp_split_to_array(trim(d.text), '\s+') AS words
        |  FROM documents d JOIN canon USING (doc_id)
        |),
        |scored AS (
        |  SELECT doc_id, lang, words,
        |    least(1.0, CAST(len(words) AS DOUBLE) / 64.0) * 0.4
        |    + (1.0 - CAST(len(regexp_extract_all(text,
        |        '[^A-Za-z0-9_\s]')) AS DOUBLE) / len(text)) * 0.3
        |    + (CAST(len(list_filter(words, w -> w IN
        |        ('the','a','of','and','to','in','is','it','for','on')))
        |        AS DOUBLE) / len(words)) * 0.3 AS quality
        |  FROM q
        |),
        |train AS (
        |  SELECT doc_id, lang, words FROM scored
        |  WHERE quality >= 0.5
        |    AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) % 100 < 80
        |),
        |chunks AS (
        |  SELECT doc_id, lang, CAST(i AS INT) AS chunk_idx
        |  FROM (SELECT doc_id, lang, words, len(words) AS n FROM train) t,
        |    LATERAL (SELECT unnest(generate_series(0,
        |      CAST(ceil(CAST(greatest(0, n - 32) AS DOUBLE) / 16) AS INT)))
        |      AS i) g
        |)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_chunks
        |FROM chunks GROUP BY 1""".stripMargin,

    "q26_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS words,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, cjk,
        |    len(list_filter(words, w -> w IN ('the','and','of','with','a'))) AS s_en,
        |    len(list_filter(words, w -> w IN ('der','die','und','nicht'))) AS s_de,
        |    len(list_filter(words, w -> w IN ('el','los','las','es'))) AS s_es,
        |    len(list_filter(words, w -> w IN ('le','les','et','est'))) AS s_fr
        |  FROM t
        |),
        |m AS (
        |  SELECT doc_id, cjk, s_en, s_de, s_es, s_fr,
        |    greatest(s_en, s_de, s_es, s_fr) AS best
        |  FROM c
        |)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN s_en = best AND best > 0 THEN 'en'
        |       WHEN s_de = best AND best > 0 THEN 'de'
        |       WHEN s_es = best AND best > 0 THEN 'es'
        |       WHEN s_fr = best AND best > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_id
        |FROM m""".stripMargin,

    // q111: line-level boilerplate removal — same md5-prefix line hash
    // on both engines; blank (trimmed-empty) lines never count and
    // never get removed. 1-based positions here, 0-based on the Spark
    // side — only counts and reconstructed text are compared.
    "q111_line_dedup" ->
      """WITH l0 AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
        |), l AS (
        |  SELECT doc_id, i,
        |    CAST(('0x' || substr(md5(trim(ls[i])), 1, 8)) AS BIGINT) AS h
        |  FROM l0, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) u
        |  WHERE trim(ls[i]) <> ''
        |), b AS (
        |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM l)
        |  GROUP BY h HAVING count(*) >= 3
        |), rm AS (
        |  SELECT doc_id, list(i) AS rms FROM l JOIN b USING (h) GROUP BY 1
        |)
        |SELECT l0.doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(coalesce(len(rms), 0) AS BIGINT) AS n_removed,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(1, len(ls) + 1),
        |      p -> NOT list_contains(coalesce(rms, []), p)),
        |    p -> ls[p]), chr(10)), '') AS clean_text
        |FROM l0 LEFT JOIN rm USING (doc_id)""".stripMargin,

    // q112: the corpus surviving decontamination — q46's overlap scan
    // inverted into a keep-filter over non-benchmark documents
    "q112_decontaminate" ->
      s"""WITH $ShinglesSql,
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |hot AS (
         |  SELECT doc_id FROM sh JOIN bench USING (s)
         |  WHERE doc_id % 97 <> 0 GROUP BY 1 HAVING count(*) >= 3
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % 97 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM hot)""".stripMargin,

    // q125: staged redaction — each count taken on the text as the
    // previous stages left it, exactly as the Spark side computes
    "q125_pii_redact" -> {
      import TextAnalysis.{EmailPattern, SsnPattern, Ipv4Pattern,
        PhonePattern}
      s"""WITH base AS (SELECT doc_id, $PiiAug AS t FROM documents),
         |s1 AS (SELECT doc_id, t,
         |  len(regexp_extract_all(t, '$EmailPattern')) AS n_email,
         |  regexp_replace(t, '$EmailPattern', '<EMAIL>', 'g') AS t1
         |  FROM base),
         |s2 AS (SELECT *,
         |  len(regexp_extract_all(t1, '$SsnPattern')) AS n_ssn,
         |  regexp_replace(t1, '$SsnPattern', '<SSN>', 'g') AS t2
         |  FROM s1),
         |s3 AS (SELECT *,
         |  len(regexp_extract_all(t2, '$Ipv4Pattern')) AS n_ipv4,
         |  regexp_replace(t2, '$Ipv4Pattern', '<IP>', 'g') AS t3
         |  FROM s2),
         |s4 AS (SELECT *,
         |  len(regexp_extract_all(t3, '$PhonePattern')) AS n_phone,
         |  regexp_replace(t3, '$PhonePattern', '<PHONE>', 'g') AS t4
         |  FROM s3)
         |SELECT doc_id,
         |  CAST(n_email AS BIGINT) AS n_email,
         |  CAST(n_ssn AS BIGINT) AS n_ssn,
         |  CAST(n_ipv4 AS BIGINT) AS n_ipv4,
         |  CAST(n_phone AS BIGINT) AS n_phone,
         |  t4 AS clean_text,
         |  (n_email + n_ssn + n_ipv4 + n_phone > 0) AS has_pii
         |FROM s4""".stripMargin
    },

    // q126: the same line/page rules over DuckDB list lambdas
    "q126_c4_rules" -> {
      val tp = TextAnalysis.TerminalPattern
      s"""WITH base AS (SELECT doc_id, $C4Aug AS t FROM documents),
         |l AS (SELECT doc_id, t,
         |  list_filter(string_split(t, chr(10)),
         |    x -> trim(x) <> '') AS lines FROM base),
         |k AS (SELECT doc_id, t, lines,
         |  list_filter(lines, x -> regexp_matches(trim(x), '$tp')
         |    AND len(string_split_regex(trim(x), ' +')) >= 5) AS kept
         |  FROM l)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
         |  contains(lower(t), 'lorem ipsum') AS has_lorem,
         |  contains(t, '{') AS has_brace,
         |  contains(lower(t), 'javascript') AS has_js,
         |  (contains(lower(t), 'privacy policy')
         |    OR contains(lower(t), 'terms of use')
         |    OR contains(lower(t), 'cookie policy')) AS has_policy,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         |  (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
         |    AND NOT contains(t, '{')
         |    AND NOT contains(lower(t), 'javascript')
         |    AND NOT (contains(lower(t), 'privacy policy')
         |      OR contains(lower(t), 'terms of use')
         |      OR contains(lower(t), 'cookie policy'))) AS page_keep
         |FROM k""".stripMargin
    },

    // q127: utf8proc NFC vs the Java kernel — stability-frozen, so
    // the normalized text itself hash-checks
    "q127_nfc_profile" ->
      s"""WITH base AS (SELECT doc_id, $NfcAug AS t FROM documents)
         |SELECT doc_id,
         |  CAST(length(t) AS BIGINT) AS n_chars_raw,
         |  CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
         |  (nfc_normalize(t) = t) AS is_nfc,
         |  nfc_normalize(t) AS nfc_text
         |FROM base""".stripMargin,

    // q277: the SAME shared regex chain (inline (?is) flags, no
    // backreferences) replayed over DuckDB's RE2 + list lambdas;
    // entity decode via plain replace() in the identical order
    "q277_html_extract" ->
      s"""WITH base AS (SELECT doc_id, $HtmlAug AS h FROM documents),
         |$MarkupCtes
         |SELECT doc_id, $MarkupSelect
         |FROM c""".stripMargin,

    // q280: end-to-end WARC ingest certificate — per-doc HTTP
    // responses wrapped in ISO 28500 records, concatenated into
    // multi-record streams, parsed BACK by the from-scratch record
    // walker + HTTP splitter, and the recovered bodies pushed through
    // the q277 extract chain. The oracle recomputes every output from
    // the generator directly: header fields are deterministic
    // functions of doc_id, content_length is the exact payload byte
    // count, and the clean text replays the shared markup chain — a
    // hash match certifies the byte-level encode→parse roundtrip AND
    // the header/payload split
    "q280_warc_extract" ->
      s"""WITH base AS (SELECT doc_id, $HtmlAug AS h FROM documents),
         |pay AS (SELECT doc_id, h,
         |  'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
         |  'Content-Type: text/html; charset=utf-8' ||
         |  chr(13) || chr(10) || chr(13) || chr(10) || h AS p
         |  FROM base),
         |$MarkupCtes
         |SELECT c.doc_id,
         |  'response' AS warc_type,
         |  'http://example.com/doc/' || CAST(c.doc_id AS VARCHAR)
         |    AS target_uri,
         |  CAST(strlen(pay.p) AS BIGINT) AS content_length,
         |  CAST(200 AS INTEGER) AS http_status,
         |  'text/html; charset=utf-8' AS http_content_type,
         |  $MarkupSelect
         |FROM c JOIN pay ON c.doc_id = pay.doc_id""".stripMargin,

    // q288: the WET conversion-record roundtrip is an identity over
    // the extracted text, so the oracle reads the markup chain
    // directly (ASCII corpus: chars == bytes for Content-Length)
    "q288_wet_extract" ->
      s"""WITH base AS (SELECT doc_id, $HtmlAug AS h FROM documents),
         |$MarkupCtes
         |SELECT doc_id, 'conversion' AS warc_type,
         |  n_chars AS content_length, clean_text AS text
         |FROM (SELECT doc_id, $MarkupSelect FROM c) q""".stripMargin,

    // q290: the WAT roundtrip oracle recomputes every output from
    // doc_id directly (the generator arithmetic — see watBlobs); a
    // hash match certifies the JSON encode → ISO 28500 record walk →
    // from_json extraction chain end to end
    "q290_wat_extract" ->
      """SELECT doc_id, 'metadata' AS warc_type,
        |  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |  'srv-' || CAST(doc_id % 7 AS VARCHAR) AS server,
        |  CAST(1 + doc_id % 4 AS BIGINT) AS n_links,
        |  array_to_string(list_transform(
        |    generate_series(1, CAST(1 + doc_id % 4 AS BIGINT)),
        |    j -> 'http://site' ||
        |      CAST(((doc_id + 97*j*j) % 100000) % 23 AS VARCHAR) ||
        |      '.example/doc/' ||
        |      CAST((doc_id + 97*j*j) % 100000 AS VARCHAR)), ' ')
        |    AS link_urls
        |FROM documents""".stripMargin,

    // q291: the host-graph projection replayed as arithmetic
    "q291_wat_hostgraph" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, CAST(1 + doc_id % 4 AS BIGINT)))
        |      AS j
        |  FROM documents),
        |e AS (
        |  SELECT 'site' || CAST(doc_id % 23 AS VARCHAR) || '.example'
        |      AS src_host,
        |    'site' ||
        |      CAST(((doc_id + 97*j*j) % 100000) % 23 AS VARCHAR) ||
        |      '.example' AS dst_host
        |  FROM l)
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        |FROM e GROUP BY 1, 2""".stripMargin,

    // q292: q130's recursive-CTE PageRank replay over the WAT host
    // graph (23 dense hosts — every node has in- AND out-edges, the
    // LEFT JOIN precondition; sum CAST back to BIGINT per the HUGEINT
    // rule)
    "q292_wat_hostrank" ->
      """WITH RECURSIVE
        |l AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, CAST(1 + doc_id % 4 AS BIGINT)))
        |      AS j
        |  FROM documents),
        |edges AS (
        |  SELECT DISTINCT CAST(doc_id % 23 AS BIGINT) AS src,
        |    CAST(((doc_id + 97*j*j) % 100000) % 23 AS BIGINT) AS dst
        |  FROM l),
        |nodes AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges
        |    UNION ALL SELECT dst FROM edges)),
        |od AS (SELECT src, count(*) AS cnt FROM edges GROUP BY src),
        |consts AS (
        |  SELECT CAST(1000000000000 AS BIGINT) AS scale,
        |    (SELECT count(*) FROM nodes) AS n),
        |pr(it, node, r) AS (
        |  SELECT 0, node, CAST(scale // n AS BIGINT)
        |  FROM nodes, consts
        |  UNION ALL
        |  SELECT c.it, nd.node,
        |    CAST((SELECT scale * 1500 // 10000 // n FROM consts)
        |      + coalesce(c.s, 0) AS BIGINT)
        |  FROM nodes nd
        |  LEFT JOIN (
        |    SELECT pr.it + 1 AS it, e.dst AS node,
        |      SUM((pr.r * 8500 // 10000) // od.cnt) AS s
        |    FROM pr JOIN edges e ON pr.node = e.src
        |    JOIN od ON od.src = pr.node
        |    GROUP BY 1, 2) c ON c.node = nd.node
        |  WHERE c.it <= 5
        |)
        |SELECT 'site' || CAST(node AS VARCHAR) || '.example' AS host,
        |  CAST(r AS BIGINT) AS rank
        |FROM pr WHERE it = 5""".stripMargin
  )

  /** Shared q277/q280 oracle chain: the markup strip + block keep rule
    * over a `base`/`pay` CTE exposing (doc_id, h). Ends in `c` with
    * (doc_id, blocks, content). */
  private val MarkupCtes: String = {
    import graft.operators.Markup._
    val wc = s"len(list_filter(string_split(x, ' '), " +
      s"w -> w <> '' AND w <> '$LinkMark'))"
    val lk = s"(len(string_split(x, '$LinkMark')) - 1)"
    s"""s1 AS (SELECT doc_id,
       |  regexp_replace(h, '$ScriptPattern', ' ', 'g') AS t FROM base),
       |s2 AS (SELECT doc_id,
       |  regexp_replace(t, '$StylePattern', ' ', 'g') AS t FROM s1),
       |s3 AS (SELECT doc_id,
       |  regexp_replace(t, '$CommentPattern', ' ', 'g') AS t FROM s2),
       |s4 AS (SELECT doc_id,
       |  regexp_replace(t, '$AnchorPattern', ' $LinkMark ', 'g') AS t
       |  FROM s3),
       |s5 AS (SELECT doc_id,
       |  regexp_replace(t, '$BlockBreakPattern', chr(10), 'g') AS t
       |  FROM s4),
       |s6 AS (SELECT doc_id,
       |  regexp_replace(t, '$TagPattern', ' ', 'g') AS t FROM s5),
       |s7 AS (SELECT doc_id, replace(replace(replace(replace(replace(
       |  replace(t, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
       |  '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s6),
       |s8 AS (SELECT doc_id,
       |  regexp_replace(t, '[ \\t]+', ' ', 'g') AS t FROM s7),
       |b AS (SELECT doc_id,
       |  list_filter(list_transform(string_split(t, chr(10)),
       |    x -> trim(x)), x -> x <> '') AS blocks FROM s8),
       |c AS (SELECT doc_id, blocks,
       |  list_filter(blocks, x -> $wc >= 5 AND $wc >= 4 * $lk)
       |    AS content FROM b)""".stripMargin
  }

  /** The q277-shape output columns over the `c` CTE. */
  private val MarkupSelect: String = {
    import graft.operators.Markup._
    s"""CAST(len(blocks) AS BIGINT) AS n_blocks,
       |  CAST(len(content) AS BIGINT) AS n_content,
       |  coalesce(array_to_string(list_transform(content,
       |    x -> trim(regexp_replace(replace(x, '$LinkMark', ''),
       |      ' +', ' ', 'g'))), chr(10)), '') AS clean_text,
       |  CAST(length(coalesce(array_to_string(list_transform(content,
       |    x -> trim(regexp_replace(replace(x, '$LinkMark', ''),
       |      ' +', ' ', 'g'))), chr(10)), '')) AS BIGINT) AS n_chars"""
      .stripMargin
  }
}

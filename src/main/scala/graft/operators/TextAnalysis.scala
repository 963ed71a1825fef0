package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd native functions (split /
  * regexp_extract_all / higher-order array functions) — no UDFs, so the
  * expressions stay inside whole-stage codegen and scale linearly with a
  * parquet scan.
  */
object TextAnalysis {

  /** Whitespace tokenization. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(words(text))

  /** BPE-ish token estimate: runs of word chars, or single punctuation
    * marks — a cheap proxy for subword tokenizer counts. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9_\\s]"), lit(0)))

  private val Stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Fraction of whitespace tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val w = words(text)
    val stops = filter(w, t => t.isInCollection(Stopwords))
    size(stops).cast("double") / size(w)
  }

  /** Composite quality score in [0, 1]:
    * 0.4·min(1, words/64) + 0.3·(1 − punct/chars) + 0.3·stopword_ratio.
    * All inputs are exact integers, so the double arithmetic is
    * bit-reproducible across engines. */
  def qualityScore(text: Column): Column = {
    val w = size(words(text)).cast("double")
    val chars = length(text).cast("double")
    val punct = punctCount(text).cast("double")
    least(lit(1.0), w / 64.0) * 0.4 +
      (lit(1.0) - punct / chars) * 0.3 +
      stopwordRatio(text) * 0.3
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "with", "a"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "es" -> Seq("el", "los", "las", "es"),
    "fr" -> Seq("le", "les", "et", "est")
  )

  private def markerCount(text: Column, markers: Seq[String]): Column =
    size(filter(words(lower(text)), t => t.isInCollection(markers)))

  /** Marker-word / CJK-script language heuristic. Returns the language
    * with the highest marker count (ties broken in en>de>es>fr order),
    * "zh" when CJK characters are present, "und" when nothing matches. */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, ms) => lang -> markerCount(text, ms) }
    val cjk = size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    val best = counts.tail.foldLeft(counts.head._2)((m, c) => greatest(m, c._2))
    val pick = counts.foldLeft(when(cjk > 0, "zh")) { case (acc, (lang, c)) =>
      acc.when(c === best && best > 0, lang)
    }
    pick.otherwise("und")
  }

  /** Per-document repetition statistics (Gopher-style quality signals,
    * Rae et al. 2021 §A1.1): token count, distinct-token count, and
    * bigram repetition (modal-bigram count, distinct and total bigrams).
    * All-integer output, so downstream ratio thresholds are exact and
    * engine-portable.
    *
    * Scale: entirely per-row — a single scan with a native codegen'd
    * n-gram-counting kernel; NO shuffle (the stats never need cross-row
    * data, so exploding bigrams through a group-by would shuffle the
    * whole re-tokenized corpus for nothing). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol),
        size(col("__ws")).as("n_words"),
        size(array_distinct(col("__ws"))).as("n_distinct"),
        graft.functions.NativeExprs.ngramStats(col("__ws"), 2).as("__st"))
      .select(col(idCol), col("n_words"), col("n_distinct"),
        col("__st.top_ngram_n").as("top_bigram_n"),
        col("__st.n_distinct_ngrams").as("n_distinct_bigrams"),
        col("__st.n_ngrams").as("n_bigrams"))

  /** Shuffle-based twin of `repetitionStats` (explode bigrams → two
    * group-bys); kept for the equivalence spec. */
  private[graft] def repetitionStatsShuffle(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokenized = df.select(col(idCol), words(col(textCol)).as("__ws"))
    val base = tokenized.select(col(idCol),
      size(col("__ws")).as("n_words"),
      size(array_distinct(col("__ws"))).as("n_distinct"),
      explode(transform(
        sequence(lit(1), greatest(lit(1), size(col("__ws")) - 1)),
        i => concat_ws(" ", slice(col("__ws"), i, lit(2))))).as("__bigram"))
    base
      .groupBy(col(idCol), col("n_words"), col("n_distinct"), col("__bigram"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("n_words"), col("n_distinct"))
      .agg(max(col("__c")).as("top_bigram_n"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum(col("__c")).as("n_bigrams"))
  }

  /** Benchmark-contamination check: corpus documents sharing at least
    * `minOverlap` distinct word n-grams with any document of the
    * benchmark set (`benchPred`). Output: (id, n_overlap), benchmark
    * rows excluded.
    *
    * Scale: the benchmark shingle set is distinct-ed and broadcast —
    * eval/test suites are small by construction; at extreme benchmark
    * sizes swap the broadcast for a bloom-filter pre-join. */
  def benchmarkOverlap(df: DataFrame, idCol: String, textCol: String,
                       benchPred: Column, n: Int,
                       minOverlap: Long): DataFrame = {
    val sh = Dedup.shingles(df, idCol, textCol, Seq.empty, n)
    val benchIds = df.filter(benchPred).select(col(idCol))
    val benchShingles = sh.join(benchIds, Seq(idCol), "left_semi")
      .select(col("__shingle")).distinct()
    sh.join(benchIds, Seq(idCol), "left_anti")
      .join(broadcast(benchShingles), Seq("__shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Cross-split n-gram leakage matrix — the train/eval contamination
    * AUDIT next to the binary scan ([[benchmarkOverlap]]) and the
    * transformation ([[decontaminate]]): for every ordered split pair
    * (a, b), how many distinct word-n-gram hashes the two splits
    * share, and how many of b's documents contain at least one gram
    * also present in a (the Lee et al. 2022 / GPT-3 appendix-style
    * overlap report, published next to a dataset card). Output:
    * (split_a, split_b, shared_shingles, leaked_docs) — ordered pairs
    * with zero overlap are omitted.
    *
    * All counts are exact integers over portable md5 gram hashes (the
    * [[Dedup]] shingle recipe), so the whole matrix hash-checks.
    *
    * Scale: gram rows reduce to DISTINCT (split, hash) FIRST (partial
    * agg — corpus text never moves); the pair join is keyed on the
    * 8-byte hash and each hash matches at most |splits| rows per
    * side, so fanout is bounded by the split count, never by document
    * frequency (a stopword gram contributes |splits|² rows, not
    * df²). The doc-level probe joins per-doc distinct grams against
    * the same bounded split-gram frame. No windows, no collects. */
  def crossSplitLeakage(df: DataFrame, idCol: String, textCol: String,
                        splitCol: String, n: Int = 3): DataFrame = {
    val sh = Dedup.shingles(df, idCol, textCol, Seq(splitCol), n)
      .select(col(idCol).as("__d"), col(splitCol).as("__s"),
        conv(substring(md5(col("__shingle")), 1, 8), 16, 10)
          .cast("long").as("__g"))
      .distinct()
      .transform(Materialize(_)) // feeds the split-gram set + doc probe
    val sp = sh.select(col("__s"), col("__g")).distinct()
      .transform(Materialize(_)) // self-join + doc probe
    val shared = sp.select(col("__s").as("split_a"), col("__g"))
      .join(sp.select(col("__s").as("split_b"), col("__g").as("__g2")),
        col("__g") === col("__g2"))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    val leaked = sh
      .join(sp.select(col("__s").as("split_a"), col("__g").as("__g2")),
        col("__g") === col("__g2"))
      .filter(col("split_a") =!= col("__s"))
      .select(col("split_a"), col("__s").as("split_b"), col("__d"))
      .distinct()
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("leaked_docs"))
    shared.join(leaked, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"), col("shared_shingles"),
        coalesce(col("leaked_docs"), lit(0L)).as("leaked_docs"))
  }

  /** Feature hashing (the hashing trick, Weinberger et al. ICML'09):
    * every document becomes a sparse `dim`-bucket vector with NO
    * trained vocabulary — bucket = portable word hash mod dim, weight
    * = signed count (sign from the hash's next bit, which unbiases
    * collisions). All-integer and engine-portable, so the featurizer
    * is oracle-checkable end to end; output is LONG format (id,
    * bucket, weight), the join/pivot-ready sparse encoding. One
    * partial-agg shuffle on (id, bucket) — word-count shape. Zero
    * weights (colliding +1/−1) are dropped: they carry no signal and
    * long-format sparsity is the point. */
  def hashFeatures(df: DataFrame, idCol: String, textCol: String,
                   dim: Int, seed: String): DataFrame = {
    require(dim > 0, "dim must be positive")
    val h = conv(substring(md5(concat(col("__w"), lit("|" + seed))),
      1, 8), 16, 10).cast("long")
    df.select(col(idCol), explode(words(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .withColumn("__h", h)
      .withColumn("bucket", expr(s"__h % ${dim}L"))
      .withColumn("__s",
        when(expr(s"(__h div ${dim}L) % 2L") === 0L, 1L).otherwise(-1L))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__s")).as("weight"))
      .filter(col("weight") =!= 0L)
  }

  /** Decontamination as a TRANSFORMATION: drop every non-benchmark
    * document whose distinct-n-gram overlap with the benchmark slice
    * reaches `minOverlap` (the docs [[benchmarkOverlap]] only reports),
    * and the benchmark rows themselves — what remains is the corpus
    * that is safe to train on. Same shuffle shape as the scan (shingle
    * hashes + broadcast benchmark set) plus one id-keyed anti-join;
    * the text column rides along untouched. */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    benchPred: Column, n: Int,
                    minOverlap: Long): DataFrame = {
    val hot = benchmarkOverlap(df, idCol, textCol, benchPred, n,
      minOverlap).select(col(idCol))
    df.filter(!benchPred).join(hot, Seq(idCol), "left_anti")
  }

  /** Document fingerprint: winnowing-style minimum over k-gram hashes,
    * plus the distinct k-gram count. Deterministic (murmur3 via `hash`). */
  def fingerprint(text: Column, k: Int = 8): Column = {
    val grams = transform(
      sequence(lit(1), greatest(lit(1), length(text) - (k - 1))),
      i => hash(substring2(text, i, lit(k))).cast("long"))
    struct(
      array_min(grams).as("min_hash"),
      size(array_distinct(grams)).as("distinct_grams"))
  }

  /** substring with column arguments (functions.substring takes Ints). */
  private def substring2(str: Column, pos: Column, len: Column): Column =
    str.substr(pos, len)

  /** URL domains mentioned in a text (lowercased; conservative
    * host-charset regex that parses identically across engines). The
    * building block for web-corpus domain stats, blocklist filtering,
    * and per-source quality accounting. */
  def domains(text: Column): Column =
    transform(
      regexp_extract_all(text, lit("https?://([A-Za-z0-9.-]+)"), lit(1)),
      lower(_))

  /** Per-domain corpus stats: mention count, distinct documents. */
  def domainStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(domains(col(textCol))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_mentions"),
        count_distinct(col(idCol)).as("n_docs"))

  // URL canonicalization pattern constants — ONE string each, shared
  // verbatim with every oracle (the q109 recipe): the RE2 ∩ Java
  // subset, no \uXXXX, no backreferences in replacements.
  val UrlFragmentRe = "#.*"
  val UrlSchemeHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
  val UrlPort80Re = ":80$"
  val UrlPort443Re = ":443$"
  val UrlQmRe = "\\?"
  val UrlTrackingRe = "&(utm_[a-z0-9_]+|fbclid|gclid|igshid|ref)=[^&#]*"
  val UrlQmAmpRe = "\\?&"
  val UrlTailRe = "[?&]+$"
  val UrlSlashRe = "/+$"

  /** Canonical URL form for dedup/accounting — the normalization a
    * web-corpus pipeline applies before "same page, same URL"
    * grouping collapses re-crawls: strip the fragment, lowercase
    * scheme+host (path/query stay case-sensitive), drop default ports
    * :80/:443, remove tracking parameters (utm_*, fbclid, gclid,
    * igshid, ref) wherever they sit in the query string, and trim
    * dangling `?`/`&`/trailing slashes. Pure per-row regex chain over
    * the shared pattern constants above — engine-reproducible (DuckDB
    * mirrors each step with the 'g' flag), scan-local, zero shuffle.
    * Mechanics: the one literal `?` is doubled to `?&` first so every
    * parameter is `&`-preceded and ONE tracking-pattern erase handles
    * first/middle/last positions alike; the marker is folded back
    * after. Multi-`?` URLs are malformed; they degrade identically on
    * both engines. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, UrlFragmentRe, "")
    val prefix = regexp_extract(noFrag, UrlSchemeHostRe, 0)
    val rest = noFrag.substr(length(prefix) + 1, lit(1000000))
    val canonPre = regexp_replace(
      regexp_replace(lower(prefix), UrlPort80Re, ""), UrlPort443Re, "")
    val marked = regexp_replace(concat(canonPre, rest), UrlQmRe, "?&")
    val stripped = regexp_replace(marked, UrlTrackingRe, "")
    val folded = regexp_replace(stripped, UrlQmAmpRe, "?")
    regexp_replace(regexp_replace(folded, UrlTailRe, ""), UrlSlashRe, "")
  }

  /** Canonical-URL dedup accounting: rows collapse to one row per
    * canonical form with mention/distinct-doc counts and the
    * canonical representative (smallest id) — the exact-dedup shape
    * ([[Dedup.exact]]) keyed on [[canonicalUrl]]. One partial-agg
    * shuffle on the canonical string. */
  def urlDedupStats(df: DataFrame, idCol: String,
                    urlCol: String): DataFrame =
    df.select(col(idCol), canonicalUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_mentions"),
        count_distinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("canonical_id"))

  /** Full winnowing fingerprint set (Schleimer et al., SIGMOD'03 — the
    * algorithm behind MOSS): character k-gram hashes, minimum per
    * sliding window of `w`, distinct minima per document. Guarantees a
    * shared fingerprint for any match of length ≥ w + k − 1, at ~2/(w+1)
    * of the grams retained — the standard plagiarism / near-copy
    * detector at corpus scale.
    *
    * The gram hash is an md5 prefix (like `Splits`), not murmur3, so the
    * exact fingerprint sets are reproducible on ANY engine with md5 —
    * `('0x' || substr(md5(g), 1, 8))::BIGINT` in DuckDB — which makes
    * this variant oracle-checkable end to end (`fingerprint` above keeps
    * the cheaper murmur3 for engine-internal use).
    *
    * The gram array is materialized as its own projection attribute
    * before the window pass: HOF lambdas get no codegen CSE, so an
    * expression-level formulation would re-hash all grams once per
    * window — O(len²) md5 calls per document. */
  def winnowStats(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 4): DataFrame = {
    val text = col(textCol)
    val nGrams = greatest(lit(1), length(text) - (k - 1))
    df.select(col(idCol),
        transform(sequence(lit(1), nGrams), i =>
          conv(substring2(md5(substring2(text, i, lit(k))), lit(1), lit(8)),
            16, 10).cast("long")).as("__grams"))
      .withColumn("__wins",
        transform(
          sequence(lit(1), greatest(lit(1), size(col("__grams")) - (w - 1))),
          j => array_min(slice(col("__grams"), j, lit(w)))))
      .select(col(idCol),
        array_distinct(col("__wins")).as("__fps"))
      .select(col(idCol),
        size(col("__fps")).cast("long").as("n_fp"),
        array_min(col("__fps")).as("min_fp"),
        array_max(col("__fps")).as("max_fp"))
  }

  /** Per-document word-bigram NOVELTY against the whole corpus: how
    * much of a doc's distinct bigram vocabulary appears in NO other
    * document. Near-zero novelty = boilerplate / templated content
    * (the doc says nothing the corpus doesn't already say); very high
    * novelty on long docs often flags noise. The count-based
    * complement of embedding near-dup scoring, and integer-exact.
    *
    * Output per doc: `n_bigrams` (with multiplicity), `n_unique`
    * (distinct), `n_novel` (distinct with corpus document-frequency
    * 1), `novelty_bp` = n_novel·10000 div n_unique (0 for docs with
    * fewer than two words).
    *
    * Plan shape: one (doc, bigram) partial-agg shuffle, then a
    * bigram-keyed count rollup. Novel bigrams are recovered WITHOUT
    * joining the df table back to the postings (the skewed attach
    * invertedIndex needs): a bigram with df = 1 has exactly one owner,
    * so `max(doc_id)` of its group IS the owner, and per-doc novel
    * counts fall out of a second tiny aggregate. No window, no skewed
    * join, nothing a hot stopword bigram can serialize. */
  def bigramNovelty(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val w = words(col(textCol))
    val bigrams = zip_with(
      slice(w, lit(1), greatest(lit(0), size(w) - 1)),
      slice(w, lit(2), greatest(lit(0), size(w) - 1)),
      (a, b) => concat(a, lit(" "), b))
    val perDoc = df
      .select(col(idCol).as("__d"), explode(bigrams).as("__bg"))
      .groupBy("__d", "__bg").agg(count(lit(1)).as("__k"))
    val totals = perDoc.groupBy(col("__d"))
      .agg(sum(col("__k")).as("n_bigrams"),
        count(lit(1)).as("n_unique"))
    val novel = perDoc.groupBy(col("__bg"))
      .agg(count(lit(1)).as("__df"), max(col("__d")).as("__owner"))
      .filter(col("__df") === 1)
      .groupBy(col("__owner")).agg(count(lit(1)).as("__novel"))
    df.select(col(idCol))
      .join(totals, col(idCol) === col("__d"), "left")
      .join(novel, col(idCol) === col("__owner"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("__novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_unique"), lit(0L)) > 0,
          expr("coalesce(__novel, 0L) * 10000L div n_unique"))
          .otherwise(lit(0L)).as("novelty_bp"))
  }

  /** Shared pattern text for [[encodingQuality]] and its DuckDB oracle
    * twin: literal characters (Scala unicode escapes) plus ASCII-hex
    * ranges — the subset of regex syntax Java regex and RE2 parse
    * IDENTICALLY, so one pattern string serves both engines. */
  private[graft] val ReplacementPattern = "\uFFFD"
  private[graft] val CtrlPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
  // UTF-8 bytes re-decoded as Latin-1/cp1252: C3 xx pairs surface as
  // U+00C3 followed by a continuation-range char; E2 80 xx as U+00E2
  // U+20AC. Bare accented letters (French pâte etc.) do
  // NOT trigger - only the two-char artifacts.
  private[graft] val MojibakePattern =
    "(\u00C3[\u0080-\u00BF])|(\u00E2\u20AC)"

  /** Compression-ratio quality signal (Rae et al., Gopher 2021 §A1.1
    * filter on the gzip-compressibility of a page): raw-deflate byte
    * count vs raw UTF-8 byte count, in basis points. Hyper-compressible
    * docs (low ratio) are boilerplate/template/repetition; docs that
    * barely compress (ratio near or above 10000) are binary noise,
    * base64 blobs, or high-entropy garbage — both tails are what the
    * filter drops. Complements [[repetitionStats]]: deflate sees
    * LONG-RANGE and sub-token redundancy that word-bigram stats miss.
    *
    * Scale: per-row native codegen kernel ([[graft.functions.DeflateKernel]],
    * constant scratch memory per executor thread), NO shuffle. The
    * byte count is deterministic on a given JVM but zlib output is not
    * engine-portable → rows-only in the oracle gate; the spec pins the
    * orderings that make the signal useful. */
  def compressionSignals(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      octet_length(t).cast("long").as("raw_bytes"),
      graft.functions.NativeExprs.deflateLen(t).as("deflate_bytes"))
      .withColumn("deflate_ratio_bp",
        when(col("raw_bytes") > 0,
          expr("deflate_bytes * 10000L div raw_bytes"))
          .otherwise(lit(0L)))
  }

  /** Shared PII pattern text — same Java/RE2-identical regex subset as
    * [[ReplacementPattern]] (literal chars, ASCII classes, `\b`, no
    * backreferences), so ONE string drives both engines. */
  private[graft] val EmailPattern =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val SsnPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[graft] val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private[graft] val PhonePattern = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII redaction — the pre-training scrub every public-web corpus
    * runs (emails, SSN-shaped ids, IPv4 addresses, phone numbers
    * replaced by typed placeholders). Patterns apply SEQUENTIALLY
    * (email → ssn → ipv4 → phone, most-specific first) and each count
    * is taken on the text as the PREVIOUS stages left it, so a digit
    * run never double-counts as both SSN and phone; placeholders
    * contain no digits, so later patterns cannot match into them.
    *
    * Scale: pure per-row projection — no shuffle, no UDF; Catalyst
    * subexpression elimination shares the staged texts across the
    * count and replace columns. Counts and the redacted text are
    * engine-exact (shared pattern text) → fully oracle-checkable. */
  /** The full redaction chain as ONE column expression — for
    * pipelines (e.g. the streaming scrub) that rewrite the text in
    * place and carry every other column along. */
  def piiRedactedText(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, lit(EmailPattern), lit("<EMAIL>")),
          lit(SsnPattern), lit("<SSN>")),
        lit(Ipv4Pattern), lit("<IP>")),
      lit(PhonePattern), lit("<PHONE>"))

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, lit(EmailPattern), lit("<EMAIL>"))
    val t2 = regexp_replace(t1, lit(SsnPattern), lit("<SSN>"))
    val t3 = regexp_replace(t2, lit(Ipv4Pattern), lit("<IP>"))
    val t4 = regexp_replace(t3, lit(PhonePattern), lit("<PHONE>"))
    df.select(col(idCol),
      regexp_count(t0, lit(EmailPattern)).cast("long").as("n_email"),
      regexp_count(t1, lit(SsnPattern)).cast("long").as("n_ssn"),
      regexp_count(t2, lit(Ipv4Pattern)).cast("long").as("n_ipv4"),
      regexp_count(t3, lit(PhonePattern)).cast("long").as("n_phone"),
      t4.as("clean_text"))
      .withColumn("has_pii",
        col("n_email") + col("n_ssn") + col("n_ipv4") + col("n_phone") > 0L)
  }

  /** Line predicate pattern shared with the DuckDB oracle: a trimmed
    * line "ends in terminal punctuation" (C4's sentence proxy). */
  private[graft] val TerminalPattern = "[.!?\"]$"

  /** C4-style quality-rule battery (Raffel et al., JMLR 2020 §2.2):
    * line rules (keep lines that end in terminal punctuation AND carry
    * ≥ `minLineWords` words) and page rules (≥ `minLines` surviving
    * lines; no "lorem ipsum"; no '{'; no javascript warnings; no
    * policy boilerplate). Emits per-document counts, each page flag,
    * the cleaned text (surviving lines re-joined), and the final
    * `page_keep` verdict — all string/integer exact, so the WHOLE
    * battery is oracle-checkable.
    *
    * Scale: per-row HOF scan work over the line array — no shuffle;
    * the per-line lambdas are cheap (one regex + one split per line),
    * so the no-expensive-subtree-in-HOF rule is respected. */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minLines: Int = 3): DataFrame = {
    val t = col(textCol)
    val low = lower(t)
    val lines = filter(split(t, "\n"), x => trim(x) =!= "")
    val kept = filter(lines, x =>
      trim(x).rlike(TerminalPattern) &&
        size(split(trim(x), " +")) >= minLineWords)
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      low.contains("lorem ipsum").as("has_lorem"),
      t.contains("{").as("has_brace"),
      low.contains("javascript").as("has_js"),
      (low.contains("privacy policy") || low.contains("terms of use") ||
        low.contains("cookie policy")).as("has_policy"),
      concat_ws("\n", kept).as("clean_text"))
      .withColumn("page_keep",
        col("n_kept_lines") >= minLines.toLong && !col("has_lorem") &&
          !col("has_brace") && !col("has_js") && !col("has_policy"))
  }

  /** Unicode NFC normalization profile — the canonicalization pass run
    * before hashing/dedup so that decomposed ("e" + U+0301) and
    * precomposed ("é") spellings of the same text collide. Emits the
    * normalized text plus before/after char counts and an `is_nfc`
    * flag (docs already canonical pass through byte-identical).
    * Per-row native codegen kernel ([[graft.functions.NfcNormalize]]),
    * no shuffle; NFC is frozen by the Unicode stability policy, so
    * Java and utf8proc (DuckDB) agree → fully oracle-checkable. */
  def nfcProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val n = graft.functions.NativeExprs.nfc(t)
    df.select(col(idCol),
      length(t).cast("long").as("n_chars_raw"),
      length(n).cast("long").as("n_chars_nfc"),
      (n === t).as("is_nfc"),
      n.as("nfc_text"))
  }

  /** [[encodingQuality]]'s `clean` verdict as a standalone predicate
    * (no replacement chars, no C0 controls, no mojibake artifacts). */
  def encodingClean(t: Column): Column =
    regexp_count(t, lit(ReplacementPattern)) === 0 &&
      regexp_count(t, lit(CtrlPattern)) === 0 &&
      regexp_count(t, lit(MojibakePattern)) === 0

  def encodingQuality(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      length(t).cast("long").as("n_chars"),
      octet_length(t).cast("long").as("n_bytes"),
      when(length(t) > 0,
        expr(s"(octet_length($textCol) * 10000L) div length($textCol)"))
        .otherwise(lit(0L)).cast("long").as("bytes_per_char_bp"),
      regexp_count(t, lit(ReplacementPattern)).cast("long")
        .as("n_replacement"),
      regexp_count(t, lit(CtrlPattern)).cast("long").as("n_ctrl"),
      regexp_count(t, lit(MojibakePattern)).cast("long")
        .as("n_mojibake"))
      .withColumn("clean",
        col("n_replacement") === 0L && col("n_ctrl") === 0L &&
          col("n_mojibake") === 0L)
  }

  /** Patterns shared with readability oracles — pure ASCII with NO
    * backslash escapes, because Spark SQL string literals process
    * escapes while standard SQL strings do not; these parse identically
    * in Java regex and RE2. */
  val ReadWordPattern = "[^ ]+"
  val ReadSentencePattern = "[.!?]+"
  val ReadSyllablePattern = "[aeiouyAEIOUY]+"

  /** Flesch–Kincaid grade-level readability per document, exact fixed
    * point (scale 10^4): counts words (space-separated runs), sentences
    * (terminal-punctuation runs, min 1), and syllables (vowel-group
    * runs, the standard cheap proxy), then
    * `fk_fp = (3900·w² + 118000·sy·s − 155900·w·s) div (w·s)`
    * — the cross-multiplied form of 0.39·w/s + 11.8·sy/w − 15.59,
    * sign factored out so truncation is engine-portable. Counts ride
    * regexp_count in the scan (codegen), products ride decimal(38,0).
    *
    * Per-row only — no shuffle at all. Output: (id, words, sentences,
    * syllables, fk_fp). */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        greatest(lit(1L),
          regexp_count(col(textCol), lit(ReadWordPattern)).cast("long"))
          .as("words"),
        greatest(lit(1L),
          regexp_count(col(textCol), lit(ReadSentencePattern)).cast("long"))
          .as("sentences"),
        regexp_count(col(textCol), lit(ReadSyllablePattern)).cast("long")
          .as("syllables"))
      .withColumn("fk_fp", expr(
        """cast(case
          |  when 3900 * cast(words as decimal(38,0)) * words +
          |       118000 * cast(syllables as decimal(38,0)) * sentences -
          |       155900 * cast(words as decimal(38,0)) * sentences >= 0
          |    then (3900 * cast(words as decimal(38,0)) * words +
          |          118000 * cast(syllables as decimal(38,0)) * sentences -
          |          155900 * cast(words as decimal(38,0)) * sentences)
          |         div (cast(words as decimal(38,0)) * sentences)
          |  else -((-(3900 * cast(words as decimal(38,0)) * words +
          |            118000 * cast(syllables as decimal(38,0)) * sentences -
          |            155900 * cast(words as decimal(38,0)) * sentences))
          |         div (cast(words as decimal(38,0)) * sentences))
          |  end as long)""".stripMargin))
}

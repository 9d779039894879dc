package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.ops.{Ingest, LlmOps, Relational, Temporal}
import graft.pipeline.ZoomJobs
import graft.QShared._

/** TextCuration slice of the declared query slate — split from the former 4.3k-line
  * SparkEntry.scala (VERDICT r7 #7); bodies moved verbatim, composition in
  * [[SparkEntry]] keeps the driver contract identical. */
private[graft] object QTextCuration {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "text_stats" -> ((s, dir) =>
      LlmOps.textStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "rake_keywords" -> ((s, dir) =>
      // RAKE keyword scoring: stopword-delimited phrase runs → one
      // (word)-grain aggregate of exact (freq, deg) longs; top-25 by
      // integer order via TakeOrderedAndProject — a word count's shape
      LlmOps.rakeKeywords(t(s, dir, "documents"), "text", k = 25)),

    "sample_bias_audit" -> ((s, dir) =>
      // does the 10% hash sample keep the corpus mix? per-lang corpus
      // share vs in-sample share + absolute drift — one conditional
      // aggregate, the stratification check before a sample is trusted
      t(s, dir, "documents")
        .select(col("lang"),
          (pmod(LlmOps.md5Hash48(col("doc_id").cast("string"), 1),
            lit(10L)) === 0L).cast("long").as("__in"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_corpus"),
          sum(col("__in")).cast("long").as("n_sample"))
        .withColumn("__tc", sum(col("n_corpus")).over(Window.partitionBy()))
        .withColumn("__ts", sum(col("n_sample")).over(Window.partitionBy()))
        .select(col("lang"), col("n_corpus"), col("n_sample"),
          (col("n_corpus").cast("double") / col("__tc").cast("double"))
            .as("corpus_share"),
          (col("n_sample").cast("double") / col("__ts").cast("double"))
            .as("sample_share"),
          abs(col("n_sample").cast("double") / col("__ts").cast("double")
            - col("n_corpus").cast("double") / col("__tc").cast("double"))
            .as("share_drift"))
        .orderBy("lang")),

    "vocab_pruning_curve" -> ((s, dir) =>
      // tokenizer-budget planning: vocab size + token coverage at each
      // min-count cutoff — the whole curve from one scan
      LlmOps.vocabPruningCurve(t(s, dir, "documents"), "text",
          cutoffs = Seq(1L, 2L, 5L, 10L, 50L))
        .orderBy("min_count")),

    "golden_record_merge" -> ((s, dir) =>
      // MDM survivorship: bag-of-words duplicate groups (token-SET
      // fingerprint — permutations/repetitions of one vocabulary slice
      // canonicalize together) merge FIELD-WISE (per-field mode,
      // deterministic ties) — the minority row's better attribute
      // survives where whole-row picks discard it
      LlmOps.goldenRecordMerge(t(s, dir, "documents"), "doc_id",
          md5(concat_ws(" ",
            array_sort(array_distinct(LlmOps.tokens(col("text")))))),
          "lang", "source", "n_chars")
        .orderBy("fp")),

    "lang_id_confusion" -> ((s, dir) =>
      // heuristic-vs-truth confusion matrix + per-truth recall share —
      // the eval that gates routing on the cheap lang-ID
      LlmOps.langIdConfusion(t(s, dir, "documents"), "doc_id", "text",
          "lang")
        .orderBy("lang_true", "lang_guess")),

    "dataset_card" -> ((s, dir) =>
      // one-row corpus release card (datasheets practice, Gebru CACM'21):
      // counts, exact size moments, md5 exact-dup rate, short-doc share,
      // sorted language list — ONE aggregate pass
      LlmOps.datasetCard(t(s, dir, "documents"), "doc_id", "text",
          "lang", "source")),

    "feature_hash_load" -> ((s, dir) =>
      // hashing-trick slot census (Weinberger ICML'09): 64 fixed feature
      // buckets — total token mass, distinct-token collisions, doc reach;
      // one explode + one bucket-grain aggregate, 64 rows at any scale
      LlmOps.featureHashLoad(t(s, dir, "documents"), "doc_id", "text",
          nBuckets = 64)
        .orderBy("bucket")),

    "quality_resample" -> ((s, dir) =>
      // score-proportional deterministic thinning audit: keep iff
      // md5-48(id) mod 1000 < per-mille alpha ratio; per-lang realized
      // vs expected keep rates in ONE aggregate
      LlmOps.qualityResample(t(s, dir, "documents"), "doc_id", "text",
          "lang")
        .orderBy("lang")),

    "quality_score" -> ((s, dir) =>
      LlmOps.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "lang_id" -> ((s, dir) =>
      LlmOps.langIdHeuristic(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "lang_profile" -> ((s, dir) =>
      LlmOps.langProfile(t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("lang")),

    "bm25_topk" -> ((s, dir) => {
      // lexical retrieval for RAG / hard-negative mining: BM25 top-5 docs
      // per query over a 3-query workload; query terms broadcast and prune
      // the postings before any join, per-query top-k plans as
      // WindowGroupLimit
      import s.implicits._
      val q = Seq(
        ("q1", "spark"), ("q1", "join"), ("q1", "fast"),
        ("q2", "table"), ("q2", "scan"), ("q2", "window"),
        ("q3", "dup"), ("q3", "vector"), ("q3", "merge"))
        .toDF("query_id", "term")
      val out = LlmOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          q, k = 5)
        .orderBy("query_id", "rank")
      out
    }),

    "pmi_pairs" -> ((s, dir) =>
      // collocation mining for vocab/tokenizer work: top-20 co-occurring
      // term pairs (df>=3 vocab, alphabetically-first-32 terms per doc)
      // with PMI lift; pair emission is in-array, never a per-doc
      // self-join
      LlmOps.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
        minDf = 3, perDocCap = 32, k = 20)),

    "tfidf_top_terms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs
        .select(col("doc_id"), explode(LlmOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val stats = toks.groupBy("token")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("__n"))
      // log-free surrogate weight tf·N/df: same ranking shape as tf-idf,
      // pure exact-int → IEEE-division arithmetic both engines reproduce
      // bitwise (ln() last-ulp behavior is libm-specific — not hashable)
      stats.crossJoin(broadcast(nDocs))
        .select(col("token"), col("tf"), col("df"),
          (col("tf").cast("double") * col("__n") / col("df")).as("score"))
        .orderBy(col("score").desc, col("token").asc)
        .limit(20)
    }),

    "cms_term_counts" -> ((s, dir) =>
      // deliberately small width (64) at test scale so counter collisions
      // occur and the min-fold + no-underestimate invariant are exercised;
      // the DuckDB twin replays the whole grid (hard sketch oracle)
      LlmOps.cmsTermCounts(t(s, dir, "documents"), "text",
          depth = 4, width = 64, topK = 20)
        .orderBy(col("n_true").desc, col("term_hash").asc)),

    "contamination_check" -> ((s, dir) => {
      // decontamination: containment of each non-benchmark doc's shingle
      // set against the src0 "benchmark" slice (broadcast semi-join on
      // 8-byte hashes — corpus text never shuffles)
      val docs = t(s, dir, "documents")
      LlmOps.contamination(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", shingleN = 3)
        .orderBy("doc_id")
    }),

    "contamination_bloom" -> ((s, dir) => {
      // sketch-side decontamination: benchmark → broadcast bit-position
      // set (k=3, 2^18 bits), membership = semi-join + count-equals-k.
      // Exact hits ride alongside, so the false-positive rate is measured
      // and the no-false-negative invariant (bloom_ok) is checked per doc.
      val docs = t(s, dir, "documents")
      LlmOps.contaminationBloom(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          shingleN = 3, bits = 1 << 18, k = 3)
        .orderBy("doc_id")
    }),

    "chunk_contamination" -> ((s, dir) => {
      // passage-granular decontamination: non-src0 docs sharing an
      // aligned 16-token chunk fingerprint with the src0 "benchmark"
      // slice (2 docs / 12 chunk hits at sf0.01 — planted by the corpus's
      // cross-source dup structure)
      val docs = t(s, dir, "documents")
      LlmOps.chunkContamination(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", window = 16, stride = 8)
        .orderBy("doc_id")
    }),

    "chunk_windows" -> ((s, dir) =>
      // RAG chunking with overlap: 40-token windows, stride 20; boundary
      // arithmetic is integer-exact, fingerprints are md5 — every row
      // hash-replays in the oracle
      LlmOps.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
          window = 40, stride = 20)
        .orderBy("doc_id", "chunk_id")),

    "cdc_chunks" -> ((s, dir) =>
      // content-defined chunking: boundaries where the md5-48 token hash
      // ≡ 0 (mod 32) — insertion-stable variable chunks, fp hash-replayed
      LlmOps.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
          targetTokens = 32)
        .orderBy("doc_id", "chunk_idx")),

    "cdc_dedup_stats" -> ((s, dir) =>
      // chunk-store redundancy census over the CDC chunking: the
      // fraction of chunk occurrences a dedup store would not re-store
      LlmOps.cdcDedupStats(t(s, dir, "documents"), "doc_id", "text",
          targetTokens = 32)),

    "bpe_pair_counts" -> ((s, dir) =>
      // tokenizer-training statistic: the first BPE merge step's top
      // adjacent char-pair counts inside whitespace tokens
      LlmOps.bpePairCounts(t(s, dir, "documents"), "text", k = 20)),

    "bpe_apply" -> ((s, dir) =>
      // tokenize with the learned merges: the post-merge symbol
      // vocabulary's top-20, weighted by corpus occurrence — the working
      // vocabulary a trainer inspects for merge quality. Hash-exact twin
      // extends the bpe_learn CTE chain with one split+count
      LlmOps.bpeApply(t(s, dir, "documents"), "text", steps = 4, k = 20)),

    "bpe_learn" -> ((s, dir) =>
      // the actual tokenizer-training loop: 4 iterative merge steps over
      // the distinct-token vocabulary (one pair-count job + 1-row argmax
      // per step, localCheckpoint lineage truncation). HARD oracle: the
      // DuckDB twin unrolls the 4 steps as CTEs and must reproduce every
      // (step, pair, cnt) exactly
      LlmOps.bpeLearn(t(s, dir, "documents"), "text", steps = 4)),

    "heavy_hitters" -> ((s, dir) =>
      // frequent-terms sketch contract: exact heavy hitters (>N/33 of all
      // tokens) each checked against the native Misra-Gries summary's
      // no-false-negative and bounded-under-count theorems
      LlmOps.heavyHitters(t(s, dir, "documents"), "text", k = 32)),

    "group_heavy_hitters" -> ((s, dir) =>
      // per-language frequent terms: one MG sketch per lang from a
      // single aggregate, theorem-contract checks per group
      LlmOps.groupHeavyHitters(t(s, dir, "documents"), "lang", "text",
          k = 64)),

    "mixture_apply" -> ((s, dir) => {
      // the sampling step that EXECUTES mixture_plan: per-source rates
      // derived from the data in the same job, broadcast, then a pure
      // hash-threshold filter — the corpus itself never shuffles
      val withTokens = t(s, dir, "documents").select(col("doc_id"),
        col("source"), regexp_count(col("text"), lit("\\S+")).cast("long").as("__n"))
      LlmOps.mixtureApply(withTokens, "source", "doc_id", "__n")
        .orderBy("doc_id")
    }),

    "mixture_waterfill" -> ((s, dir) => {
      // capped-source budget allocation: small sources contribute all
      // they have, the rest splits evenly above them — closed-form
      // waterline over the |sources| relation, exact longs to one divide
      val docs = t(s, dir, "documents")
      val withTokens = docs.select(col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__n"))
      LlmOps.mixtureWaterfill(withTokens, "source", "__n", budget = 20000L)
        .orderBy("source")
    }),

    "mixture_plan" -> ((s, dir) => {
      // training-mixture planning: per-source token shares + the
      // deterministic downsample-to-smallest rates that equalize sources
      val docs = t(s, dir, "documents")
      val withTokens = docs.select(col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__n"))
      LlmOps.mixturePlan(withTokens, "source", "__n")
        .orderBy("source")
    }),

    "mixture_plan_temp" -> ((s, dir) => {
      // temperature-scaled (alpha=0.5) mixture: sampled share ~ sqrt of
      // the natural share — the multilingual-mixture standard between
      // natural proportions and equal shares
      val docs = t(s, dir, "documents")
      val withTokens = docs.select(col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__n"))
      LlmOps.mixturePlanTemperature(withTokens, "source", "__n")
        .orderBy("source")
    }),

    "unicode_nfc" -> ((s, dir) => {
      // composed (U+00E9) vs decomposed (U+0065 U+0301) spellings of the
      // same text hash apart until NFC canonicalization — the native
      // nfc_normalize expression (codegen'd; input returned uncopied when
      // already normalized) makes them bytewise equal, which is the
      // precondition for every hash-keyed dedup stage upstream
      val composed = concat(col("p_name"), lit(" caf\u00e9"))
      val decomposed = concat(col("p_name"), lit(" cafe\u0301"))
      t(s, dir, "part").select(col("p_partkey"),
          (composed === decomposed).as("eq_raw"),
          length(composed).cast("long").as("len_composed"),
          length(decomposed).cast("long").as("len_decomposed"),
          LlmOps.nfcNormalize(decomposed).as("nfc_text"),
          (LlmOps.nfcNormalize(decomposed) === composed).as("eq_nfc"))
        .orderBy("p_partkey")
    }),

    "text_normalize" -> ((s, dir) =>
      // canonicalization pass upstream of every hash-keyed dedup stage:
      // control chars -> space, whitespace collapsed, trimmed, lowered
      LlmOps.normalizeText(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "repetition_score" -> ((s, dir) =>
      LlmOps.repetitionScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "pii_scrub" -> ((s, dir) => {
      // PII redaction audit: the text is deterministically augmented with
      // an email (doc_id) and a digit run (n_chars) so the scrub is
      // exercised on every row — the corpus itself is digit-free word
      // soup. Emails scrub FIRST (they contain digits), then digit runs.
      val docs = t(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com ref "), col("n_chars").cast("string")).as("text"))
      LlmOps.piiScrub(aug, "doc_id", "text").orderBy("doc_id")
    }),

    "pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withTokens = docs.select(col("doc_id"), col("lang"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"))
      LlmOps.packSequences(withTokens, "doc_id", "n_tokens", "lang", budget = 1000)
        .select("doc_id", "lang", "n_tokens", "pack_id")
        .orderBy("doc_id")
    }),

    "curation_pipeline" -> ((s, dir) =>
      curationSurvivors(s, dir).select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    "export_manifest" -> ((s, dir) => {
      // The artifact the curation flow actually ships: survivors packed
      // into per-language token-budget shards (packSequences), manifested
      // as per-shard doc/token counts — what a training job reads to plan
      // its input files. Token counts are recomputed only for the
      // survivor subset (a keyed join + projection, not a second corpus
      // pass).
      val survivors = curationSurvivors(s, dir).select("doc_id", "lang")
      val withTok = survivors.join(
        t(s, dir, "documents").select(col("doc_id"),
          size(LlmOps.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id")
      LlmOps.packSequences(withTok, "doc_id", "n_tokens", "lang", budget = 1000)
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("lang", "pack_id")
    }),

    "vocab_coverage" -> ((s, dir) =>
      // OOV-rate quality signal: share of each doc's tokens inside the
      // corpus top-1000 vocabulary (broadcast semi-join on token hashes)
      LlmOps.vocabCoverage(t(s, dir, "documents"), "doc_id", "text", topK = 1000)
        .orderBy("doc_id")),

    "filter_funnel" -> ((s, dir) =>
      // curation-funnel audit: per-source survivors of length floor →
      // repetition ceiling → alpha-ratio floor, cumulative, in ONE pass
      // (conditional aggregation; only (source, 4 counters) shuffle)
      LlmOps.filterFunnel(t(s, dir, "documents"), "source", "text",
          minChars = 150, maxRepetition = 0.01, minAlphaRatio = 0.82)
        .orderBy("source")),

    "fertility_by_lang" -> ((s, dir) =>
      // per-language tokenizer-fertility (subword proxy per whitespace
      // token): the cost multiplier token-weighted mixture plans need
      LlmOps.fertilityByGroup(t(s, dir, "documents"), "lang", "text")
        .orderBy("lang")),

    "token_len_histogram" -> ((s, dir) => {
      // sequence-length distribution for packing-budget sizing: per-lang
      // doc counts in fixed power-of-two token buckets
      val docs = t(s, dir, "documents")
      val withTokens = docs.select(col("lang"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__n"))
      LlmOps.tokenLengthHistogram(withTokens, "lang", "__n")
        .orderBy("lang", "len_bucket")
    }),

    "lm_score" -> ((s, dir) =>
      // statistical LM fluency proxy: mean corpus frequency of each doc's
      // bigrams — exact integer numerator, one final division (hashable)
      LlmOps.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "perplexity_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail: ntile(3) over lm_score per language, then
      // the (lang, bucket) doc/bigram-mass table a mixture plan consumes
      LlmOps.perplexityBuckets(t(s, dir, "documents"), "doc_id", "lang", "text")
        .orderBy("lang", "bucket")),

    "dataset_split" -> ((s, dir) =>
      // reproducible train/val/test + CV fold from one portable hash —
      // no RNG, no shuffle, stable under any cluster layout
      LlmOps.datasetSplit(t(s, dir, "documents"), "doc_id")
        .orderBy("doc_id")),

    "split_balance" -> ((s, dir) => {
      // stratification audit: each split's language share vs the corpus
      // share — the hash split claims attribute independence; this query
      // MEASURES it (|share - corpus_share| per cell)
      val withSplit = LlmOps.datasetSplit(t(s, dir, "documents"), "doc_id")
        .join(t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
      val bySplit = withSplit.groupBy("split", "lang").agg(count(lit(1)).as("n"))
      val splitTot = withSplit.groupBy("split").agg(count(lit(1)).as("__st"))
      val corpus = t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("__cn"))
      val corpusTot = t(s, dir, "documents").agg(count(lit(1)).as("__ct"))
      bySplit.join(broadcast(splitTot), "split")
        .join(broadcast(corpus), "lang")
        .crossJoin(broadcast(corpusTot))
        .select(col("split"), col("lang"), col("n"),
          (col("n").cast("double") / col("__st")).as("share"),
          abs(col("n").cast("double") / col("__st") -
            col("__cn").cast("double") / col("__ct")).as("share_drift"))
        .orderBy("split", "lang")
    }),

    "split_leakage" -> ((s, dir) =>
      // train/test leakage: near-dup pairs straddling splits — each row
      // is a test doc whose near-copy the model would train on. The raw
      // corpus is split WITHOUT dedup first, so leakage rows exist here
      // by construction; a production pipeline asserts this empty
      LlmOps.splitLeakage(t(s, dir, "documents"), "doc_id", "text",
          maxBucketSize = 10000)
        .orderBy("id_a", "id_b")),

    "mlm_mask_plan" -> ((s, dir) =>
      // reproducible BERT-style 15% masking plan: portable hash of
      // (doc_id, position) decides each mask — no RNG, epoch-salt ready
      LlmOps.mlmMaskPlan(t(s, dir, "documents"), "doc_id", "text",
          ratePct = 15)
        .select("doc_id", "n_tokens", "n_masked", "masked_positions",
          "mask_rate")
        .orderBy("doc_id")),

    "curriculum_order" -> ((s, dir) =>
      // curriculum interleave: per-source quality rank, global slot by
      // ARITHMETIC (rank−1)·n_sources + src_idx — no global sort/window
      LlmOps.curriculumOrder(t(s, dir, "documents"), "doc_id", "source",
          col("n_chars"))
        .orderBy("slot")),

    "cross_lang_overlap" -> ((s, dir) =>
      // cross-lingual 3-gram contamination matrix over the portable
      // fingerprint family: (lang, fp) grain join, never doc×doc
      LlmOps.crossLangOverlap(t(s, dir, "documents"), "lang", "text",
          shingleN = 3)
        .orderBy("lang_a", "lang_b")),

    "encoding_artifacts" -> ((s, dir) =>
      // crawl-hygiene screen: mojibake markers, U+FFFD, control bleed —
      // pure regexp_count projections, zero shuffle
      LlmOps.encodingArtifacts(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "code_detect" -> ((s, dir) =>
      // code-vs-prose routing gate: symbol density + identifier shapes +
      // indentation, raw-text codegen'd string ops, fixed thresholds
      LlmOps.codeDetect(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "sentence_stats" -> ((s, dir) =>
      // Gopher-rule sentence signals (mean words/sentence, fragment
      // count) — pure in-row HOF folds, no explode, one codegen'd scan
      LlmOps.sentenceStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "cross_lang_overlap_sampled" -> ((s, dir) =>
      // the 100×-growth-capped variant: deterministic 1/4 hash-domain
      // sample of the fingerprint universe, filtered MAP-SIDE before the
      // one corpus-scale shuffle; jaccard needs no rate correction
      LlmOps.crossLangOverlapSampled(t(s, dir, "documents"), "lang", "text",
          shingleN = 3, num = 1, den = 4)
        .orderBy("lang_a", "lang_b")),

    "gopher_rules" -> ((s, dir) =>
      // the canonical Gopher A1.1 pre-training filter battery — word/line
      // HOF folds in one codegen'd scan, per-rule metrics + keep verdict
      LlmOps.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "dsir_affinity" -> ((s, dir) => {
      // DSIR data selection: score every doc's bigram mass against the
      // src0 target domain — two bounded bucket censuses collected, then
      // a pure in-row fold per doc (the corpus never shuffles)
      val docs = t(s, dir, "documents")
      LlmOps.dsirAffinity(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text", shingleN = 2, buckets = 8192)
        .orderBy("doc_id")
    }),

    "c4_rules" -> ((s, dir) =>
      // C4 §2.2 page/line census: terminal-punctuation line survival,
      // sentence floor, lorem/brace/javascript flags — in-row, no shuffle
      LlmOps.c4Rules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "token_hellinger_langs" -> ((s, dir) =>
      // how far apart are the en and de token distributions? Hellinger
      // over an 8192-slot hashed vocab — the no-libm distribution
      // distance (per-term sqrt is correctly-rounded IEEE, sorted fold)
      graft.ops.Stats.tokenHellinger(t(s, dir, "documents"), col("text"),
        col("lang") === "en", col("lang") === "de", buckets = 8192)),

    "vocab_growth" -> ((s, dir) =>
      // Heaps'-law curve: is new data still adding new token types, or
      // is the crawl re-reading itself? cumulative types vs tokens per
      // 50-doc ingestion bucket, running type-token ratio
      LlmOps.vocabGrowth(t(s, dir, "documents"), col("doc_id"), col("text"),
          bucketSize = 50L)
        .orderBy("bucket")),

    "readability_fk" -> ((s, dir) =>
      // curriculum/difficulty prior: Flesch-Kincaid grade + reading ease
      // from three exact in-row censuses (words, sentences, vowel-group
      // syllables) — the rare canonical text score needing zero libm
      LlmOps.readabilityFk(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "fineweb_rules" -> ((s, dir) =>
      // FineWeb's three post-Gopher heuristics (Penedo 2024 §3.6):
      // punctuation-terminated line share, duplicated-line character
      // share, short-line share — in-row HOF folds, zero shuffle
      LlmOps.finewebRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "cochran_q_filters" -> ((s, dir) => {
      // do Gopher, C4, and FineWeb agree on keep rates beyond noise?
      // Cochran's Q over the three paired verdicts — the k-battery
      // McNemar; the join shuffles only (id, bool, bool, bool)
      val docs = t(s, dir, "documents")
      val g = LlmOps.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("__kg"))
      val c = LlmOps.c4Rules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("__kc"))
      val f = LlmOps.finewebRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("__kf"))
      graft.ops.Stats.cochranQ(
        g.join(c, Seq("doc_id")).join(f, Seq("doc_id")),
        Seq("gopher" -> col("__kg"), "c4" -> col("__kc"),
          "fineweb" -> col("__kf")))
    }),

    "mcnemar_filters" -> ((s, dir) => {
      // do Gopher and C4 disagree beyond noise on the same corpus? paired
      // keep verdicts joined on doc_id (both batteries are in-row scans;
      // the join shuffles only (id, bool)), McNemar χ² over the
      // discordant cells + the continuity-corrected variant
      val docs = t(s, dir, "documents")
      val g = LlmOps.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("__ka"))
      val c = LlmOps.c4Rules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("__kb"))
      graft.ops.Stats.mcnemarTest(g.join(c, Seq("doc_id")),
        col("__ka"), col("__kb"))
    }),

  )

  private val oracleBase: Map[String, String] = Map(

    "text_stats" ->
      """SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_calc,
            CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
            CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
            CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
            md5(lower(trim(text))) AS fp
         FROM documents ORDER BY doc_id""",

    // stopword runs via one global regexp_replace, per-word exact
    // (freq, deg) longs, one divide, integer-ordered top-k
    "rake_keywords" ->
      """WITH runs AS (
           SELECT trim(r) AS run
           FROM documents,
             unnest(regexp_split_to_array(
               regexp_replace(lower(trim(text)),
                 '\b(the|a|an|of|and|or|in|to|is|are|was|for|on|with|as|at|by|it|this|that)\b',
                 '|', 'g'), '\|')) AS u(r)
           WHERE trim(r) <> ''),
         words AS (
           SELECT len(regexp_extract_all(run, '\S+')) AS wlen, w.word
           FROM runs, unnest(regexp_extract_all(run, '\S+')) AS w(word)
           WHERE w.word <> ''),
         agg AS (
           SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(wlen - 1) AS BIGINT) AS deg
           FROM words GROUP BY 1)
         SELECT word, freq, deg,
           CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS score
         FROM agg
         ORDER BY score DESC, deg DESC, freq DESC, word LIMIT 25""",

    "sample_bias_audit" ->
      """WITH a AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_corpus,
             CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS tc,
                 CAST(SUM(n_sample) AS BIGINT) AS ts FROM a)
         SELECT lang, n_corpus, n_sample,
           CAST(n_corpus AS DOUBLE) / CAST(tc AS DOUBLE) AS corpus_share,
           CAST(n_sample AS DOUBLE) / CAST(ts AS DOUBLE) AS sample_share,
           abs(CAST(n_sample AS DOUBLE) / CAST(ts AS DOUBLE)
             - CAST(n_corpus AS DOUBLE) / CAST(tc AS DOUBLE)) AS share_drift
         FROM a, t ORDER BY lang""",

    // the curve from one token-count CTE + per-cutoff conditional sums
    "vocab_pruning_curve" ->
      """WITH tf AS (
           SELECT t.token, CAST(COUNT(*) AS BIGINT) AS c
           FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(token)
           WHERE t.token <> '' GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS vocab
           FROM tf),
         k AS (SELECT unnest([1, 2, 5, 10, 50]) AS min_count),
         curve AS (
           SELECT k.min_count,
             CAST(SUM(CASE WHEN tf.c >= k.min_count THEN 1 ELSE 0 END)
               AS BIGINT) AS vocab_size,
             CAST(SUM(CASE WHEN tf.c >= k.min_count THEN tf.c ELSE 0 END)
               AS BIGINT) AS tokens_covered
           FROM tf CROSS JOIN k GROUP BY 1)
         SELECT CAST(min_count AS BIGINT) AS min_count, vocab_size,
           vocab AS full_vocab, tokens_covered,
           CAST(tokens_covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         FROM curve, tot ORDER BY min_count""",

    // per-field mode replay with (count desc, value asc) ties
    "golden_record_merge" ->
      """WITH base AS (
           SELECT md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp,
             doc_id, lang, source, n_chars
           FROM documents),
         sk AS (
           SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_members,
             MIN(doc_id) AS survivor_id,
             CAST(MAX(n_chars) AS BIGINT) AS max_chars
           FROM base GROUP BY 1 HAVING COUNT(*) >= 2),
         lm AS (
           SELECT fp, lang AS golden_lang FROM (
             SELECT fp, lang,
               row_number() OVER (PARTITION BY fp
                 ORDER BY COUNT(*) DESC, lang) AS rn
             FROM base GROUP BY fp, lang) WHERE rn = 1),
         sm AS (
           SELECT fp, source AS golden_source FROM (
             SELECT fp, source,
               row_number() OVER (PARTITION BY fp
                 ORDER BY COUNT(*) DESC, source) AS rn
             FROM base GROUP BY fp, source) WHERE rn = 1)
         SELECT sk.fp, n_members, survivor_id, golden_lang, golden_source,
           max_chars
         FROM sk JOIN lm ON sk.fp = lm.fp JOIN sm ON sk.fp = sm.fp
         ORDER BY sk.fp""",

    "lang_id_confusion" ->
      """WITH g AS (
           SELECT doc_id, lang AS lang_true,
             CASE
               WHEN len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b'))
                   >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b'))
                 AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b'))
                   >= len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b'))
                 THEN 'en'
               WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b'))
                   >= len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b'))
                 THEN 'es'
               ELSE 'fr'
             END AS lang_guess
           FROM documents),
         c AS (
           SELECT lang_true, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
           FROM g GROUP BY 1, 2)
         SELECT lang_true, lang_guess, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang_true)
             AS DOUBLE) AS share_of_truth
         FROM c ORDER BY lang_true, lang_guess""",

    "dataset_card" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_chars,
           CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT)
             AS n_exact_dups,
           CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
           CAST(SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short,
           CAST(SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS short_rate,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs_csv
         FROM documents""",

    // slot census replay on the portable md5-48 token hash
    "feature_hash_load" ->
      """WITH tok AS (
           SELECT doc_id, t.tok
           FROM documents,
             unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS t(tok)
           WHERE t.tok <> ''),
         b AS (
           SELECT doc_id, tok,
             ('0x' || substr(md5(tok), 1, 12))::BIGINT % 64 AS bucket
           FROM tok)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM b GROUP BY 1 ORDER BY bucket""",

    // hash-thinning replay: q = floor(1000·alpha/len), kept = h mod 1000 < q
    "quality_resample" ->
      """WITH d AS (
           SELECT lang,
             CAST(floor(1000 * len(regexp_extract_all(lower(trim(text)), '[a-z]'))
               / greatest(length(lower(trim(text))), 1)) AS BIGINT) AS q,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000
               < CAST(floor(1000 * len(regexp_extract_all(lower(trim(text)), '[a-z]'))
                   / greatest(length(lower(trim(text))), 1)) AS BIGINT)
               THEN 1 ELSE 0 END AS k
           FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k) AS BIGINT) AS n_kept,
           CAST(SUM(q) AS BIGINT) AS sum_q_milli,
           CAST(SUM(q) AS DOUBLE) / 1000.0 AS expected_kept,
           CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_rate
         FROM d GROUP BY lang ORDER BY lang""",

    "quality_score" ->
      """SELECT doc_id,
            CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b')) AS DOUBLE)
              / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS stopword_ratio,
            length(text) < 100 AS is_short
         FROM documents ORDER BY doc_id""",

    "lang_id" ->
      """SELECT doc_id,
            CASE WHEN en >= es AND en >= fr THEN 'en'
                 WHEN es >= fr THEN 'es'
                 ELSE 'fr' END AS lang_guess
         FROM (
           SELECT doc_id,
                  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS en,
                  len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS es,
                  len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS fr
           FROM documents) sub
         ORDER BY doc_id""",

    "lang_profile" ->
      """SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars,
            CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    // BM25 replay: postings -> doc length / corpus globals -> query-term
    // prune -> df -> per-term contribution -> ascending-term sequential
    // fold (list_reduce over list(.. ORDER BY term) = Spark's sort_array
    // + aggregate fold; 0.0 + x == x bitwise for the positive contribs).
    // Constants 1.25/0.75/0.25/2.25/0.5 are exact binary fractions and the
    // surrogate idf is log-free, so scores hash bitwise.
    "bm25_topk" ->
      """WITH q(query_id, term) AS (VALUES
           ('q1', 'spark'), ('q1', 'join'), ('q1', 'fast'),
           ('q2', 'table'), ('q2', 'scan'), ('q2', 'window'),
           ('q3', 'dup'), ('q3', 'vector'), ('q3', 'merge')),
         tf AS (
           SELECT doc_id, token AS term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                 FROM documents)
           WHERE token <> '' GROUP BY doc_id, token),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
                FROM tf GROUP BY doc_id),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
         tfq AS (SELECT tf.* FROM tf
                 JOIN (SELECT DISTINCT term FROM q) qt USING (term)),
         dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                 FROM tfq GROUP BY term),
         contrib AS (
           SELECT tfq.term, tfq.doc_id,
             ((CAST(g.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
               / (CAST(dfq.df AS DOUBLE) + 0.5))
             * ((CAST(tfq.tf AS DOUBLE) * 2.25)
               / (CAST(tfq.tf AS DOUBLE)
                  + 1.25 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                      / (CAST(g.tot AS DOUBLE) / CAST(g.n AS DOUBLE)))))) AS c
           FROM tfq JOIN dl USING (doc_id) JOIN dfq USING (term)
           CROSS JOIN g),
         scored AS (
           SELECT q.query_id, contrib.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             list_reduce(list(c ORDER BY contrib.term), (x, y) -> x + y) AS score
           FROM contrib JOIN q USING (term)
           GROUP BY q.query_id, contrib.doc_id)
         SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, n_terms, score
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rn FROM scored)
         WHERE rn <= 5 ORDER BY query_id, rank""",

    // PMI collocations replay: distinct (doc, term) presence -> uncapped
    // df -> df>=3 vocab prune -> per-doc sorted list capped to first 32
    // ([1:32] = Spark's slice(sort_array(..), 1, 32)) -> in-doc ordered
    // pairs -> count -> lift over exact BIGINT->DOUBLE casts (one multiply
    // per side of a single division, IEEE-deterministic both engines).,

    // PMI collocations replay: distinct (doc, term) presence -> uncapped
    // df -> df>=3 vocab prune -> per-doc sorted list capped to first 32
    // ([1:32] = Spark's slice(sort_array(..), 1, 32)) -> in-doc ordered
    // pairs -> count -> lift over exact BIGINT->DOUBLE casts (one multiply
    // per side of a single division, IEEE-deterministic both engines).
    "pmi_pairs" ->
      """WITH dt AS (
           SELECT DISTINCT doc_id, token AS term
           FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                 FROM documents)
           WHERE token <> ''),
         vocab AS (
           SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM dt GROUP BY term HAVING COUNT(*) >= 3),
         nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM dt),
         tv AS (
           SELECT doc_id, unnest(terms) AS term
           FROM (SELECT doc_id, (list_sort(list(term)))[1:32] AS terms
                 FROM dt JOIN vocab USING (term) GROUP BY doc_id)),
         pc AS (
           SELECT x.term AS term_a, y.term AS term_b,
                  CAST(COUNT(*) AS BIGINT) AS n_pair
           FROM tv x JOIN tv y
             ON x.doc_id = y.doc_id AND x.term < y.term
           GROUP BY 1, 2)
         SELECT term_a, term_b, n_pair, va.df AS df_a, vb.df AS df_b,
           (CAST(n_pair AS DOUBLE) * CAST(nd.n AS DOUBLE))
             / (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE)) AS lift
         FROM pc
         JOIN vocab va ON pc.term_a = va.term
         JOIN vocab vb ON pc.term_b = vb.term
         CROSS JOIN nd
         ORDER BY n_pair DESC, term_a, term_b LIMIT 20""",

    "tfidf_top_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents),
         t AS (
           SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks WHERE token <> '' GROUP BY token),
         n AS (SELECT COUNT(*) AS n FROM documents)
         SELECT token, tf, df, CAST(tf AS DOUBLE) * n.n / df AS score
         FROM t, n
         ORDER BY score DESC, token LIMIT 20""",

    // full count-min-sketch replay: grid build, per-term probes, min-fold,

    // full count-min-sketch replay: grid build, per-term probes, min-fold
    "cms_term_counts" ->
      """WITH tok AS (
           SELECT ('0x' || substr(md5(t), 1, 12))::BIGINT AS h
           FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
                 FROM documents)
           WHERE t <> ''),
         rows_ AS (SELECT unnest([0, 1, 2, 3]) AS j),
         sketch AS (
           SELECT j, ((2 * j + 3) * h + j) % 64 AS p, COUNT(*) AS c
           FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
         truth AS (
           SELECT h, COUNT(*) AS n_true FROM tok GROUP BY h
           ORDER BY n_true DESC, h ASC LIMIT 20),
         est AS (
           SELECT t.h, t.n_true, MIN(s.c) AS n_est
           FROM truth t CROSS JOIN rows_ g
           JOIN sketch s ON s.j = g.j AND s.p = ((2 * g.j + 3) * t.h + g.j) % 64
           GROUP BY t.h, t.n_true)
         SELECT h AS term_hash, CAST(n_true AS BIGINT) AS n_true,
           CAST(n_est AS BIGINT) AS n_est, n_est >= n_true AS no_underestimate
         FROM est ORDER BY n_true DESC, term_hash ASC""",

    "contamination_check" ->
      """WITH hs AS (
           SELECT doc_id, source, list_transform(
             range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 3, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(
               list_slice(string_split_regex(lower(trim(text)), '\s+'), i, i + 2), ' ')), 1, 12))::BIGINT) AS sh
           FROM documents),
         b AS (
           SELECT DISTINCT unnest(sh) AS bsh FROM hs WHERE source = 'src0'),
         d AS (
           SELECT doc_id, list_distinct(sh) AS sh FROM hs WHERE source <> 'src0'),
         e AS (SELECT doc_id, unnest(sh) AS s FROM d),
         hits AS (
           SELECT doc_id, COUNT(*) AS n_hit
           FROM e JOIN b ON e.s = b.bsh GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(len(d.sh) AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / len(d.sh) AS containment
         FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
         ORDER BY d.doc_id""",

    "contamination_bloom" ->
      """WITH t AS (
           SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         p AS (
           SELECT doc_id, source, unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 3, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 12))::BIGINT))) AS h1
           FROM t),
         be AS (SELECT DISTINCT h1 FROM p WHERE source = 'src0'),
         bb AS (
           SELECT DISTINCT ((2 * j.j + 3) * h1 + j.j) % 262144 AS bit
           FROM be, range(0, 3) j(j)),
         c AS (SELECT doc_id, h1 FROM p WHERE source <> 'src0'),
         sizes AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
           FROM c GROUP BY doc_id),
         ex AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ne FROM c
           WHERE h1 IN (SELECT h1 FROM be) GROUP BY doc_id),
         bl AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb FROM (
             SELECT c.doc_id, c.h1
             FROM c, range(0, 3) j(j)
             WHERE ((2 * j.j + 3) * c.h1 + j.j) % 262144 IN (SELECT bit FROM bb)
             GROUP BY c.doc_id, c.h1 HAVING COUNT(*) = 3) q
           GROUP BY doc_id)
         SELECT s.doc_id, s.n_shingles,
           COALESCE(ex.ne, 0) AS n_exact,
           COALESCE(bl.nb, 0) AS n_bloom,
           COALESCE(bl.nb, 0) >= COALESCE(ex.ne, 0) AS bloom_ok
         FROM sizes s LEFT JOIN ex USING (doc_id) LEFT JOIN bl USING (doc_id)
         ORDER BY doc_id""",

    "chunk_contamination" ->
      """WITH t2 AS (
           SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE trim(text) <> ''),
         t3 AS (SELECT doc_id, source, toks, len(toks) AS n FROM t2),
         st AS (
           SELECT doc_id, source, toks, n,
             unnest(range(0, 1 + (greatest(n - 16, 0) + 7) // 8)) AS c
           FROM t3),
         ch AS (
           SELECT doc_id, source,
             md5(array_to_string(toks[c * 8 + 1 : least(c * 8 + 16, n)], ' ')) AS fp
           FROM st),
         bf AS (SELECT DISTINCT fp FROM ch WHERE source = 'src0'),
         corpus AS (SELECT doc_id, fp FROM ch WHERE source <> 'src0'),
         hits AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit FROM corpus
           WHERE fp IN (SELECT fp FROM bf) GROUP BY doc_id)
         SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           COALESCE(ANY_VALUE(h.n_hit), 0) AS n_hit,
           COALESCE(ANY_VALUE(h.n_hit), 0) > 0 AS contaminated
         FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
         GROUP BY c.doc_id ORDER BY c.doc_id""",

    "chunk_windows" ->
      """WITH t2 AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE trim(text) <> ''),
         t3 AS (SELECT doc_id, toks, len(toks) AS n FROM t2),
         st AS (
           SELECT doc_id, toks, n,
             unnest(range(0, 1 + (greatest(n - 40, 0) + 19) // 20)) AS c
           FROM t3)
         SELECT doc_id, c AS chunk_id, c * 20 AS start_tok,
           CAST(len(toks[c * 20 + 1 : least(c * 20 + 40, n)]) AS BIGINT) AS n_toks,
           md5(array_to_string(toks[c * 20 + 1 : least(c * 20 + 40, n)], ' ')) AS chunk_fp
         FROM st ORDER BY doc_id, chunk_id""",

    "cdc_chunks" ->
      """WITH t2 AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE trim(text) <> ''),
         p AS (
           SELECT doc_id, toks[pos] AS tok, pos
           FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS pos FROM t2)),
         f AS (
           SELECT doc_id, pos, tok,
             CASE WHEN ('0x' || substr(md5(tok), 1, 12))::BIGINT % 32 = 0
               THEN 1 ELSE 0 END AS b
           FROM p),
         c AS (
           SELECT doc_id, pos, tok,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
           FROM f)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
         FROM c GROUP BY doc_id, chunk_idx
         ORDER BY doc_id, chunk_idx""",

    "cdc_dedup_stats" ->
      """WITH t2 AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE trim(text) <> ''),
         p AS (
           SELECT doc_id, toks[pos] AS tok, pos
           FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS pos FROM t2)),
         f AS (
           SELECT doc_id, pos, tok,
             CASE WHEN ('0x' || substr(md5(tok), 1, 12))::BIGINT % 32 = 0
               THEN 1 ELSE 0 END AS b
           FROM p),
         c AS (
           SELECT doc_id, pos, tok,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
           FROM f),
         g AS (
           SELECT doc_id, chunk_idx,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
           FROM c GROUP BY doc_id, chunk_idx)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_fp) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT chunk_fp) AS DOUBLE)
             / NULLIF(CAST(COUNT(*) AS DOUBLE), 0.0) AS dup_rate
         FROM g""",

    "bpe_pair_counts" ->
      """WITH tok AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
           FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, len(tk)),
             i -> substr(tk, i, 2))) AS pair
           FROM tok WHERE len(tk) >= 2)
         SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",

    // the 4-step merge loop unrolled: v_k = vocab after k merges, p_k =
    // pair counts over v_{k-1}, b_k = the argmax merge. chr(31) is the
    // doubled U+001F symbol delimiter; replace() scans left-to-right
    // non-overlapping in both engines, so greedy merge application
    // replays exactly.,

    "bpe_apply" ->
      """WITH tok AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
           FROM documents),
         v0 AS (
           SELECT regexp_replace(tk, '(.)', chr(31) || '\1' || chr(31), 'g') AS sym,
                  COUNT(*) AS freq
           FROM tok WHERE len(tk) > 0 GROUP BY 1),
         s1 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v0),
         i1 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s1 WHERE len(syms) >= 2),
         p1 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i1 GROUP BY 1, 2),
         b1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
         v1 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v0, b1 b),
         s2 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v1),
         i2 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s2 WHERE len(syms) >= 2),
         p2 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i2 GROUP BY 1, 2),
         b2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
         v2 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v1, b2 b),
         s3 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v2),
         i3 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s3 WHERE len(syms) >= 2),
         p3 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i3 GROUP BY 1, 2),
         b3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
         v3 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v2, b3 b),
         s4 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v3),
         i4 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s4 WHERE len(syms) >= 2),
         p4 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i4 GROUP BY 1, 2),
         b4 AS (SELECT l, r, cnt FROM p4 ORDER BY cnt DESC, l, r LIMIT 1),
         v4 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v3, b4 b),
         sy AS (SELECT freq, unnest(string_split(trim(sym, chr(31)), chr(31) || chr(31))) AS symbol
                FROM v4)
         SELECT symbol, CAST(SUM(freq) AS BIGINT) AS cnt
         FROM sy GROUP BY symbol ORDER BY cnt DESC, symbol LIMIT 20""",

    "bpe_learn" ->
      """WITH tok AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tk
           FROM documents),
         v0 AS (
           SELECT regexp_replace(tk, '(.)', chr(31) || '\1' || chr(31), 'g') AS sym,
                  COUNT(*) AS freq
           FROM tok WHERE len(tk) > 0 GROUP BY 1),
         s1 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v0),
         i1 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s1 WHERE len(syms) >= 2),
         p1 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i1 GROUP BY 1, 2),
         b1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
         v1 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v0, b1 b),
         s2 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v1),
         i2 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s2 WHERE len(syms) >= 2),
         p2 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i2 GROUP BY 1, 2),
         b2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
         v2 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v1, b2 b),
         s3 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v2),
         i3 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s3 WHERE len(syms) >= 2),
         p3 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i3 GROUP BY 1, 2),
         b3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
         v3 AS (SELECT replace(sym, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                               chr(31) || b.l || b.r || chr(31)) AS sym, freq
                FROM v2, b3 b),
         s4 AS (SELECT freq, string_split(trim(sym, chr(31)), chr(31) || chr(31)) AS syms FROM v3),
         i4 AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s4 WHERE len(syms) >= 2),
         p4 AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt FROM i4 GROUP BY 1, 2),
         b4 AS (SELECT l, r, cnt FROM p4 ORDER BY cnt DESC, l, r LIMIT 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, l AS left_sym, r AS right_sym,
                  CAST(cnt AS BIGINT) AS cnt FROM b1
           UNION ALL SELECT 2, l, r, CAST(cnt AS BIGINT) FROM b2
           UNION ALL SELECT 3, l, r, CAST(cnt AS BIGINT) FROM b3
           UNION ALL SELECT 4, l, r, CAST(cnt AS BIGINT) FROM b4)
         ORDER BY step""",

    // contract twin: DuckDB computes the exact heavy hitters and asserts
    // the sketch booleans as literal true — any MG violation hash-fails
    "heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         ex AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM toks GROUP BY term)
         SELECT term, cnt, true AS in_sketch, true AS bound_ok
         FROM ex, n WHERE cnt * 33 > n ORDER BY cnt DESC, term""",

    // exact per-group heavy hitters; the two theorem booleans are the
    // contract (literal true — the sketch must satisfy them)
    "group_heavy_hitters" ->
      """WITH toks AS (
           SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM toks GROUP BY lang),
         ex AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM toks GROUP BY lang, term)
         SELECT ex.lang, term, cnt, true AS in_sketch, true AS bound_ok
         FROM ex JOIN n USING (lang) WHERE cnt * 65 > n
         ORDER BY lang, cnt DESC, term""",

    // replays mixturePlan's rate table then the hash-threshold keep rule;
    // DuckDB x/0 → NULL matches the zero-weight guard (rows drop),

    // replays mixturePlan's rate table then the hash-threshold keep rule;
    // DuckDB x/0 → NULL matches the zero-weight guard (rows drop)
    "mixture_apply" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           FROM documents),
         b AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
               FROM t GROUP BY source),
         g AS (SELECT MIN(n_tokens) AS mn FROM b),
         r AS (SELECT source, CAST(mn AS DOUBLE) / n_tokens AS rate FROM b, g)
         SELECT doc_id, t.source FROM t JOIN r USING (source)
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               / 281474976710656.0 < rate
         ORDER BY doc_id""",

    // closed-form waterline: rank by cap, feasibility by integer
    // cross-multiply, L = (budget - prefix_k)/(m - k) the one divide
    "mixture_waterfill" ->
      """WITH t AS (
           SELECT source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           FROM documents),
         b AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cap
               FROM t GROUP BY source),
         r AS (
           SELECT source, cap,
             CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
             CAST(SUM(cap) OVER (ORDER BY cap, source
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
           FROM b),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(cap) AS BIGINT) AS tot FROM b),
         f AS (
           SELECT r.*, g.m, g.tot,
             prefix + cap * (g.m - i) <= 20000 AS feasible
           FROM r, g),
         k AS (
           SELECT COALESCE(MAX(CASE WHEN feasible THEN i END), 0) AS kk,
             COALESCE(MAX(CASE WHEN feasible THEN prefix END), 0) AS pk
           FROM f),
         w AS (
           SELECT f.*, k.kk, k.pk,
             CASE WHEN 20000 >= f.tot THEN NULL
               ELSE CAST(20000 - k.pk AS DOUBLE)
                 / CAST(f.m - k.kk AS DOUBLE) END AS waterline
           FROM f, k)
         SELECT source, cap,
           CASE WHEN 20000 >= tot THEN CAST(cap AS DOUBLE)
             ELSE least(CAST(cap AS DOUBLE), waterline) END AS allocation,
           CASE WHEN 20000 >= tot THEN TRUE
             ELSE CAST(cap AS DOUBLE) <= waterline END AS at_cap,
           waterline
         FROM w ORDER BY source""",

    "mixture_plan" ->
      """WITH t AS (
           SELECT source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           FROM documents),
         b AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens
           FROM t GROUP BY source),
         g AS (SELECT MIN(n_tokens) AS mn, SUM(n_tokens) AS tot FROM b)
         SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / tot AS share,
           CAST(mn AS DOUBLE) / n_tokens AS sample_rate
         FROM b, g ORDER BY source""",

    "mixture_plan_temp" ->
      """WITH t AS (
           SELECT source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           FROM documents),
         b AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens
           FROM t GROUP BY source),
         g AS (SELECT MIN(n_tokens) AS mn FROM b)
         SELECT source, n_docs, n_tokens,
           sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS sample_rate,
           sqrt(CAST(mn AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * CAST(n_tokens AS DOUBLE) AS sampled_tokens
         FROM b, g ORDER BY source""",

    "unicode_nfc" ->
      """WITH v AS (
           SELECT p_partkey,
             p_name || ' caf' || chr(233) AS composed,
             p_name || ' cafe' || chr(769) AS decomposed
           FROM part)
         SELECT p_partkey,
           (composed = decomposed) AS eq_raw,
           CAST(length(composed) AS BIGINT) AS len_composed,
           CAST(length(decomposed) AS BIGINT) AS len_decomposed,
           nfc_normalize(decomposed) AS nfc_text,
           (nfc_normalize(decomposed) = composed) AS eq_nfc
         FROM v ORDER BY p_partkey""",

    "text_normalize" ->
      """WITH n AS (
           SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(lower(text),
               '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
           FROM documents)
         SELECT doc_id, norm_text,
           (norm_text IS DISTINCT FROM text) AS changed
         FROM n ORDER BY doc_id""",

    "repetition_score" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, list_transform(
             range(1, greatest(len(toks) - 3, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 12))::BIGINT) AS sh
           FROM t)
         SELECT doc_id,
           CAST(len(sh) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE) AS repetition
         FROM s ORDER BY doc_id""",

    "pii_scrub" ->
      """WITH a AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example.com ref ' || CAST(n_chars AS VARCHAR) AS text
           FROM documents),
         r AS (
           SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS de
           FROM a)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(de, '[0-9]+')) AS BIGINT) AS n_nums,
           CAST(length(regexp_replace(de, '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS redacted_len,
           md5(regexp_replace(de, '[0-9]+', '<NUM>', 'g')) AS redacted_fp
         FROM r ORDER BY doc_id""",

    "pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 1000 AS BIGINT) AS pack_id
         FROM c ORDER BY doc_id""",

    "curation_pipeline" ->
      """WITH RECURSIVE
         toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
           FROM documents),
         shs AS (
           SELECT doc_id, list_transform(
             range(1, greatest(len(tk) - 3, 0) + 2),
             i -> array_to_string(list_slice(tk, i, i + 2), ' ')) AS shseq
           FROM toks),
         rep AS (
           SELECT doc_id,
             1.0 - CAST(len(list_distinct(list_transform(shseq,
               s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS DOUBLE)
               / len(shseq) AS repetition
           FROM shs),
         s1 AS (
           SELECT d.doc_id, d.lang, d.n_chars, d.text
           FROM documents d JOIN rep USING (doc_id)
           WHERE d.source <> 'src0' AND length(d.text) >= 100
             AND rep.repetition < 0.2),
         ex AS (
           SELECT MIN(doc_id) AS doc_id FROM s1
           GROUP BY md5(lower(trim(text)))),
         s2 AS (SELECT s1.* FROM s1 JOIN ex USING (doc_id)),
         d2 AS (
           SELECT s2.doc_id, list_distinct(shs.shseq) AS sh
           FROM s2 JOIN shs USING (doc_id)),
         hp AS (
           SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 12))::BIGINT) AS h1s,
             list_transform(sh, s -> ('0x' || substr(md5(s), 13, 12))::BIGINT) AS h2s
           FROM d2 WHERE len(sh) > 0),
         sg AS (
           SELECT doc_id,
             list_distinct(h1s) AS shset,
             list_transform(range(0, 16), j ->
               list_min(list_transform(range(1, len(h1s) + 1), x -> h1s[x] + j * h2s[x]))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, t.b AS band,
             md5(array_to_string(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4), ',')) AS bh
           FROM sg, range(0, 4) t(b)),
         ok AS (
           SELECT band, bh FROM bands GROUP BY band, bh
           HAVING COUNT(*) BETWEEN 2 AND 10000),
         cap AS (SELECT bands.* FROM bands JOIN ok USING (band, bh)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM cap a JOIN cap c
             ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id),
         pairs AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.shset, y.shset))) AS jaccard
             FROM cand
             JOIN sg x ON cand.id_a = x.doc_id
             JOIN sg y ON cand.id_b = y.doc_id) j
           WHERE jaccard >= 0.7),
         sym AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         lbl AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS cluster
           FROM reach GROUP BY a),
         s3 AS (
           SELECT s2.* FROM s2 LEFT JOIN lbl ON s2.doc_id = lbl.node
           WHERE s2.doc_id = COALESCE(lbl.cluster, s2.doc_id)),
         bset AS (
           SELECT DISTINCT unnest(list_transform(shs.shseq,
             s -> ('0x' || substr(md5(s), 1, 12))::BIGINT)) AS bsh
           FROM shs JOIN documents d ON shs.doc_id = d.doc_id
           WHERE d.source = 'src0'),
         dset AS (
           SELECT s3.doc_id, list_distinct(list_transform(shs.shseq,
             s -> ('0x' || substr(md5(s), 1, 12))::BIGINT)) AS sh
           FROM s3 JOIN shs ON s3.doc_id = shs.doc_id),
         hits AS (
           SELECT doc_id, COUNT(*) AS nh
           FROM (SELECT doc_id, unnest(sh) AS x FROM dset) e
           JOIN bset ON e.x = bset.bsh GROUP BY doc_id)
         SELECT s3.doc_id, s3.lang, CAST(s3.n_chars AS BIGINT) AS n_chars
         FROM s3 JOIN dset USING (doc_id) LEFT JOIN hits USING (doc_id)
         WHERE CAST(COALESCE(hits.nh, 0) AS DOUBLE) / len(dset.sh) < 0.5
         ORDER BY s3.doc_id""",

    // same curation twin, manifested: survivors packed into per-language
    // token-budget shards, per-shard doc/token counts,

    // same curation twin, manifested: survivors packed into per-language
    // token-budget shards, per-shard doc/token counts
    "export_manifest" ->
      """WITH RECURSIVE
         toks AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
           FROM documents),
         shs AS (
           SELECT doc_id, list_transform(
             range(1, greatest(len(tk) - 3, 0) + 2),
             i -> array_to_string(list_slice(tk, i, i + 2), ' ')) AS shseq
           FROM toks),
         rep AS (
           SELECT doc_id,
             1.0 - CAST(len(list_distinct(list_transform(shseq,
               s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS DOUBLE)
               / len(shseq) AS repetition
           FROM shs),
         s1 AS (
           SELECT d.doc_id, d.lang, d.n_chars, d.text
           FROM documents d JOIN rep USING (doc_id)
           WHERE d.source <> 'src0' AND length(d.text) >= 100
             AND rep.repetition < 0.2),
         ex AS (
           SELECT MIN(doc_id) AS doc_id FROM s1
           GROUP BY md5(lower(trim(text)))),
         s2 AS (SELECT s1.* FROM s1 JOIN ex USING (doc_id)),
         d2 AS (
           SELECT s2.doc_id, list_distinct(shs.shseq) AS sh
           FROM s2 JOIN shs USING (doc_id)),
         hp AS (
           SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 12))::BIGINT) AS h1s,
             list_transform(sh, s -> ('0x' || substr(md5(s), 13, 12))::BIGINT) AS h2s
           FROM d2 WHERE len(sh) > 0),
         sg AS (
           SELECT doc_id,
             list_distinct(h1s) AS shset,
             list_transform(range(0, 16), j ->
               list_min(list_transform(range(1, len(h1s) + 1), x -> h1s[x] + j * h2s[x]))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, t.b AS band,
             md5(array_to_string(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4), ',')) AS bh
           FROM sg, range(0, 4) t(b)),
         ok AS (
           SELECT band, bh FROM bands GROUP BY band, bh
           HAVING COUNT(*) BETWEEN 2 AND 10000),
         cap AS (SELECT bands.* FROM bands JOIN ok USING (band, bh)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM cap a JOIN cap c
             ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id),
         pairs AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.shset, y.shset))) AS jaccard
             FROM cand
             JOIN sg x ON cand.id_a = x.doc_id
             JOIN sg y ON cand.id_b = y.doc_id) j
           WHERE jaccard >= 0.7),
         sym AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION
           SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         lbl AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS cluster
           FROM reach GROUP BY a),
         s3 AS (
           SELECT s2.* FROM s2 LEFT JOIN lbl ON s2.doc_id = lbl.node
           WHERE s2.doc_id = COALESCE(lbl.cluster, s2.doc_id)),
         bset AS (
           SELECT DISTINCT unnest(list_transform(shs.shseq,
             s -> ('0x' || substr(md5(s), 1, 12))::BIGINT)) AS bsh
           FROM shs JOIN documents d ON shs.doc_id = d.doc_id
           WHERE d.source = 'src0'),
         dset AS (
           SELECT s3.doc_id, list_distinct(list_transform(shs.shseq,
             s -> ('0x' || substr(md5(s), 1, 12))::BIGINT)) AS sh
           FROM s3 JOIN shs ON s3.doc_id = shs.doc_id),
         hits AS (
           SELECT doc_id, COUNT(*) AS nh
           FROM (SELECT doc_id, unnest(sh) AS x FROM dset) e
           JOIN bset ON e.x = bset.bsh GROUP BY doc_id),
         surv AS (
           SELECT s3.doc_id, s3.lang
           FROM s3 JOIN dset USING (doc_id) LEFT JOIN hits USING (doc_id)
           WHERE CAST(COALESCE(hits.nh, 0) AS DOUBLE) / len(dset.sh) < 0.5),
         st AS (
           SELECT surv.doc_id, surv.lang, CAST(len(toks.tk) AS BIGINT) AS ntok
           FROM surv JOIN toks USING (doc_id)),
         cum AS (
           SELECT *, SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM st)
         SELECT lang,
           CAST(floor(CAST(c - ntok AS DOUBLE) / 1000) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
         FROM cum GROUP BY lang, pack_id ORDER BY lang, pack_id""",

    "vocab_coverage" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           FROM documents),
         th AS (
           SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS h
           FROM tok WHERE t <> ''),
         vocab AS (
           SELECT h FROM (
             SELECT h, COUNT(*) AS c FROM th GROUP BY h
             ORDER BY c DESC, h LIMIT 1000)),
         n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM th GROUP BY doc_id),
         iv AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_in_vocab
           FROM th JOIN vocab USING (h) GROUP BY doc_id)
         SELECT n.doc_id, n.n_tokens,
           CAST(COALESCE(iv.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
           CAST(COALESCE(iv.n_in_vocab, 0) AS DOUBLE) / n.n_tokens AS coverage
         FROM n LEFT JOIN iv USING (doc_id) ORDER BY n.doc_id""",

    "filter_funnel" ->
      """WITH t AS (
           SELECT source, text, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT source,
             length(text) AS len,
             CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / length(text) AS alpha,
             list_transform(range(1, greatest(len(toks) - 3, 0) + 2),
               i -> md5(array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
           FROM t),
         f AS (
           SELECT source,
             len >= 150 AS len_ok,
             len >= 150 AND
               1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) <= 0.01 AS rep_ok,
             len >= 150 AND
               1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) <= 0.01 AND
               alpha >= 0.82 AS pass_ok
           FROM s)
         SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(SUM(CASE WHEN rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_ok,
           CAST(SUM(CASE WHEN pass_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         FROM f GROUP BY source ORDER BY source""",

    "fertility_by_lang" ->
      """WITH t AS (
           SELECT lang,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe
           FROM documents)
         SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) AS fertility
         FROM t GROUP BY lang ORDER BY lang""",

    "token_len_histogram" ->
      """WITH t AS (
           SELECT lang,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           FROM documents)
         SELECT lang,
           CASE WHEN n < 16 THEN '0000-0015' WHEN n < 32 THEN '0016-0031'
                WHEN n < 64 THEN '0032-0063' WHEN n < 128 THEN '0064-0127'
                WHEN n < 256 THEN '0128-0255' ELSE '0256+' END AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM t GROUP BY 1, 2 ORDER BY lang, len_bucket""",

    "lm_score" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(tk) - 2, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(
               list_slice(tk, i, i + 1), ' ')), 1, 12))::BIGINT)) AS b
           FROM t),
         c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY b),
         n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
         d AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(c.c) AS BIGINT) AS csum
           FROM bg JOIN c USING (b) GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
           CAST(csum AS DOUBLE) / (n_bigrams * n.n) AS lm_score
         FROM d, n ORDER BY doc_id""",

    // lm_score CTE + per-language ntile + bucket mass rollup,

    // lm_score CTE + per-language ntile + bucket mass rollup
    "perplexity_buckets" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
           FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(tk) - 2, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(
               list_slice(tk, i, i + 1), ' ')), 1, 12))::BIGINT)) AS b
           FROM t),
         c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY b),
         n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
         d AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(c.c) AS BIGINT) AS csum
           FROM bg JOIN c USING (b) GROUP BY doc_id),
         scored AS (
           SELECT doc.doc_id, doc.lang, d.n_bigrams,
             CAST(csum AS DOUBLE) / (d.n_bigrams * n.n) AS lm_score
           FROM documents doc JOIN d ON doc.doc_id = d.doc_id, n),
         tiled AS (
           SELECT lang, n_bigrams,
             CAST(ntile(3) OVER (PARTITION BY lang
               ORDER BY lm_score DESC, doc_id ASC) AS BIGINT) AS bucket
           FROM scored)
         SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
         FROM tiled GROUP BY lang, bucket ORDER BY lang, bucket""",

    "dataset_split" ->
      """SELECT doc_id,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                     / 281474976710656.0 < 0.8 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                     / 281474976710656.0 < 0.9 THEN 'val'
                ELSE 'test' END AS split,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 12))::BIGINT % 5 AS cv_fold
         FROM documents ORDER BY doc_id""",

    "split_balance" ->
      """WITH sp AS (
           SELECT doc_id, lang,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       / 281474976710656.0 < 0.8 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       / 281474976710656.0 < 0.9 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         bys AS (SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n
                 FROM sp GROUP BY split, lang),
         st AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS stt FROM sp GROUP BY split),
         co AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cn FROM documents GROUP BY lang),
         ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS ctt FROM documents)
         SELECT split, bys.lang, n,
           CAST(n AS DOUBLE) / stt AS share,
           abs(CAST(n AS DOUBLE) / stt - CAST(cn AS DOUBLE) / ctt) AS share_drift
         FROM bys JOIN st USING (split) JOIN co ON bys.lang = co.lang, ct
         ORDER BY split, bys.lang""",

    // same banded pair chain as dedup_near + the dataset_split CASE;
    // leakage = threshold pairs whose endpoints land in different splits,

    // same banded pair chain as dedup_near + the dataset_split CASE;
    // leakage = threshold pairs whose endpoints land in different splits
    "split_leakage" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string(list_slice(string_split_regex(lower(trim(text)), '\s+'), i, i + 2), ' '))) AS sh
           FROM documents),
         hp AS (
           SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 12))::BIGINT) AS h1s,
             list_transform(sh, s -> ('0x' || substr(md5(s), 13, 12))::BIGINT) AS h2s
           FROM d WHERE len(sh) > 0),
         sg AS (
           SELECT doc_id,
             list_distinct(h1s) AS shset,
             list_transform(range(0, 16), j ->
               list_min(list_transform(range(1, len(h1s) + 1), x -> h1s[x] + j * h2s[x]))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, t.b AS band,
             md5(array_to_string(list_slice(sig, t.b * 4 + 1, t.b * 4 + 4), ',')) AS bh
           FROM sg, range(0, 4) t(b)),
         ok AS (
           SELECT band, bh FROM bands GROUP BY band, bh
           HAVING COUNT(*) BETWEEN 2 AND 10000),
         cap AS (SELECT bands.* FROM bands JOIN ok USING (band, bh)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM cap a JOIN cap c
             ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id),
         jac AS (
           SELECT id_a, id_b,
             CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE)
               / len(list_distinct(list_concat(x.shset, y.shset))) AS jaccard
           FROM cand
           JOIN sg x ON cand.id_a = x.doc_id
           JOIN sg y ON cand.id_b = y.doc_id),
         sp AS (
           SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       / 281474976710656.0 < 0.8 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       / 281474976710656.0 < 0.9 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT jac.id_a, jac.id_b, a.split AS split_a, b.split AS split_b
         FROM jac
         JOIN sp a ON jac.id_a = a.doc_id
         JOIN sp b ON jac.id_b = b.doc_id
         WHERE jac.jaccard >= 0.7 AND a.split <> b.split
         ORDER BY id_a, id_b""",

    "mlm_mask_plan" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         e AS (SELECT doc_id, unnest(range(len(toks))) AS pos FROM t),
         m AS (
           SELECT doc_id, pos,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
               || CAST(pos AS VARCHAR)), 1, 12))::BIGINT % 100 < 15 AS masked
           FROM e)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           COALESCE(array_to_string(list_sort(list(pos) FILTER (WHERE masked)), ','), '')
             AS masked_positions,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mask_rate
         FROM m GROUP BY doc_id ORDER BY doc_id""",

    "curriculum_order" ->
      """WITH si AS (
           SELECT source,
             CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS sidx
           FROM (SELECT DISTINCT source FROM documents)),
         ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM si),
         r AS (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_in_source
           FROM documents)
         SELECT r.doc_id, r.source, r.rank_in_source,
           CAST((r.rank_in_source - 1) * ns.n + si.sidx - 1 AS BIGINT) AS slot
         FROM r JOIN si USING (source), ns
         ORDER BY slot""",

    "cross_lang_overlap" ->
      """WITH t AS (
           SELECT lang, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT lang, list_distinct(list_transform(
             range(1, greatest(len(toks) - 3, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 12))::BIGINT)) AS sh
           FROM t),
         f AS (SELECT DISTINCT lang, unnest(sh) AS h FROM s),
         pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1),
         sh2 AS (
           SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM f a JOIN f b ON a.h = b.h AND a.lang < b.lang
           GROUP BY 1, 2)
         SELECT lang_a, lang_b, n_shared, ca.c AS n_a, cb.c AS n_b,
           CAST(n_shared AS DOUBLE)
             / CAST(ca.c + cb.c - n_shared AS DOUBLE) AS jaccard
         FROM sh2 JOIN pl ca ON sh2.lang_a = ca.lang
                  JOIN pl cb ON sh2.lang_b = cb.lang
         ORDER BY lang_a, lang_b""",

    // same marker regexes on the raw text (the lead+continuation mojibake
    // class interpolated from the op's shared constant); per-kchar rate
    // one divide, corrupt flag integer cross-multiplied
    "encoding_artifacts" ->
      raw"""WITH m AS (
           SELECT doc_id,
             CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(COALESCE(text, ''),
               '${graft.ops.LlmOps.mojibakePattern}')) AS BIGINT) AS n_mojibake,
             CAST(len(regexp_extract_all(COALESCE(text, ''),
               '�')) AS BIGINT) AS n_replacement,
             CAST(len(regexp_extract_all(COALESCE(text, ''),
               '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_control
           FROM documents)
         SELECT doc_id, n_chars, n_mojibake, n_replacement, n_control,
           CASE WHEN n_chars = 0 THEN 0.0
             ELSE CAST(n_mojibake + n_replacement + n_control AS DOUBLE)
               * 1000.0 / CAST(n_chars AS DOUBLE) END AS artifact_rate,
           n_replacement > 0
             OR (n_mojibake + n_control) * 200 > n_chars AS is_corrupt
         FROM m ORDER BY doc_id""",

    // raw-text symbol/identifier/indent counts; ratios one divide each,
    // is_code the fixed-threshold OR
    "code_detect" ->
      """WITH b AS (
           SELECT doc_id, COALESCE(text, '') AS t FROM documents),
         m AS (
           SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_chars,
             CAST(length(t) - length(regexp_replace(t, '[;{}()\[\]=<>]', '', 'g'))
               AS BIGINT) AS n_sym,
             CAST(len(list_filter(string_split_regex(t, '\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(t, '\s+'),
               x -> regexp_matches(x, '^[a-z]+(_[a-z0-9]+)+$')
                 OR regexp_matches(x, '^[a-z]+[A-Z][A-Za-z0-9]*$')))
               AS BIGINT) AS n_ident_tokens,
             CAST(len(list_filter(string_split(t, chr(10)), x -> x <> ''))
               AS BIGINT) AS n_lines,
             CAST(len(list_filter(string_split(t, chr(10)),
               x -> x <> '' AND regexp_matches(x, '^(  |\t)')))
               AS BIGINT) AS n_indented_lines
           FROM b)
         SELECT doc_id, n_chars, n_sym, n_tokens, n_ident_tokens, n_lines,
           n_indented_lines,
           CASE WHEN n_chars > 0
             THEN CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE)
             ELSE 0.0 END AS sym_ratio,
           CASE WHEN n_tokens > 0
             THEN CAST(n_ident_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             ELSE 0.0 END AS ident_share,
           CASE WHEN n_lines > 0
             THEN CAST(n_indented_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
             ELSE 0.0 END AS indent_share,
           (CASE WHEN n_chars > 0
              THEN CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE)
              ELSE 0.0 END) >= 0.03
           OR (CASE WHEN n_tokens > 0
              THEN CAST(n_ident_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              ELSE 0.0 END) >= 0.15
           OR (CASE WHEN n_lines > 0
              THEN CAST(n_indented_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
              ELSE 0.0 END) >= 0.3 AS is_code
         FROM m ORDER BY doc_id""",

    // sentence splits on [.!?]+ runs of the lowercased text, word counts
    // per non-empty trimmed run, list folds mirror the Spark HOFs
    // bigram stream (duplicates kept) hashed into the 8192-bucket domain,
    // target/source censuses as group-bys, per-doc sums exact longs,
    // ONE divide
    "dsir_affinity" ->
      """WITH t0 AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(
             range(1, greatest(len(toks) - 2, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(
               list_slice(toks, i, i + 1), ' ')), 1, 12))::BIGINT % 8192) AS bs
           FROM t0),
         u AS (SELECT doc_id, unnest(bs) AS b FROM sh),
         tc AS (
           SELECT b, CAST(COUNT(*) AS BIGINT) AS c
           FROM u JOIN documents d USING (doc_id)
           WHERE d.source = 'src0' GROUP BY 1),
         sc AS (
           SELECT b, CAST(COUNT(*) AS BIGINT) AS c
           FROM u GROUP BY 1),
         scored AS (
           SELECT u.doc_id,
             CAST(SUM(COALESCE(tc.c, 0)) AS BIGINT) AS affinity_num,
             CAST(SUM(COALESCE(sc.c, 0)) AS BIGINT) AS affinity_den
           FROM u LEFT JOIN tc ON u.b = tc.b LEFT JOIN sc ON u.b = sc.b
           GROUP BY 1)
         SELECT scored.doc_id, CAST(len(sh.bs) AS BIGINT) AS n_grams,
           affinity_num, affinity_den,
           CASE WHEN affinity_den = 0 THEN NULL
             ELSE CAST(affinity_num AS DOUBLE) / affinity_den END AS affinity
         FROM scored JOIN sh ON scored.doc_id = sh.doc_id
         ORDER BY scored.doc_id""",

    // word/line list folds mirroring the Spark HOFs; every ratio a single
    // int/int divide (NULL on 0 denominator), keep the threshold CASE
    "gopher_rules" ->
      """WITH b AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
         m AS (
           SELECT doc_id, t,
             list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS w,
             list_filter(list_transform(string_split(t, chr(10)),
               x -> trim(x)), x -> x <> '') AS l
           FROM b),
         c AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0)
               AS BIGINT) AS wchars,
             CAST(len(regexp_extract_all(t, '#|\.\.\.|…')) AS BIGINT) AS nsym,
             CAST(len(list_filter(l, x -> regexp_matches(x, '^[-*•]')))
               AS BIGINT) AS nbullet,
             CAST(len(list_filter(l, x -> regexp_matches(x, '(\.\.\.|…)$')))
               AS BIGINT) AS nellip,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
               AS BIGINT) AS nalpha,
             CAST((CASE WHEN regexp_matches(lower(t), '\bthe\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\bbe\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\bto\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\bof\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\band\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\bthat\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\bhave\b') THEN 1 ELSE 0 END)
               + (CASE WHEN regexp_matches(lower(t), '\bwith\b') THEN 1 ELSE 0 END)
               AS BIGINT) AS n_stop_hits,
             CAST(len(l) AS BIGINT) AS nlines,
             CAST(len(list_distinct(l)) AS BIGINT) AS ndlines
           FROM m),
         r AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words = 0 THEN NULL
               ELSE CAST(wchars AS DOUBLE) / n_words END AS mean_word_len,
             CASE WHEN n_words = 0 THEN NULL
               ELSE CAST(nsym AS DOUBLE) / n_words END AS symbol_word_ratio,
             CASE WHEN nlines = 0 THEN NULL
               ELSE CAST(nbullet AS DOUBLE) / nlines END AS bullet_line_frac,
             CASE WHEN nlines = 0 THEN NULL
               ELSE CAST(nellip AS DOUBLE) / nlines END AS ellipsis_line_frac,
             CASE WHEN n_words = 0 THEN NULL
               ELSE CAST(nalpha AS DOUBLE) / n_words END AS alpha_word_frac,
             n_stop_hits,
             CASE WHEN nlines = 0 THEN NULL
               ELSE CAST(nlines - ndlines AS DOUBLE) / nlines END AS dup_line_frac
           FROM c)
         SELECT r.*,
           CASE WHEN n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND symbol_word_ratio <= 0.1
             AND COALESCE(bullet_line_frac <= 0.9, TRUE)
             AND COALESCE(ellipsis_line_frac <= 0.3, TRUE)
             AND alpha_word_frac >= 0.8
             AND n_stop_hits >= 2
             AND COALESCE(dup_line_frac <= 0.3, TRUE)
           THEN TRUE ELSE FALSE END AS keep
         FROM r ORDER BY doc_id""",

    // line survival under the terminal-punctuation rule + page flags
    "c4_rules" ->
      """WITH b AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
         m AS (
           SELECT doc_id, t,
             list_filter(list_transform(string_split(t, chr(10)),
               x -> trim(x)), x -> x <> '') AS l,
             list_filter(list_transform(
               string_split_regex(lower(t), '[.!?]+'), x -> trim(x)),
               x -> x <> '') AS sents
           FROM b),
         c AS (
           SELECT doc_id,
             CAST(len(l) AS BIGINT) AS n_lines,
             CAST(len(list_filter(l, x -> regexp_matches(x, '[.!?"'']$')))
               AS BIGINT) AS n_terminal_lines,
             CAST(len(list_filter(l,
               x -> regexp_matches(lower(x), '\bjavascript\b')))
               AS BIGINT) AS n_js_lines,
             CAST(len(sents) AS BIGINT) AS n_sentences,
             contains(lower(t), 'lorem ipsum') AS has_lorem,
             contains(t, '{') AS has_brace
           FROM m)
         SELECT doc_id, n_lines, n_terminal_lines,
           CASE WHEN n_lines = 0 THEN NULL
             ELSE CAST(n_terminal_lines AS DOUBLE) / n_lines END
             AS kept_line_frac,
           n_js_lines, n_sentences, has_lorem, has_brace,
           (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace) AS keep
         FROM c ORDER BY doc_id""",

    "sentence_stats" ->
      """WITH s AS (
           SELECT doc_id,
             list_filter(list_transform(
               string_split_regex(lower(trim(COALESCE(text, ''))), '[.!?]+'),
               x -> trim(x)), x -> x <> '') AS sents
           FROM documents),
         w AS (
           SELECT doc_id, sents,
             list_transform(sents,
               x -> len(regexp_extract_all(x, '\S+'))) AS wc
           FROM s)
         SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(COALESCE(list_sum(wc), 0) AS BIGINT) AS n_words,
           CAST(COALESCE(list_max(wc), 0) AS BIGINT) AS max_sentence_words,
           CAST(COALESCE(len(list_filter(wc, x -> x < 3)), 0) AS BIGINT)
             AS n_fragments,
           CASE WHEN len(sents) > 0
             THEN CAST(COALESCE(list_sum(wc), 0) AS DOUBLE)
               / CAST(len(sents) AS DOUBLE) END AS mean_sentence_words
         FROM w ORDER BY doc_id""",

    // the exact twin filtered to the h % 4 = 0 fingerprint domain sample;
    // estimates scale by 4, jaccard is scale-free
    "cross_lang_overlap_sampled" ->
      """WITH t AS (
           SELECT lang, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT lang, list_distinct(list_transform(
             range(1, greatest(len(toks) - 3, 0) + 2),
             i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 12))::BIGINT)) AS sh
           FROM t),
         f AS (
           SELECT DISTINCT lang, h FROM (
             SELECT lang, unnest(sh) AS h FROM s) WHERE h % 4 < 1),
         pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1),
         sh2 AS (
           SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM f a JOIN f b ON a.h = b.h AND a.lang < b.lang
           GROUP BY 1, 2)
         SELECT lang_a, lang_b, n_shared AS n_shared_sampled,
           ca.c AS n_a_sampled, cb.c AS n_b_sampled,
           CAST(n_shared AS DOUBLE) * 4.0 AS n_shared_est,
           CAST(n_shared AS DOUBLE)
             / CAST(ca.c + cb.c - n_shared AS DOUBLE) AS jaccard_est
         FROM sh2 JOIN pl ca ON sh2.lang_a = ca.lang
                  JOIN pl cb ON sh2.lang_b = cb.lang
         ORDER BY lang_a, lang_b""",

    // Hellinger over the 8192-slot hashed vocab: per-shared-slot
    // sqrt(ca*cb) summed in sorted order, one divide by sqrt(na*nb)
    "token_hellinger_langs" ->
      """WITH ta AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents WHERE COALESCE(lang = 'en', FALSE)),
         sa AS (
           SELECT ('0x' || substr(md5(tok), 1, 12))::BIGINT % 8192 AS slot,
             CAST(COUNT(*) AS BIGINT) AS ca
           FROM ta WHERE tok <> '' GROUP BY 1),
         tb AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents WHERE COALESCE(lang = 'de', FALSE)),
         sb AS (
           SELECT ('0x' || substr(md5(tok), 1, 12))::BIGINT % 8192 AS slot,
             CAST(COUNT(*) AS BIGINT) AS cb
           FROM tb WHERE tok <> '' GROUP BY 1),
         na AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a FROM sa),
         nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS n_b FROM sb),
         j AS (
           SELECT sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) AS term
           FROM sa JOIN sb USING (slot)),
         f AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS slots_shared,
             COALESCE(list_reduce(list_sort(list(term)), (x, y) -> x + y),
               0.0) AS bcnum
           FROM j)
         SELECT n_a, n_b, slots_shared,
           bcnum / NULLIF(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 0)
             AS bc,
           1.0 - bcnum
             / NULLIF(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 0)
             AS hellinger_sq,
           sqrt(GREATEST(0.0, 1.0 - bcnum
             / NULLIF(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 0)))
             AS hellinger
         FROM f, na, nb""",

    // Heaps'-law growth: types attribute to the bucket of their first
    // occurrence (min doc id; bucketing is monotone in id)
    "vocab_growth" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents WHERE doc_id IS NOT NULL),
         tk AS (
           SELECT CAST(doc_id // 50 AS BIGINT) AS bucket, doc_id, tok
           FROM toks WHERE tok <> ''),
         pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
                FROM tk GROUP BY 1),
         fs AS (SELECT tok, MIN(doc_id) AS fid FROM tk GROUP BY 1),
         nt AS (SELECT CAST(fid // 50 AS BIGINT) AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS n_new_types
                FROM fs GROUP BY 1),
         j AS (
           SELECT pb.bucket, n_tokens,
             CAST(COALESCE(n_new_types, 0) AS BIGINT) AS n_new_types
           FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket)
         SELECT bucket, n_tokens, n_new_types,
           CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
           CAST(SUM(n_new_types) OVER (ORDER BY bucket) AS BIGINT)
             AS cum_types,
           CAST(SUM(n_new_types) OVER (ORDER BY bucket) AS DOUBLE)
             / NULLIF(CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS DOUBLE), 0)
             AS ttr
         FROM j ORDER BY bucket""",

    // FK grade / reading ease: exact counts, fixed rational expressions;
    // syllables = max(1, vowel-group runs) per word
    "readability_fk" ->
      """WITH b AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
         m AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(t)), '\s+'),
               x -> x <> '') AS w,
             list_filter(list_transform(
               string_split_regex(lower(t), '[.!?]+'), x -> trim(x)),
               x -> x <> '') AS sents
           FROM b),
         c AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(len(sents) AS BIGINT) AS n_sentences,
             CAST(CASE WHEN len(w) = 0 THEN 0
               ELSE list_reduce(list_transform(w,
                 x -> GREATEST(1, len(regexp_extract_all(x, '[aeiouy]+')))),
                 (u, v) -> u + v) END AS BIGINT) AS n_syllables
           FROM m)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           0.39 * (CAST(n_words AS DOUBLE)
               / NULLIF(CAST(n_sentences AS DOUBLE), 0))
             + 11.8 * (CAST(n_syllables AS DOUBLE)
               / NULLIF(CAST(n_words AS DOUBLE), 0))
             - 15.59 AS fk_grade,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
               / NULLIF(CAST(n_sentences AS DOUBLE), 0))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
               / NULLIF(CAST(n_words AS DOUBLE), 0)) AS flesch_ease
         FROM c ORDER BY doc_id""",

    // FineWeb's three heuristics: per-line census via unnest (the
    // duplicated-character cell counts ALL occurrences of repeated lines)
    "fineweb_rules" ->
      """WITH b AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
         m AS (
           SELECT doc_id,
             list_filter(list_transform(string_split(t, chr(10)),
               x -> trim(x)), x -> x <> '') AS l
           FROM b),
         ln AS (SELECT doc_id, unnest(l) AS line FROM m),
         lc AS (
           SELECT doc_id, CAST(SUM(length(line)) AS BIGINT) AS line_chars
           FROM ln GROUP BY 1),
         dg AS (SELECT doc_id, line, COUNT(*) AS cnt FROM ln GROUP BY 1, 2),
         dl AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * length(line)
               ELSE 0 END) AS BIGINT) AS dup_line_chars
           FROM dg GROUP BY 1),
         c AS (
           SELECT m.doc_id,
             CAST(len(l) AS BIGINT) AS n_lines,
             CAST(len(list_filter(l, x -> regexp_matches(x, '[.!?"'']$')))
               AS BIGINT) AS n_punct_lines,
             CAST(len(list_filter(l, x -> length(x) < 30)) AS BIGINT)
               AS n_short_lines,
             CAST(COALESCE(lc.line_chars, 0) AS BIGINT) AS line_chars,
             CAST(COALESCE(dl.dup_line_chars, 0) AS BIGINT) AS dup_line_chars
           FROM m LEFT JOIN lc ON m.doc_id = lc.doc_id
             LEFT JOIN dl ON m.doc_id = dl.doc_id),
         f AS (
           SELECT doc_id, n_lines, n_punct_lines, n_short_lines, line_chars,
             dup_line_chars,
             CASE WHEN n_lines = 0 THEN NULL
               ELSE CAST(n_punct_lines AS DOUBLE) / n_lines END
               AS punct_line_frac,
             CASE WHEN n_lines = 0 THEN NULL
               ELSE CAST(n_short_lines AS DOUBLE) / n_lines END
               AS short_line_frac,
             CASE WHEN line_chars = 0 THEN NULL
               ELSE CAST(dup_line_chars AS DOUBLE) / line_chars END
               AS dup_char_frac
           FROM c)
         SELECT doc_id, n_lines, n_punct_lines, n_short_lines, line_chars,
           dup_line_chars, punct_line_frac, short_line_frac, dup_char_frac,
           COALESCE(punct_line_frac > 0.12 AND short_line_frac < 0.67
             AND dup_char_frac < 0.1, FALSE) AS keep
         FROM f ORDER BY doc_id""",

  )

  /** McNemar pairing of the two canonical filter batteries — the oracle
    * composes the gopher_rules and c4_rules twins VERBATIM as subqueries
    * (DuckDB allows WITH inside a derived table), so the paired verdicts
    * are by construction the same verdicts the per-battery oracles check.
    */
  val oracle: Map[String, String] = oracleBase ++ Map("mcnemar_filters" ->
    s"""WITH ga AS (SELECT doc_id, keep FROM (${oracleBase("gopher_rules")})),
         ca AS (SELECT doc_id, keep FROM (${oracleBase("c4_rules")})),
         j AS (
           SELECT COALESCE(ga.keep, FALSE) AS ka, COALESCE(ca.keep, FALSE) AS kb
           FROM ga JOIN ca USING (doc_id)),
         c AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
             CAST(SUM(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END)
               AS BIGINT) AS n_neither,
             CAST(SUM(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a_only,
             CAST(SUM(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b_only
           FROM j)
         SELECT n, n_both, n_neither, n_a_only, n_b_only,
           CAST((n_a_only - n_b_only) * (n_a_only - n_b_only) AS DOUBLE)
             / NULLIF(CAST(n_a_only + n_b_only AS DOUBLE), 0) AS chi2,
           CAST(greatest(ABS(n_a_only - n_b_only) - 1, 0)
               * greatest(ABS(n_a_only - n_b_only) - 1, 0) AS DOUBLE)
             / NULLIF(CAST(n_a_only + n_b_only AS DOUBLE), 0) AS chi2_cc
         FROM c""",

  // Cochran's Q over the THREE battery twins composed VERBATIM (the
  // mcnemar_filters discipline): the paired verdicts are by construction
  // the same verdicts the per-battery oracles check.
  "cochran_q_filters" ->
    s"""WITH ga AS (SELECT doc_id, keep FROM (${oracleBase("gopher_rules")})),
         ca AS (SELECT doc_id, keep FROM (${oracleBase("c4_rules")})),
         fa AS (SELECT doc_id, keep FROM (${oracleBase("fineweb_rules")})),
         j AS (
           SELECT COALESCE(ga.keep, FALSE)::INT AS kg,
             COALESCE(ca.keep, FALSE)::INT AS kc,
             COALESCE(fa.keep, FALSE)::INT AS kf
           FROM ga JOIN ca USING (doc_id) JOIN fa USING (doc_id)),
         c AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(kg) AS BIGINT) AS keeps_gopher,
             CAST(SUM(kc) AS BIGINT) AS keeps_c4,
             CAST(SUM(kf) AS BIGINT) AS keeps_fineweb,
             CAST(SUM(kg + kc + kf) AS BIGINT) AS t,
             CAST(SUM((kg + kc + kf) * (kg + kc + kf)) AS BIGINT) AS l2
           FROM j)
         SELECT n, keeps_gopher, keeps_c4, keeps_fineweb,
           CAST(3 AS BIGINT) AS k, CAST(2 AS BIGINT) AS deg_f,
           CAST(2 * (3 * (keeps_gopher * keeps_gopher + keeps_c4 * keeps_c4
               + keeps_fineweb * keeps_fineweb) - t * t) AS DOUBLE)
             / NULLIF(CAST(3 * t - l2 AS DOUBLE), 0) AS q
         FROM c""")
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/**
 * Text-analysis queries over the `documents` table (EXT operators,
 * SURVEY §2.11): token counting, quality scoring, language ID, document
 * fingerprinting. All per-document scoring is map-only — zero shuffles —
 * so at 100 TB these scale linearly with input splits.
 *
 * Oracle notes: every primitive was chosen for engine-identical semantics
 * (md5-hex hashes, token-exact word hits via list_filter, fold-based
 * rolling hash); the DuckDB SQL recomputes each formula verbatim.
 */
object TextQueries extends QueryPack {

  private val VocabSize = 20 // q77 top-V vocabulary

  /** Documents spread across the session's parallelism: the per-document
    * scoring expressions are interpreted (HOF folds), so a corpus arriving
    * as few files would otherwise bottleneck on as many cores. Gated on
    * input width (`Spread.byKey`): a cluster-scale corpus arrives pre-split
    * past the parallelism and must NOT pay a body shuffle here. */
  private def docs(s: SparkSession, dir: String) =
    graft.core.Spread.byKey(Tables.read(s, dir, "documents"), col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXT-T1: token counts (whitespace + BPE-ish), punctuation, ratios, quality.
    "q16_text_stats" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        tokenCountWs(col("text")).cast("long").as("n_tokens"),
        tokenCountBpe(col("text")).as("n_bpe"),
        punctCount(col("text")).as("n_punct"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(qualityScore(col("text")), 6).as("quality"))
        .orderBy(col("doc_id"))),

    // EXT-T2: language ID vs the labeled lang, row-level.
    "q17_lang_id" -> ((s, dir) =>
      graft.functions.TextFunctions.langIdBulk(docs(s, dir))
        .select(col("doc_id"), col("lang"), col("lang_pred"))
        .orderBy(col("doc_id"))),

    // EXT-T3: rolling-hash fingerprint (native codegen'd expression) +
    // winnowing-style min 3-gram hash (bulk explode/aggregate form — both
    // kernels stay out of interpreted HOF lambdas). The input repartition
    // keys by doc_id, so the aggregate and the join back are
    // exchange-free.
    "q18_fingerprint" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .join(minShingleHashAgg(d, 3), Seq("doc_id"), "left")
        .orderBy(col("doc_id"))
    }),

    // EXT-T5: corpus profiling — the pre-training triage query: per-language
    // volume, token-count distribution (exact interpolated percentiles),
    // and mean quality. One aggregation pass, map-side partials.
    "q48_corpus_profile" -> ((s, dir) =>
      docs(s, dir)
        .select(col("lang"), tokenCountWs(col("text")).cast("double").as("nt"),
          qualityScore(col("text")).as("q"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nt")), 6).as("mean_tokens"),
          round(percentile(col("nt"), lit(0.5)), 6).as("p50_tokens"),
          round(percentile(col("nt"), lit(0.9)), 6).as("p90_tokens"),
          round(avg(col("q")), 6).as("mean_quality"))
        .orderBy(col("lang"))),

    // EXT-T7: context-window chunking — 64-token windows every 48 tokens
    // (overlapping), the training-data packing operator. Map-only.
    "q50_chunk_windows" -> ((s, dir) =>
      graft.operators.Chunking.chunkDocuments(docs(s, dir), 64, 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // EXT-T58: Unicode NFC canonicalization dedup — the native codegen'd
    // `nfc` expression ahead of content keying: the fixture plants a
    // "café" marker PRECOMPOSED (U+00E9) on even doc_ids and DECOMPOSED
    // (e + U+0301) on odd — byte-different, canonically equal — so raw
    // digests split every exact-dup pair of mixed parity while NFC
    // digests reunite them. Output: per doc, whether NFC changed the
    // bytes, the canonical digest, and the dedup group id.
    "q172_nfc_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val marker = when(col("doc_id") % 2 === 0, lit(" caf\u00e9"))
        .otherwise(lit(" cafe\u0301"))
      val planted = docs(s, dir)
        .select(col("doc_id"), concat(col("text"), marker).as("text"))
      planted
        .select(col("doc_id"),
          (col("text") =!= nfcNormalize(col("text"))).as("changed"),
          md5(nfcNormalize(col("text"))).as("nfc_md5"))
        .withColumn("canon_id",
          min(col("doc_id")).over(Window.partitionBy(col("nfc_md5"))))
        .orderBy(col("doc_id"))
    }),

    // EXT-T57: corpus data card (Datasheets for Datasets / Data Cards
    // reporting tier) — one governance row per source: volume (docs,
    // tokens), mean quality, language-mix Shannon entropy (mono-source
    // detection), and corpus-wide exact-duplicate participation rate
    // (which sources ship copies). Three keyed aggregates + one
    // digest-keyed semi-join; every metric re-derivable, none sampled.
    "q171_corpus_card" -> ((s, dir) => {
      val d = docs(s, dir).select(col("source"), col("lang"),
        tokenCountWs(col("text")).cast("long").as("nt"),
        qualityScore(col("text")).as("q"), md5(col("text")).as("dg"))
      val totals = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        round(avg(col("q")), 6).as("mean_quality"))
      val dupDig = d.groupBy(col("dg")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).select(col("dg"))
      val dups = d.join(dupDig, Seq("dg"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
      val ent = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("nl"))
        .withColumn("n", sum(col("nl")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
        .groupBy(col("source"))
        .agg(round(-sum((col("nl") / col("n")) * log(col("nl") / col("n"))), 6)
          .as("lang_entropy"))
      totals.join(ent, Seq("source"))
        .join(dups, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_quality"), col("lang_entropy"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_docs").cast("double"), 6).as("dup_frac"))
        .orderBy(col("source"))
    }),

    // EXT-T56: ROUGE-N overlap evaluation — clipped bigram multiset
    // precision/recall/F1 per (candidate, reference) pair: the metric
    // face of near-dup detection and rewrite/summary QA. Pairs here are
    // (doc, its successor doc) for every doc_id % 5 == 0 — adjacent
    // fixture docs include planted near-dup pairs, so scores span the
    // range. All ratios are one division of exact longs (F1 = 2·ov /
    // (ct + rt)), so engines agree bitwise.
    "q170_rouge_eval" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val cand = d.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("pair_id"), col("text").as("cand"))
      val ref = d.select((col("doc_id") - 1).as("pair_id"), col("text").as("ref"))
      graft.operators.TextMetrics.rougeN(cand.join(ref, Seq("pair_id")), RougeOrder)
        .orderBy(col("pair_id"))
    }),

    // EXT-T81: BLEU with brevity penalty — the MT-curation gate beside
    // q170's recall-oriented ROUGE: clipped modified precision per
    // n-gram order 1..4 (exact-integer ratios), the closed-form brevity
    // penalty, and the uniform-weight geometric mean (unsmoothed: any
    // zero order scores 0). The plant makes scores SPAN the range and
    // exercises each branch: reference = the doc itself; candidate by
    // id % 3 — a 3/4-length prefix (high precisions, BP < 1), the text
    // plus a 4-token planted tail (BP = 1, precisions just under 1), or
    // the reversed token stream (p_1 = 1 but higher orders 0 → the
    // zero-order convention fires).
    "q237_bleu_eval" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val tk = tokensWs(col("text"))
      val cut = ceil(size(tk) * lit(3) / lit(4.0)).cast("int")
      val cand = when(col("doc_id") % 3 === 0,
          array_join(slice(tk, lit(1), cut), " "))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" alpha beta gamma delta")))
        .otherwise(array_join(reverse(tk), " "))
      graft.operators.TextMetrics.bleuN(
          d.where(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("pair_id"), cand.as("cand"),
              col("text").as("ref")),
          BleuOrder)
        .orderBy(col("pair_id"))
    }),

    // EXT-T55: CONTENT-DEFINED chunking (LBFS/FastCDC cut rule) — the
    // rolling trailing-window hash cuts where h ≡ 0 mod 16, so chunk
    // boundaries re-align after edits and identical text regions hash
    // identically at ANY offset (the property q50's fixed widths lack;
    // what chunk-level dedup keys on).
    "q168_cdc_chunks" -> ((s, dir) =>
      graft.operators.Chunking.cdcChunks(docs(s, dir), CdcWindow, CdcModK)
        .orderBy(col("doc_id"), col("chunk_no"))),

    // EXT-T51: length-bucketed batch shaping — the inference/eval
    // counterpart of sequence packing: q50's chunks bucket by padded
    // width (smallest boundary ≥ length; over-long rows excluded
    // loudly), each batch holds ⌊budget/width⌋ rows, assignment is the
    // deterministic (length, id) order. Output: one row per batch with
    // its padding-efficiency — the number batch-shaping exists to
    // optimize. The oracle replays bucketing, the per-bucket window,
    // and the efficiency arithmetic.
    "q159_length_batches" -> ((s, dir) => {
      val chunks = graft.operators.Chunking
        .chunkDocuments(docs(s, dir), 64, 48)
        .withColumn("chunk_key",
          concat(col("doc_id").cast("string"), lit(":"), col("chunk_id").cast("string")))
      graft.operators.Chunking.lengthBatches(
          chunks, tokenBudget = 512, boundaries = Seq(16, 32, 64),
          tokenCol = "n_tokens", idCol = "chunk_key")
        .groupBy(col("bucket_upper"), col("batch_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("pad_tokens")).as("sum_pad"),
          round(sum(col("n_tokens")).cast("double") /
            (sum(col("n_tokens")) + sum(col("pad_tokens"))).cast("double"), 6)
            .as("efficiency"))
        .orderBy(col("bucket_upper"), col("batch_id"))
    }),

    // EXT-T6: deterministic stratified sampling — rebalance the corpus by
    // language with hash-slice membership (content-stable: same row in or
    // out on any engine, layout, or rerun — unlike seed sampling).
    "q49_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratified(
          Tables.read(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 500, "de" -> 250), defaultPermille = 100)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // OP-04/05 for text corpora: JSONL round-trip (the training-data
    // interchange format) — write the documents table as newline-delimited
    // JSON, read it back with an explicit schema. JSON string escaping
    // makes the round-trip exact, so the oracle is the original table.
    "q45_jsonl_roundtrip" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_jsonl")
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      graft.sources.Sources.saveJsonl(d, out)
      graft.sources.Sources.jsonl(s, out,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, text STRING"))
        .orderBy(col("doc_id"))
    }),

    // EXT-T4: term co-occurrence similarity — text analysis feeding the
    // engine's Pearson core (SURVEY §7.5): tokens become items, documents
    // become contexts, and the same Crosstab → Correlation → topK pipeline
    // produces "related terms". Token identity is hash60 (items are opaque
    // Longs); names re-attached from the token dictionary.
    // EXT-T8: TF-IDF-weighted term similarity (SURVEY §7.5) — the same
    // correlation core as q36, but cells carry tf·idf_q (integer
    // milli-nat idf keeps the co-moment sums exact — see
    // TextFunctions.tfidfCrosstab), so boilerplate terms stop dominating.
    "q56_tfidf_terms" -> ((s, dir) => {
      val d = docs(s, dir)
      val top = graft.core.Neighbors.topK(
        graft.core.Correlation.sparsePairs(tfidfCrosstab(d)), 3)
      val toks = d.select(explode(tokensWs(col("text"))).as("tok"))
      val dict = toks.select(hash60(col("tok")).as("h"), col("tok")).distinct()
      top
        .join(dict.select(col("h").as("item_a"), col("tok").as("term_a")), Seq("item_a"))
        .join(dict.select(col("h").as("item_b"), col("tok").as("term_b")), Seq("item_b"))
        .select(col("term_a"), col("term_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("term_a"), col("corr").desc_nulls_last, col("term_b"))
    }),

    // EXT-T9: repetition quality filters (the Gopher/C4 family adapted to
    // word n-grams): duplicate-token fraction, most-frequent-2-gram char
    // coverage, duplicated-5-gram char coverage. One id-partition serves
    // the whole pipeline (see Repetition).
    "q62_repetition" -> ((s, dir) =>
      graft.operators.Repetition.repetitionStats(docs(s, dir))
        .select(col("doc_id"),
          round(col("dup_token_frac"), 6).as("dup_token_frac"),
          round(col("top2_char_frac"), 6).as("top2_char_frac"),
          round(col("dup5_char_frac"), 6).as("dup5_char_frac"))
        .orderBy(col("doc_id"))),

    // EXT-T10: PII detection + redaction. The corpus has no organic PII,
    // so every third document gets a deterministic doc_id-derived contact
    // suffix (email + phone + IPv4) planted IN THE QUERY — the oracle
    // derives the identical text, so both the counts and the redacted
    // output are exercised on PII-bearing AND clean documents.
    "q63_pii_redact" -> ((s, dir) => {
      val withPii = when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string")))
        .otherwise(col("text"))
      docs(s, dir).select(col("doc_id"), withPii.as("t"))
        .select(col("doc_id"),
          emailCount(col("t")).as("n_emails"),
          phoneCount(col("t")).as("n_phones"),
          ipv4Count(col("t")).as("n_ips"),
          redactPii(col("t")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // EXT-T15: fractional-epoch domain mixing — en×1.4, de×2.25, rest
    // ×0.5: every row replays ⌊w⌋ times plus a content-stable hash slice
    // once more. Map-only (explode of a per-row copy count), no shuffle.
    "q76_mix_epochs" -> ((s, dir) =>
      graft.operators.Sampling.mixEpochs(
          Tables.read(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 1.4, "de" -> 2.25), defaultWeight = 0.5)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // EXT-T16: vocabulary build + coverage — the top-V corpus tokens by
    // frequency (the vocab), then each language's token-occurrence
    // coverage under that vocab (the OOV-rate planning query for
    // tokenizer sizing). Vocab = map-side partial agg + TakeOrdered;
    // coverage = broadcast vocab probe, one corpus pass.
    "q77_vocab_coverage" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("lang"),
        explode(tokensWs(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(VocabSize)
        .select(col("tok"))
      toks.join(broadcast(vocab.withColumn("iv", lit(1L))), Seq("tok"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("iv"), lit(0L))).as("n_invocab"))
        .select(col("lang"), col("n_tokens"), col("n_invocab"),
          round(col("n_invocab").cast("double") / col("n_tokens"), 6)
            .as("coverage"))
        .orderBy(col("lang"))
    }),

    // EXT-T17: deterministic global training shuffle — reproducible
    // (shard, pos) permutation from content-stable hashes; one uniform
    // shard shuffle, per-shard windows, no global sort.
    "q79_train_shuffle" -> ((s, dir) =>
      graft.operators.Sampling.shardAssignment(
          Tables.read(s, dir, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))),

    // EXT-T18: per-stratum TOKEN budgets — the mixture quota in the unit
    // that matters: documents kept in content-stable hash order until
    // each language's cumulative whitespace-token count crosses its
    // budget (crossing doc included).
    "q80_token_budget" -> ((s, dir) =>
      graft.operators.Sampling.tokenBudgetPerStratum(
          Tables.read(s, dir, "documents")
            .withColumn("n_toks", tokenCountWs(col("text"))),
          "doc_id", "lang", "n_toks",
          Map("en" -> 3000L, "de" -> 1000L), defaultBudget = 500L)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // EXT-T22: language-ID confusion matrix — predicted langId vs the
    // fixture's ground-truth label, one count per (truth, predicted)
    // cell. The in-engine quality gate for the langId tier (the q41
    // pattern applied to classification): a profile change that degrades
    // accuracy moves counts between cells and fails the gate.
    "q96_langid_confusion" -> ((s, dir) =>
      graft.functions.TextFunctions.langIdBulk(docs(s, dir))
        .select(col("lang").as("truth"), col("lang_pred").as("predicted"))
        .groupBy(col("truth"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("truth"), col("predicted"))),

    // EXT-T21: bigram collocations by lift — c(ab)·10⁶ / (c(a)·c(b))
    // over all token occurrences, min-support 5, top-30. The score is a
    // SINGLE division of exact integer counts (all < 2⁵³), so it is
    // bit-identical across engines — the FP-safe stand-in for PMI
    // (monotone in it at fixed corpus size). Phrase mining / tokenizer
    // merge-candidate discovery.
    "q92_collocations" -> ((s, dir) => {
      val d = docs(s, dir)
      val uc = d.select(explode(tokensWs(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val bc = shingleStream(d, 2).groupBy(col("sh"))
        .agg(count(lit(1)).as("c_ab")).where(col("c_ab") >= 5)
      // get(), not getItem(): Catalyst pushes the join keys'
      // isnotnull(split(sh)[i]) below the aggregate and below
      // shingleStream's tail-stub filter, where single-token rows still
      // exist — ANSI getItem throws there; get() yields NULL and the
      // null key simply never joins.
      bc
        .withColumn("tok_a", get(split(col("sh"), " "), lit(0)))
        .withColumn("tok_b", get(split(col("sh"), " "), lit(1)))
        .join(uc.select(col("tok").as("tok_a"), col("c").as("c_a")), Seq("tok_a"))
        .join(uc.select(col("tok").as("tok_b"), col("c").as("c_b")), Seq("tok_b"))
        .select(col("sh").as("bigram"), col("c_ab"),
          round(col("c_ab").cast("double") * 1000000.0 /
            (col("c_a") * col("c_b")).cast("double"), 6).as("lift6"))
        .orderBy(col("lift6").desc, col("bigram"))
        .limit(30)
    }),

    // EXT-T20: relative quality filter — keep each language's top
    // quartile by quality score. RANK-based (not a percentile-value
    // threshold), so the kept set is exact and engine-independent:
    // ranking on the 6-decimal-rounded score with id tie-break makes
    // boundary membership deterministic. One stratum shuffle.
    "q84_quality_quartile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = docs(s, dir).select(col("doc_id"), col("lang"),
        round(qualityScore(col("text")), 6).as("quality"))
      val wRank = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
      val wAll = Window.partitionBy(col("lang"))
      scored
        .withColumn("rnk", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        .where(col("rnk") <= ceil(col("n") * 0.25))
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // EXT-T52: host-level quality gating — RefinedWeb-style: score docs
    // individually, aggregate per HOST (`source` is this corpus's
    // provenance axis), flag the bottom-quartile hosts by mean quality
    // and gate every document they contributed. Selection is rank-based
    // under the total order (mean_quality, host) via the two-phase
    // distributed rank — no unpartitioned window, no float-threshold
    // boundary for the oracle to disagree on.
    "q161_host_gate" -> ((s, dir) => {
      val scored = docs(s, dir)
        .select(col("source"), qualityScore(col("text")).as("q"))
      graft.operators.HostCuration
        .hostQualityGate(scored, "source", "q", HostBottomFrac)
        .orderBy(col("source"))
    }),

    // EXT-T11: per-stratum quota sampling — absolute per-language document
    // budgets (vs q49's per-mille rates). WindowGroupLimit prunes map-side.
    "q65_quota_sample" -> ((s, dir) =>
      graft.operators.Sampling.quotaPerStratum(
          Tables.read(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 120, "de" -> 40), defaultCap = 25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // EXT-T13: corpus n-gram document frequency — the top-50 most
    // widespread 3-grams (boilerplate detection: a shingle in thousands
    // of documents is template text, and this is the query that finds
    // the cap for jaccardPairs' maxShingleDegree). Map-side partial agg
    // + TakeOrdered; ties broken by the n-gram itself.
    "q70_ngram_topk" -> ((s, dir) =>
      shingleStream(docs(s, dir), 3).distinct()
        .groupBy(col("sh").as("ngram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram"))
        .limit(50)),

    // EXT-T14: sequence packing — non-overlapping 64-token chunks laid
    // end to end per language and sliced every 256 tokens (concat-and-
    // chunk accounting). The parallelism axis is the stratum; packing
    // within one is inherently sequential.
    "q72_pack_sequences" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val chunks = graft.operators.Chunking.chunkDocuments(docs(s, dir), 64, 64)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.operators.Chunking.packSequences(chunks, 256, "lang",
          Seq("doc_id", "chunk_id"))
        .select(col("lang"), col("doc_id"), col("chunk_id"), col("n_tokens"),
          col("cum_before"), col("pack_id"), col("pack_offset"), col("straddles"))
        .orderBy(col("lang"), col("doc_id"), col("chunk_id"))
    }),

    "q36_term_similarity" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        explode(tokensWs(col("text"))).as("tok"))
      val occ = toks.select(hash60(col("tok")).as("item_id"), col("doc_id").as("reference_id"))
      val dict = toks.select(hash60(col("tok")).as("h"), col("tok")).distinct()
      val top = graft.core.Neighbors.topK(
        graft.core.Correlation.sparsePairs(graft.core.Crosstab.build(occ)), 3)
      top
        .join(dict.select(col("h").as("item_a"), col("tok").as("term_a")), Seq("item_a"))
        .join(dict.select(col("h").as("item_b"), col("tok").as("term_b")), Seq("item_b"))
        .select(col("term_a"), col("term_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("term_a"), col("corr").desc_nulls_last, col("term_b"))
    }),

    // EXT-T23: BM25 ranked retrieval — top-15 documents for a 3-term
    // keyword query. Only query-term tokens are exploded and shuffled
    // (the filter sits inside the tokenizer's codegen stage); document
    // length and corpus stats come from a map-only projection, so at
    // 100 TB the exchange carries matching (doc, term) rows only.
    // Ranking is on the ROUNDED score with doc_id tiebreak, so the
    // boundary of the top-k is engine-reproducible.
    "q108_bm25_topk" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(
        Tables.read(s, dir, "documents"), Bm25Terms, 15)),

    // EXT-T61: incremental BM25 index — build the persisted inverted
    // file (postings + doclens + batch stats) from the base corpus, fold
    // a crawl delta as an append batch, and SERVE the query from the
    // store: term-pushed postings scan, serve-time df, exact summed
    // scalars. The gate is the equality law — store-served top-k over
    // base ∪ delta must match the one-shot full-corpus BM25 (q108's
    // oracle) bitwise, which holds because dl sums are integer-exact
    // across any batch split.
    "q182_bm25_index" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_bm25")
      val d = Tables.read(s, dir, "documents")
      graft.store.Bm25Store.write(d.where(col("doc_id") % 5 =!= 0), out)
      graft.store.Bm25Store.append(d.where(col("doc_id") % 5 === 0), out,
        batchName = Some("delta1"))
      graft.store.Bm25Store.topK(s, out, Bm25Terms, 15)
    }),

    // EXT-T25: distributed BPE merge training — the first five merges of
    // a byte-pair-encoding tokenizer, trained corpus-side. The corpus
    // collapses ONCE to the (word, freq) vocabulary table (which
    // saturates as data grows — the 100 TB argument); each round is a
    // map-only pair explode + one hash aggregate + a 1-row driver argmax
    // (the Lloyd-round pattern) + a map-only rewrite. The oracle unrolls
    // all five rounds as chained CTEs and replays the same token-level
    // gaps-and-islands recurrence round by round (NOT a delimiter-string
    // replace — Bpe.scala documents the fuzz witness that rules it out).
    "q116_bpe_merges" -> ((s, dir) =>
      graft.operators.Bpe.trainMerges(
          s, Tables.read(s, dir, "documents"), BpeMerges,
          maxWordLen = BpeMaxWordLen)
        .orderBy(col("round"))),

    // EXT-T26: temperature-balanced source mixing — the multilingual-/
    // multi-source-corpus reweighting step (weight ∝ n^α, here α = 1/2
    // via sqrt so the arithmetic is correctly-rounded IEEE in any
    // engine): per-source sampling weight, a quota out of 1M examples,
    // and the implied epochs over each source (quota / size — > 1 means
    // upsampling). One source-level aggregate + a broadcast of the
    // 1-row total; nothing here scales with rows.
    "q119_source_mix" -> ((s, dir) => {
      val srcs = Tables.read(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val w = sqrt(col("n_docs").cast("double"))
      val tot = srcs.agg(sum(sqrt(col("n_docs").cast("double"))).as("wtot"))
      srcs.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_chars"),
          round(w / col("wtot"), 6).as("weight"),
          floor(w / col("wtot") * lit(1000000.0)).cast("long").as("quota"),
          round(w / col("wtot") * lit(1000000.0) /
            col("n_docs").cast("double"), 6).as("epochs"))
        .orderBy(col("source"))
    }),

    // EXT-T27: corpus-trained unigram LM scoring — the CCNet-style
    // perplexity proxy: avg −ln p(token) per document under the corpus's
    // own unigram distribution; the standard unsupervised signal that
    // tiers pre-training data into quality buckets. Vocabulary saturates
    // with corpus growth; the scoring join broadcasts it (AQE) or rides
    // the token exchange the tf aggregate already created.
    "q120_unigram_nll" -> ((s, dir) =>
      graft.operators.LanguageModel.unigramNegLogProb(
          Tables.read(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // EXT-T28: interpolated bigram LM scoring — one order up from q120's
    // unigram proxy (Jelinek–Mercer λ·p_bi + (1−λ)·p_uni, λ = 0.7):
    // context-aware surprise, the closer stand-in for the KenLM-style
    // perplexity filters production pipelines run. One doc-partitioned
    // lag window builds transitions map-side; the count tables saturate.
    "q125_bigram_nll" -> ((s, dir) =>
      graft.operators.LanguageModel.bigramNegLogProb(
          Tables.read(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // EXT-T60: interpolated Kneser–Ney bigram scoring — the smoothing
    // that wins n-gram evaluations, completing the LM ladder (q120
    // unigram → q125 JM bigram → q145 backoff trigram → KN): the
    // lower-order mass is the CONTINUATION probability (distinct
    // left-context types), so frozen-collocation tails ("Francisco")
    // stop inflating their own unigram backoff. Self-scored corpus →
    // every count ≥ 1 → the discount clip never binds; exact-integer
    // counts throughout.
    "q180_kneser_ney" -> ((s, dir) =>
      graft.operators.LanguageModel.kneserNeyBigramNll(
          Tables.read(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // EXT-T39: Stupid-Backoff trigram scoring — the LM tier's top order
    // (unigram q120 → JM bigram q125 → backoff trigram), trained on
    // doc_id % 5 ≠ 0 and scored HELD-OUT on % 5 = 0 so every backoff
    // branch fires (self-scoring never leaves the trigram branch);
    // count tables saturate, transitions build map-side from one
    // doc-partitioned lag window.
    "q145_trigram_backoff" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      graft.operators.LanguageModel.trigramBackoffNll(
          d.where(col("doc_id") % 5 =!= 0), d.where(col("doc_id") % 5 === 0),
          BackoffAlpha)
        .orderBy(col("doc_id"))
    }),

    // EXT-T29: tokenizer ENCODE face — per-document sequence length under
    // the q116-trained merges (the packing/budgeting number). Merges are
    // applied to the VOCABULARY once, the corpus word stream joins per-
    // word subword counts back; the 5-row merge table is the only
    // driver state.
    "q126_bpe_encode" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val ms = graft.operators.Bpe.trainMerges(s, d, BpeMerges,
          maxWordLen = BpeMaxWordLen)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.encodedLengths(d, ms, maxWordLen = BpeMaxWordLen)
        .orderBy(col("doc_id"))
    }),

    // EXT-T40: materialized training sequences — the step after q126's
    // length accounting and q72's count-only packing: per-document
    // token-ID sequences under the q116-trained merges (dense
    // lexicographic piece ids, two-phase rank — no global window),
    // concatenated per (lang, shard) stratum in doc order and sliced
    // every 256 ids; straddling documents SPLIT at the boundary. The
    // shard axis is q79's content-stable hash-mod — `lang` alone leaves
    // ~|langs| window partitions each carrying its language's whole
    // token stream at 100×; lang×shard makes shard count the scale
    // knob. Output: one row per (lang, shard, pack_id) with the actual
    // packed id content.
    "q146_pack_token_ids" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val ms = graft.operators.Bpe.trainMerges(s, d, BpeMerges,
          maxWordLen = BpeMaxWordLen)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val ids = graft.operators.Bpe.encodedIds(d, ms, maxWordLen = BpeMaxWordLen)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("shard", pmod(
          graft.functions.TextFunctions.hash60(col("doc_id").cast("string")),
          lit(PackShards.toLong)))
      graft.operators.Chunking.packIdSequences(
          ids, PackSeqLen, Seq("lang", "shard"), "doc_id", "ids")
        .select(col("lang"), col("shard"), col("pack_id"),
          size(col("seq")).cast("long").as("n_tokens"),
          concat_ws(" ", transform(col("seq"), x => x.cast("string"))).as("ids"))
        .orderBy(col("lang"), col("shard"), col("pack_id"))
    }),

    // EXT-J5: packed token-id BINARY shards (the Megatron .bin layout a
    // training loader mmaps: raw little-endian int32 ids + a queryable
    // parquet index) — materialize hashed-id training sequences, write
    // them through the distributed shard sink, read them back via
    // seek-reads, and present the round-tripped rows; the gate replays
    // the PACKING in SQL, so the bytes on disk must reconstruct exactly.
    "q187_token_shards" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val ids = d.select(col("doc_id"), col("lang"),
          transform(graft.functions.TextFunctions.tokensWs(col("text")),
            t => pmod(graft.functions.TextFunctions.hash60(t),
              lit(ShardVocabMod)).cast("int")).as("ids"))
        .withColumn("shard", pmod(
          graft.functions.TextFunctions.hash60(col("doc_id").cast("string")),
          lit(PackShards.toLong)))
      val packed = graft.operators.Chunking.packIdSequences(
          ids, PackSeqLen, Seq("lang", "shard"), "doc_id", "ids")
        .select(concat_ws(":", col("lang"), col("shard"), col("pack_id"))
          .as("seq_key"), col("seq"))
      val out = graft.core.Scratch.dir("graft_tokshards")
      graft.sources.TokenShards.write(packed, out, idsCol = "seq")
      graft.sources.TokenShards.read(s, out)
        .withColumn("p", split(col("seq_key"), ":"))
        .select(element_at(col("p"), 1).as("lang"),
          element_at(col("p"), 2).cast("long").as("shard"),
          element_at(col("p"), 3).cast("long").as("pack_id"),
          size(col("ids")).cast("long").as("n_tokens"),
          concat_ws(" ", transform(col("ids"), x => x.cast("string"))).as("ids"))
        .orderBy(col("lang"), col("shard"), col("pack_id"))
    }),

    // EXT-J6: packed-sequence PROVENANCE — q187's packing plus the
    // per-pack document-boundary map a training loader needs (attention
    // masks must not cross document boundaries inside a pack; data
    // attribution needs doc → positions). One row per pack with the
    // spans serialized doc:start:len in position order; Σ len = the
    // pack's token count by construction, which the oracle enforces by
    // computing n_tokens FROM the spans.
    "q218_pack_spans" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val ids = d.select(col("doc_id"), col("lang"),
          transform(graft.functions.TextFunctions.tokensWs(col("text")),
            t => pmod(graft.functions.TextFunctions.hash60(t),
              lit(ShardVocabMod)).cast("int")).as("ids"))
        .withColumn("shard", pmod(
          graft.functions.TextFunctions.hash60(col("doc_id").cast("string")),
          lit(PackShards.toLong)))
      graft.operators.Chunking.packIdSequencesWithSpans(
          ids, PackSeqLen, Seq("lang", "shard"), "doc_id", "ids")
        .select(col("lang"), col("shard"), col("pack_id"),
          size(col("seq")).cast("long").as("n_tokens"),
          concat_ws(" ", transform(col("spans"),
            sp => concat_ws(":", sp.getField("doc").cast("string"),
              sp.getField("start").cast("string"),
              sp.getField("len").cast("string")))).as("spans"))
        .orderBy(col("lang"), col("shard"), col("pack_id"))
    }),

    // EXT-T42: tokenizer evaluation — per-language fertility (pieces per
    // word) and compression (chars per piece) of the q116-trained
    // merges: the go/no-go numbers before committing a vocabulary to a
    // training run. One language-keyed aggregate over the q126 encode
    // shape; output is driver-sized (one row per language) at any
    // corpus scale.
    "q148_tokenizer_eval" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val ms = graft.operators.Bpe.trainMerges(s, d, BpeMerges,
          maxWordLen = BpeMaxWordLen)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.tokenizerEval(d, ms, maxWordLen = BpeMaxWordLen)
        .orderBy(col("lang"))
    }),

    // EXT-T48: TRAINED language ID — hashed char-trigram multinomial
    // naive Bayes (the fastText-family shape), trained in-engine on a
    // deterministic 3/4 hash-split of the corpus and evaluated on the
    // held-out 1/4; output is the q96 confusion-matrix shape, so the two
    // classifiers are directly comparable (LangIdSpec gates that the
    // trained model's held-out accuracy ≥ the marker-word heuristic's).
    // The model is |langs|×buckets rows at any corpus size; the oracle
    // replays hashing, smoothing, priors, miss mass, and the
    // alphabetical-tie argmax.
    "q154_langid_trained" -> ((s, dir) => {
      val d = docs(s, dir)
      val fold = pmod(graft.functions.TextFunctions.hash60(
        col("doc_id").cast("string")), lit(4L))
      val trainDocs = d.where(fold =!= 0L)
      val evalDocs = d.where(fold === 0L)
      val model = graft.operators.LangId.train(trainDocs, LangIdN, LangIdBuckets)
      val langs = graft.operators.LangId.langTable(trainDocs, LangIdN, LangIdBuckets)
      graft.operators.LangId.classify(evalDocs, model, langs, LangIdN, LangIdBuckets)
        .join(evalDocs.select(col("doc_id"), col("lang").as("truth")), Seq("doc_id"))
        .groupBy(col("truth"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("truth"), col("predicted"))
    }),

    // EXT-T49: robots.txt gate — the step between canonicalization
    // (q151) and fetch: per-host robots bodies (planted in-query, the
    // q63/q151 pattern; comments, multi-agent group headers, foreign
    // agent groups, an empty Disallow, and unknown fields all present)
    // parse into the generic-agent rule table via order-preserving
    // line windows, and the frontier gates on host + longest-matching-
    // prefix with Allow winning ties (RFC 9309 precedence). The oracle
    // replays the parse AND the precedence in SQL.
    "q156_robots_gate" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val h = (col("doc_id") % 4).cast("string")
      val host = concat(lit("site"), h, lit(".example.com"))
      val robots = d.select(host.as("host"), robotsBodyOf(h).as("body")).distinct()
      val path = when(col("doc_id") % 5 === 0, lit("/tie/x"))
        .when(col("doc_id") % 3 === 0, concat(lit("/private"), h, lit("/ok/page")))
        .when(col("doc_id") % 3 === 1, concat(lit("/private"), h, lit("/secret")))
        .otherwise(lit("/public/page"))
      val frontier = d.select(
        concat(lit("https://"), host, path).as("url"),
        host.as("host"), path.as("path"))
      graft.operators.Robots.evaluate(frontier,
          graft.operators.Robots.parseRules(robots), "host", "path", "url")
        .orderBy(col("url"))
    }),

    // EXT-T50: frontier politeness scheduling — the stage after the
    // robots gate: the ALLOWED frontier becomes per-host (slot,
    // fetch_at_ms) assignments in priority order (priority = a
    // content-stable hash — deterministic, replayable), one fetch per
    // host per delay, per-host budget capped. Composes q156's gate
    // end-to-end: canonical url → robots-allowed → schedule; the
    // oracle chains the SAME robots CTEs plus the window replay.
    "q157_frontier_schedule" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val h = (col("doc_id") % 4).cast("string")
      val host = concat(lit("site"), h, lit(".example.com"))
      val robots = d.select(host.as("host"), robotsBodyOf(h).as("body")).distinct()
      val path = when(col("doc_id") % 5 === 0, lit("/tie/x"))
        .when(col("doc_id") % 3 === 0, concat(lit("/private"), h, lit("/ok/page")))
        .when(col("doc_id") % 3 === 1, concat(lit("/private"), h, lit("/secret")))
        .otherwise(lit("/public/page"))
      val frontier = d.select(
        concat(lit("https://"), host, path).as("url"),
        host.as("host"), path.as("path"))
      val gated = graft.operators.Robots.evaluate(frontier,
          graft.operators.Robots.parseRules(robots), "host", "path", "url")
        .where(col("allowed"))
        .withColumn("priority",
          pmod(graft.functions.TextFunctions.hash60(col("url")), lit(100L)))
      graft.operators.Frontier.schedule(gated, delayMs = 500L,
          maxPerHost = Some(3L))
        .select(col("url"), col("host"), col("priority"), col("slot"),
          col("fetch_at_ms"))
        .orderBy(col("host"), col("slot"))
    }),

    // EXT-T46: production BPE pre-tokenization — GPT-2-style category
    // regex (contractions / space-prefixed letter, digit, punctuation
    // runs / whitespace) instead of whitespace words, byte fallback for
    // every non-ASCII char, and the UNCHANGED merge machinery on top:
    // the merge table trained on the pre-token stream. Case and leading
    // spaces survive into the vocabulary — the property whitespace
    // tokenization cannot express. Oracle replays the same rounds over
    // the same (RE2-compatible) pattern.
    "q153_bpe_pretok" -> ((s, dir) =>
      graft.operators.Bpe.trainMergesFrom(s,
          graft.operators.Bpe.preTokenTable(
            Tables.read(s, dir, "documents"), maxTokLen = PreTokMaxLen),
          BpeMerges)
        .orderBy(col("round"))),

    // EXT-T47: tokenizer evaluation under the pre-tokenized face — the
    // q148 fertility/compression report for merges trained on the
    // regex/byte-fallback stream; the go/no-go comparison between the
    // whitespace tokenizer and the production one.
    "q155_pretok_eval" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val ms = graft.operators.Bpe.trainMergesFrom(s,
          graft.operators.Bpe.preTokenTable(d, maxTokLen = PreTokMaxLen),
          BpeMerges)
        .select(col("round"), col("lhs"), col("rhs"))
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.preTokenizerEval(d, ms, maxTokLen = PreTokMaxLen)
        .orderBy(col("lang"))
    }),

    // EXT-T41: CCNet perplexity tiers — every document scored under its
    // OWN language's unigram LM, each language split head/middle/tail at
    // tercile cutoffs ESTIMATED from a deterministic hash sample
    // (sampleMod = 4 here, so the estimate path is genuinely exercised)
    // and ASSIGNED exactly corpus-wide. The only order statistic runs
    // over the sample's distinct rounded scores — bounded by the sample,
    // never the corpus.
    "q147_ccnet_tiers" -> ((s, dir) =>
      graft.operators.LanguageModel.perplexityTiers(
          Tables.read(s, dir, "documents"), sampleMod = CcnetSampleMod)
        .orderBy(col("doc_id"))),

    // EXT-T44: tier-weighted token allocation — the sampling plan the
    // CCNet tiering feeds (keep the head, sample the middle, downsample
    // the tail): a global token budget splits across (lang, tier) cells
    // proportional to tierWeight·cellTokens, with implied per-cell
    // epochs. One grouped aggregate + one broadcast scalar; output is
    // |langs|·3 rows at any corpus scale.
    "q150_tier_quota" -> ((s, dir) =>
      graft.operators.Sampling.tierQuotas(
          graft.operators.LanguageModel.perplexityTiers(
            Tables.read(s, dir, "documents"), sampleMod = CcnetSampleMod),
          TierBudget)
        .orderBy(col("lang"), col("tier"))),

    // EXT-T45: URL canonicalization — the step BEFORE fetch in a crawl
    // pipeline (frontier entries that canonicalize equal are one fetch,
    // one document, one dedup key). The corpus has no URL column, so
    // URLs are planted IN THE QUERY (the q63/q144 pattern) to exercise
    // every rule: scheme/host case, www + default-port strip, duplicate
    // + trailing slashes, tracking-parameter removal (parameter-exact:
    // pref= survives the ref= rule), parameter sorting, fragment drop.
    // One map-only pure-Column projection.
    "q151_url_canonical" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP").otherwise(lit("https")), lit("://"),
        when(id % 3 === 0, "WWW.").otherwise(lit("")),
        lit("Site"), (id % 4).cast("string"), lit(".Example.COM"),
        when(id % 2 === 0, ":80").otherwise(lit(":443")),
        lit("/Dir"), (id % 5).cast("string"),
        when(id % 3 === 1, "//Sub/").otherwise(lit("")),
        when(id % 4 === 0,
            concat(lit("?utm_source=feed&id="), (id % 7).cast("string"),
              lit("&utm_campaign=x")))
          .when(id % 4 === 1, concat(lit("?b=2&a=1&gclid=g"), id.cast("string")))
          .when(id % 4 === 2, lit("?pref=keep&ref=drop&fbclid"))
          .otherwise(lit("")),
        when(id % 5 === 0, "#frag").otherwise(lit("")))
      Tables.read(s, dir, "documents")
        .select(id, url.as("url"),
          graft.functions.UrlFunctions.urlHost(url).as("host"),
          graft.functions.UrlFunctions.canonicalUrl(url).as("canonical"))
        .orderBy(id)
    }),

    // EXT-D24: persisted frontier URL ledger — the seen-URL keep-first
    // store the fetch loop consults BEFORE spending a request (content
    // dedup can only drop what was already fetched). Frontier entries
    // are planted with canonicalization noise (the q151 recipe, COARSE
    // moduli so urls collide within and across arrival batches); three
    // arrival epochs (doc_id % 3) fold through write + two offers, and
    // the served ledger must equal the ONE-SHOT keep-first over the
    // union in (epoch, doc_id) order — the delta-fold law every
    // incremental store in this engine is gated on.
    "q225_frontier_ledger" -> ((s, dir) => {
      val out = graft.core.Scratch.dir("graft_frontier")
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, "HTTP").otherwise(lit("https")), lit("://"),
        when(id % 5 === 0, "WWW.").otherwise(lit("")),
        lit("Site"), (id % 4).cast("string"), lit(".Example.COM"),
        when(id % 2 === 0, ":80").otherwise(lit(":443")),
        lit("/Dir"), (id % 5).cast("string"),
        when(id % 4 === 2, "?pref=keep&ref=drop&fbclid").otherwise(lit("")),
        when(id % 5 === 0, "#frag").otherwise(lit("")))
      val entries = Tables.read(s, dir, "documents").select(id, url.as("url"))
      graft.store.FrontierStore.write(entries.where(id % 3 === 0), out)
      graft.store.FrontierStore.offer(entries.where(id % 3 === 1), out,
        batchId = Some("d1"))
      graft.store.FrontierStore.offer(entries.where(id % 3 === 2), out,
        batchId = Some("d2"))
      graft.store.FrontierStore.seen(s, out)
        .select(col("canonical"), col("doc_id").as("first_doc"))
        .orderBy(col("canonical"))
    }),

    // EXT-T80: incremental politeness scheduling — the schedule state a
    // continuing crawler carries between frontier deltas: per-host
    // committed slot counts persist under the marker-last protocol, so
    // each delta's schedule CONTINUES the host's slot clock instead of
    // restarting at 0 (the remaining crawl-loop gap beside the q225 URL
    // ledger). Gate = the fold law: base + two delta schedules equal
    // the one-shot schedule over the union ranked by (arrival epoch,
    // priority DESC, url) within host, with the per-host cap applied to
    // the TOTAL across deltas.
    "q236_frontier_sched_delta" -> ((s, dir) => {
      import graft.store.FrontierSchedule
      val store = graft.core.Scratch.dir("graft_sched")
      val id = col("doc_id")
      val host = concat(lit("site"), (id % 4).cast("string"),
        lit(".example.com"))
      val url = concat(lit("https://"), host, lit("/p"), id.cast("string"))
      val entries = Tables.read(s, dir, "documents").select(
        url.as("url"), host.as("host"),
        pmod(graft.functions.TextFunctions.hash60(url), lit(100L))
          .as("priority"),
        (id % 3).as("epoch"))
      def sched(epoch: Int)(run: DataFrame => DataFrame) =
        run(entries.where(col("epoch") === epoch).drop("epoch"))
          .withColumn("epoch", lit(epoch.toLong))
      val base = sched(0)(f =>
        FrontierSchedule.write(f, store, SchedDelayMs, Some(SchedMaxPerHost)))
      val d1 = sched(1)(f => FrontierSchedule.scheduleDelta(f, store,
        SchedDelayMs, Some(SchedMaxPerHost), Some("d1")))
      val d2 = sched(2)(f => FrontierSchedule.scheduleDelta(f, store,
        SchedDelayMs, Some(SchedMaxPerHost), Some("d2")))
      base.unionByName(d1).unionByName(d2)
        .select(col("url"), col("host"), col("priority"), col("epoch"),
          col("slot"), col("fetch_at_ms"))
        .orderBy(col("host"), col("slot"))
    }),

    // EXT-T30: DSIR targeted selection — importance weights from hashed
    // unigram+bigram bag-of-buckets LMs (target sources vs the rest of
    // the pool); the classifier-free "more like my seed corpus" ranking
    // of Xie et al. 2023. Bucket tables are fixed-size (≤ 2048 rows) so
    // the log-ratio join broadcasts regardless of corpus scale; the
    // per-document sum rides the single feature-explode exchange.
    "q127_dsir_weights" -> ((s, dir) =>
      graft.operators.Selection.dsirLogWeights(
          docs(s, dir), col("source").isin(DsirTargets: _*), DsirBuckets)
        .orderBy(col("doc_id"))),

    // EXT-T31: per-source lexical KL drift — KL(source ‖ corpus) over
    // the smoothed unigram vocabulary, computed in closed form over
    // OBSERVED (source, token) pairs only (the unobserved smoothing mass
    // collapses algebraically — the dense source × vocabulary grid never
    // materializes). PSI's categorical sibling: which sources' language
    // is furthest from the mixture the model will actually train on.
    "q132_source_kl" -> ((s, dir) =>
      graft.operators.Drift.sourceTokenKl(docs(s, dir))
        .orderBy(col("source"))),

    // EXT-T32: DSIR sampling step — Efraimidis–Spirakis weighted
    // sampling without replacement over the q127 importance weights
    // (key = ln u / w in log space, u from the keyed hash-permutation
    // family instead of RNG state): the top-50 keys ARE the sample, so
    // the whole selection is one map-only projection + TakeOrdered —
    // reproducible across engines, runs, and partitionings.
    "q134_dsir_sample" -> ((s, dir) =>
      graft.operators.Selection.weightedSample(
        graft.operators.Selection.dsirLogWeights(
          docs(s, dir), col("source").isin(DsirTargets: _*), DsirBuckets),
        DsirSampleN)),

    // EXT-T33: in-engine trained logistic quality classifier — 5 rounds
    // of full-batch gradient descent over the DSIR feature space (the
    // fastText-classifier recipe as pure Spark aggregates). The model is
    // bounded index state updated driver-side per round (the Lloyd
    // pattern); weights round 1e-9 each update so the oracle replays the
    // whole trajectory. Output: the learning curve, which the spec gates
    // as monotone-decreasing from the ln 2 baseline.
    "q137_logreg_curve" -> ((s, dir) =>
      graft.operators.Selection.logisticTrain(
          docs(s, dir), col("source").isin(DsirTargets: _*),
          LrIters, LrRate, LrBuckets)
        .orderBy(col("round"))),

    // EXT-T54: classifier calibration report — q137's trained weights
    // scored over the corpus, probabilities binned into equal-width
    // reliability bins with per-bin |mean_p − frac_pos| (the ECE term,
    // Guo et al. 2017): a quality gate that says "0.9" should be RIGHT
    // 90% of the time or its threshold means nothing.
    "q165_calibration" -> ((s, dir) =>
      graft.operators.Selection.logisticCalibration(
          docs(s, dir), col("source").isin(DsirTargets: _*), CalBins,
          LrIters, LrRate, LrBuckets)
        .orderBy(col("bin"))),

    // EXT-T34: unigram-LM (SentencePiece-style) tokenizer training —
    // deterministic hard-EM over the saturating (word, freq) table:
    // seed = all chars + top-40 substrings, each round Viterbi-segments
    // the vocabulary under the current piece log-probs (a pure Column
    // DP against the broadcast literal map — the Lloyd-round pattern),
    // re-estimates add-one-smoothed probs, then prunes to the target
    // vocab. Output: the full (round, piece, cnt, logp) trajectory,
    // rounds 1-2 EM + round 3 the pruned final vocabulary.
    "q139_unigram_em" -> ((s, dir) =>
      graft.operators.UnigramLm.trainVocab(
          s, docs(s, dir), UniRounds, UniSeed, UniTarget, UniMaxPiece,
          BpeMaxWordLen)
        .orderBy(col("round"), col("piece"))),

    // EXT-T35: unigram-LM encode face — per-document Viterbi sequence
    // length under the FROZEN trained vocabulary; the DP runs once per
    // vocabulary word and joins back to the document word stream
    // (Bpe.encodedLengths' shape — corpus scanned once).
    "q140_unigram_encode" -> ((s, dir) =>
      graft.operators.UnigramLm.encodedLengths(
          docs(s, dir),
          graft.operators.UnigramLm.trainedVocab(
            docs(s, dir), UniRounds, UniSeed, UniTarget, UniMaxPiece,
            BpeMaxWordLen),
          UniMaxPiece, BpeMaxWordLen)
        .orderBy(col("doc_id"))),

    // EXT-T53: WordPiece-style GREEDY longest-match encode (the BERT
    // tokenizer algorithm) under the SAME q139-trained frozen vocabulary
    // as q140's Viterbi — the two faces' per-document piece counts are
    // directly comparable, the tokenizer-selection signal. Greedy needs
    // only vocab MEMBERSHIP (no scores), so serving it costs a set, not
    // a model.
    "q164_wordpiece_encode" -> ((s, dir) =>
      graft.operators.UnigramLm.greedyEncodedLengths(
          docs(s, dir),
          graft.operators.UnigramLm.trainedVocab(
            docs(s, dir), UniRounds, UniSeed, UniTarget, UniMaxPiece,
            BpeMaxWordLen),
          UniMaxPiece, BpeMaxWordLen)
        .orderBy(col("doc_id"))),

    // EXT-T36: DoReMi-lite learned domain weights — multiplicative-
    // weights training of the source mixture on per-domain excess loss
    // under unigram LMs (reference = each domain's own distribution,
    // mixture = the α-weighted blend in closed form over observed pairs).
    // Driver state is one weight per domain (the q137 pattern); the
    // linearized update uses exactly-rounded IEEE ops only, so the
    // trajectory replays bit-for-bit in the oracle.
    "q141_doremi_mix" -> ((s, dir) =>
      graft.operators.Sampling.doremiWeights(
          s, docs(s, dir), DoremiRounds, DoremiEta)
        .orderBy(col("round"), col("source"))),

    // EXT-T37: Gopher-style quality rule battery — the standard
    // rule-based pre-filter (word count bounds, mean word length,
    // symbol ratio, bullet/ellipsis line fractions, alphabetic-word
    // fraction, distinct-stopword floor) as ONE codegen'd map-only
    // projection; ratios round 1e-6 before their thresholds so every
    // flag boundary is engine-reproducible.
    "q142_gopher_rules" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.gopherStats(col("text"), GopherMinWords)
            .as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.alpha_frac"), col("g.n_stop"),
          col("g.r_words"), col("g.r_meanlen"), col("g.r_symbol"),
          col("g.r_bullet"), col("g.r_ellipsis"), col("g.r_alpha"),
          col("g.r_stop"), col("g.pass"))
        .orderBy(col("doc_id"))),

    // EXT-T38: HTML boilerplate extraction (jusText-lite) — the corpus
    // has no organic markup, so every document is wrapped IN THE QUERY
    // into a deterministic page (nav links, heading, two content
    // paragraphs from the text's halves, a list, entities, a comment +
    // script, a link-heavy footer) — the q63 planting pattern; the
    // oracle derives the identical page. Scaffold strips, blocks split
    // at block-tag boundaries, and each block classifies by word count,
    // link density, and stopword density — one map-only projection.
    "q144_html_extract" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.HtmlFunctions.extractContent(wrappedPage,
            HtmlMinWords, HtmlMaxLink, HtmlMinStop).as("x"))
        .select(col("doc_id"), col("x.n_blocks"), col("x.n_content"),
          col("x.content"))
        .orderBy(col("doc_id"))),

    // EXT-T43: crawl-to-training-set funnel — the composition face the
    // individual operators exist FOR, as ONE declarative plan: HTML
    // boilerplate extraction (q144) → Gopher rule battery ON THE
    // EXTRACTED content, not the raw text (q142) → exact canonical
    // keep-first dedup of the extracted content (q52) → the per-doc
    // funnel verdict. Map-only until the one digest-keyed keep-first
    // aggregate; every stage flag survives to the output so funnel
    // attrition is auditable per stage (the number every pipeline
    // report leads with).
    "q149_pipeline_funnel" -> ((s, dir) => {
      val ex = docs(s, dir)
        .select(col("doc_id"),
          graft.functions.HtmlFunctions.extractContent(wrappedPage,
            HtmlMinWords, HtmlMaxLink, HtmlMinStop).as("x"))
        .select(col("doc_id"), col("x.n_content").as("n_content"),
          col("x.content").as("content"))
      val g = ex.select(col("doc_id"), col("n_content"), col("content"),
        graft.functions.TextFunctions.gopherStats(col("content"), GopherMinWords)
          .getField("pass").as("gopher_pass"))
      // Empty-content rows short-circuit out of the dedup clustering
      // (each keyed by its own doc_id): on a degenerate corpus where
      // extraction empties many documents they would all share md5('')
      // and funnel one skewed window partition; they can never be
      // `selected` anyway, so each counts as its own trivial canonical.
      val dg = g.withColumn("digest",
        when(col("n_content") === 0,
          concat(lit("empty:"), col("doc_id").cast("string")))
          .otherwise(md5(graft.functions.TextFunctions.canonicalText(col("content")))))
      // keep-first via a digest-partitioned window (bounded groups =
      // duplicate clusters), NOT groupBy + self-join: the join form
      // evaluates the extraction+rules subtree twice — one window pass
      // keeps the expensive upstream single-evaluation
      val keep = org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))
      dg.withColumn("keep_id", min(col("doc_id")).over(keep))
        .select(col("doc_id"), col("n_content"), col("gopher_pass"),
          (col("doc_id") === col("keep_id")).as("is_canonical"),
          (col("n_content") > 0 && col("gopher_pass") &&
            col("doc_id") === col("keep_id")).as("selected"))
        .orderBy(col("doc_id"))
    }),

    // EXT-P1: preference-pair mining (the DPO/RLHF reward-data shape) —
    // fixed-size candidate groups (PrefCandK consecutive doc ids = one
    // prompt's responses; group COUNT grows with the corpus, group SIZE
    // stays bounded), quality-scored, chosen = argmax / rejected =
    // argmin with deterministic tie-breaks, margin-gated. ONE
    // map-side-combinable hash aggregate — no window, no sort, no join.
    "q194_pref_pairs" -> ((s, dir) =>
      graft.operators.Preference.preferencePairs(
          docs(s, dir).select(
            expr(s"doc_id div $PrefCandK").as("prompt_id"), col("doc_id"),
            round(qualityScore(col("text")), 6).as("score")),
          "prompt_id", "doc_id", "score", PrefMinMargin)
        .orderBy(col("prompt_id"))),

    // EXT-P2: Bradley–Terry source strengths from the q194 pairs — the
    // arena-leaderboard model fit on the corpus's own preference data:
    // chosen/rejected sources ride the pair aggregate as carried payload
    // (no corpus-sized join back), the outcome log reduces to a
    // players²-bounded count matrix, and Hunter's MM iteration replays
    // driver-side with 1e-9-rounded rounds (the q137/q141 convention).
    "q195_bt_strength" -> ((s, dir) => {
      val pp = graft.operators.Preference.preferencePairs(
        docs(s, dir).select(
          expr(s"doc_id div $PrefCandK").as("prompt_id"), col("doc_id"),
          round(qualityScore(col("text")), 6).as("score"), col("source")),
        "prompt_id", "doc_id", "score", PrefMinMargin, Seq("source"))
      graft.operators.Preference.bradleyTerry(s,
          pp.select(col("chosen_source").as("winner"),
            col("rejected_source").as("loser")),
          "winner", "loser", BtRounds)
        .orderBy(col("round"), col("player"))
    }),

    // EXT-T64: C4-style blocklist gate — token-exact bad-word filtering
    // as ONE codegen'd map-only projection (HOF filter over the token
    // array, list inlined in the plan): zero shuffles, streams with the
    // scan. The table-sized-list face (`Blocklist.hitsJoin`) is law-gated
    // against this one in BlocklistSpec.
    "q196_blocklist" -> ((s, dir) =>
      graft.operators.Blocklist.flags(
          docs(s, dir), "text", Seq("doc_id"), BlockWords)
        .orderBy(col("doc_id"))),

    // EXT-T65: encoding-artifact (mojibake) scoring — the ftfy-tier gate
    // on byte-level corruption (UTF-8-as-Latin-1 ghosts, U+FFFD): the
    // fixture corpus is clean, so artifacts are PLANTED on every 7th
    // document (the q63/q144 planting pattern — the oracle plants the
    // identical suffix) and the scorer must flag exactly those. Pure
    // literal-alternation regex (Java/RE2-identical), map-only.
    "q203_mojibake" -> ((s, dir) => {
      import graft.functions.TextFunctions.{mojibakeCount, mojibakeRatio}
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(MojiSuffix))).otherwise(col("text")).as("t"))
      planted.select(col("doc_id"),
          length(col("t")).cast("long").as("n_chars"),
          mojibakeCount(col("t")).as("n_moji"),
          mojibakeRatio(col("t")).as("moji_ratio"))
        .withColumn("flagged", col("n_moji") > 0L)
        .orderBy(col("doc_id"))
    }),

    // EXT-T69: Neyman-optimal labeling-budget allocation — a fixed eval/
    // annotation budget split across language strata ∝ N_h·σ_h (the
    // variance-minimizing stratified design), integerized by
    // largest-remainder apportionment so allocations sum EXACTLY to the
    // budget. One corpus aggregate; apportionment on the bounded
    // stratum table driver-side.
    "q213_neyman_alloc" -> ((s, dir) =>
      graft.operators.Sampling.neymanAllocation(
          Tables.read(s, dir, "documents"), "lang", "n_chars", NeymanBudget)
        .orderBy(col("stratum"))),

    // EXT-E2E (a): crawl-to-shards — the END of the composition chain:
    // the selected corpus packed into hashed-token-id training sequences
    // per (lang, shard) and round-tripped through the binary token-shard
    // sink, so the artifact a training loader mmaps is exactly what the
    // funnel selected. The oracle replays every stage AND the packing.
    "q214_crawl_to_shards" -> ((s, dir) => {
      // the funnel frame is narrow (r13); content re-attaches from the
      // cached extraction by id — selected is a small fraction of the
      // corpus, so the join moves surviving text exactly once
      val sel = crawlFunnel(s, dir).where(col("selected"))
        .select(col("doc_id"), col("lang"))
        .join(crawlExtracted(s, dir).select(col("doc_id"), col("content")),
          Seq("doc_id"))
      val ids = sel.select(col("doc_id"), col("lang"),
          transform(tokensWs(col("content")),
            t => pmod(hash60(t), lit(ShardVocabMod)).cast("int")).as("ids"))
        .withColumn("shard", pmod(hash60(col("doc_id").cast("string")),
          lit(PackShards.toLong)))
      val packed = graft.operators.Chunking.packIdSequences(
          ids, PackSeqLen, Seq("lang", "shard"), "doc_id", "ids")
        .select(concat_ws(":", col("lang"), col("shard"), col("pack_id"))
          .as("seq_key"), col("seq"))
      val out = graft.core.Scratch.dir("graft_crawlshards")
      graft.sources.TokenShards.write(packed, out, idsCol = "seq")
      graft.sources.TokenShards.read(s, out)
        .withColumn("p", split(col("seq_key"), ":"))
        .select(element_at(col("p"), 1).as("lang"),
          element_at(col("p"), 2).cast("long").as("shard"),
          element_at(col("p"), 3).cast("long").as("pack_id"),
          size(col("ids")).cast("long").as("n_tokens"),
          concat_ws(" ", transform(col("ids"), x => x.cast("string"))).as("ids"))
        .orderBy(col("lang"), col("shard"), col("pack_id"))
    }),

    // EXT-E2E (b): the per-document funnel audit of the same chain —
    // every stage flag surfaced so attrition is attributable per stage
    // (the number a pipeline report leads with).
    "q215_crawl_funnel" -> ((s, dir) =>
      crawlFunnel(s, dir).select(col("doc_id"), col("lang"), col("canonical"),
          col("allowed"), col("n_content"), col("n_moji"), col("gopher_pass"),
          col("is_canonical"), col("fuzzy_dup"), col("is_bench"),
          col("contaminated"), col("n_tokens"), col("survivor"),
          col("in_budget"), col("selected"))
        .orderBy(col("doc_id"))),

    // EXT-E2E (c): the CCNet composition of the same chain (see
    // crawlCcnet) — line-level boilerplate strike BEFORE digest keying,
    // then every dedup/filter stage re-derived over the struck text and
    // the survivors perplexity-tiered; the audit face surfaces every
    // stage flag plus the CCNet columns (n_lines, n_removed, nll, tier).
    "q232_crawl_ccnet" -> ((s, dir) =>
      crawlCcnet(s, dir).select(col("doc_id"), col("lang"), col("canonical"),
          col("allowed"), col("n_content"), col("n_lines"), col("n_removed"),
          col("n_moji"), col("gopher_pass"), col("is_canonical"),
          col("fuzzy_dup"), col("is_bench"), col("contaminated"),
          col("n_tokens"), col("nll"), col("tier"), col("survivor"),
          col("in_budget"), col("selected"))
        .orderBy(col("doc_id"))),

    // EXT-T73: precision-gated threshold curve — how a classifier
    // cutoff is actually chosen: per candidate cut, precision/recall of
    // keeping docs scoring at-or-above it (label: English; score: the
    // English-stopword ratio, the direct signal — so the curve actually
    // crosses the target and the flag boundary is exercised), with the
    // meets-target flag whose smallest true cut is the operating point.
    // One (bin × label) histogram; bounded suffix-cumulative.
    "q222_precision_gate" -> ((s, dir) =>
      graft.operators.Selection.precisionGate(
          docs(s, dir).select(stopwordRatio(col("text")).as("sr"),
            (col("lang") === "en").as("is_en")),
          "sr", "is_en", targetPrecision = 0.7)
        .orderBy(col("bin"))),

    // EXT-T74: Fleiss' kappa — the labeling-pipeline QC number beside
    // the q213 budget: chance-corrected agreement of 3 planted
    // annotators (quality-tier labels with per-(annotator, doc) keyed
    // hash disagreements on every 5th rating). One (item, label) hash
    // aggregate; marginals are a ≤-labels-row table.
    "q223_fleiss_kappa" -> ((s, dir) => {
      // tier on the 1e-6-ROUNDED score (the q204 discipline): the floor
      // boundary must not depend on last-ulp evaluation differences.
      // ONE scoring pass, annotators exploded from it — a 3-way union
      // would re-run the quality HOF pass per annotator (measured 3×).
      val tier = least(floor(round(qualityScore(col("text")), 6) * 3), lit(2.0))
        .cast("long")
      val anns = docs(s, dir).select(col("doc_id"), tier.as("t"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0L), lit(2L))).as("annotator"))
        .select(col("doc_id"), col("annotator"),
          when(hash60(concat(col("annotator").cast("string"), lit(":"),
              col("doc_id").cast("string"))) % 5 === 0,
            (col("t") + 1) % 3).otherwise(col("t")).as("label"))
      graft.operators.EvalMetrics.fleissKappa(
        anns, "doc_id", "annotator", "label")
    }),

    // EXT-X15: Pareto-frontier (skyline) selection over quality × length
    // (Börzsönyi et al. 2001) — keep exactly the documents no other
    // document beats on both axes, with the quality axis quantized into
    // 100 tiers so the skyline is one bounded aggregate + a suffix-max
    // over the tier table instead of an all-pairs dominance join.
    "q220_pareto_frontier" -> ((s, dir) =>
      graft.operators.Selection.paretoFrontier(
          docs(s, dir).select(col("doc_id"),
            qualityScore(col("text")).as("q"),
            tokenCountWs(col("text")).cast("long").as("n_toks")),
          "doc_id", "q", "n_toks")
        .orderBy(col("doc_id"))),

    // EXT-T72: cross-source score calibration by quantile normalization
    // (Bolstad et al. 2003, per source) — per-source percentile ranks
    // mapped through the global score distribution's bucketed inverse
    // CDF, so scores from differently-harsh scorers share one scale and
    // a single corpus-wide threshold treats every source fairly. One
    // source-partitioned rank window + bounded histogram/grid state.
    "q219_score_calibration" -> ((s, dir) =>
      graft.operators.Calibration.quantileNormalize(
          docs(s, dir).select(col("doc_id"), col("source"),
            qualityScore(col("text")).as("q")),
          "doc_id", "source", "q")
        .orderBy(col("doc_id"))),

    // EXT-T70: mojibake REPAIR — the fix-side twin of q203's detector
    // (the ftfy stance: recoverable double-decode ghosts get repaired,
    // not cost the document): plant the q203 artifacts, repair via the
    // chained literal-replace map, and prove byte-exactness with the
    // repaired text's md5 — count-only checks would miss a wrong
    // replacement character. Map-only, codegen'd.
    "q216_mojibake_repair" -> ((s, dir) => {
      import graft.functions.TextFunctions.{mojibakeCount, mojibakeRepair}
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(MojiSuffix))).otherwise(col("text")).as("t"))
      planted.select(col("doc_id"),
          mojibakeCount(col("t")).as("n_moji_before"),
          mojibakeCount(mojibakeRepair(col("t"))).as("n_moji_after"),
          (length(mojibakeRepair(col("t"))) - length(col("t")))
            .cast("long").as("len_delta"),
          md5(mojibakeRepair(col("t"))).as("repaired_md5"))
        .orderBy(col("doc_id"))
    }),

    // EXT-T66: unbiased pass@k (Chen et al. 2021 eq. 1) — the eval-suite
    // estimator over per-sample outcome logs: problems = consecutive
    // doc-id groups of 10 samples, "correct" = 1e-6-rounded quality above
    // the threshold; pass@3 = 1 − Π (n−c−j)/(n−j), factors multiplied in
    // ascending-j order so the oracle replays the identical sequence.
    "q204_pass_at_k" -> ((s, dir) =>
      graft.operators.EvalMetrics.passAtK(
          docs(s, dir).select(
            expr(s"doc_id div $PassSamples").as("problem_id"),
            (round(qualityScore(col("text")), 6) > PassThreshold).as("ok")),
          "problem_id", "ok", PassK)
        .orderBy(col("problem_id"))),

    // EXT-D35: sentence-granular boilerplate dedup — the q160 line
    // strike at the granularity the q234 splitter unlocks, completing
    // the dedup granularity matrix (document / span / chunk / line /
    // sentence): sentences repeating across more than maxDf documents
    // (cookie banners, calls-to-action, the planted trailer) strike
    // from every document; unique body sentences survive. Rides the
    // EXT-D25 machinery verbatim — the "lines" are sentences joined
    // with newlines, so hashes/df/strike/reassembly are the proven
    // dataflow.
    "q240_sentence_dedup" -> ((s, dir) => {
      val joined = sentencedDocs(s, dir)
        .groupBy(col("doc_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("sent_no"), col("sentence")))),
            x => x.getField("sentence")),
          "\n").as("text"))
      graft.operators.Dedup.lineDedup(joined, CrawlLineMaxDf)
        .select(col("doc_id"), col("n_lines").as("n_sentences"),
          col("n_removed"), md5(col("text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // EXT-T82: chrF — the character-level member of the metric trio
    // (ROUGE recall / BLEU precision / chrF tokenization-free): char
    // n-grams 1..4 over whitespace-stripped text, per-order clipped
    // P/R averaged, F_β with β = 2. Same pair plant as q237 so the
    // three metrics read side by side on identical pairs.
    "q241_chrf_eval" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val tk = tokensWs(col("text"))
      val cut = ceil(size(tk) * lit(3) / lit(4.0)).cast("int")
      val cand = when(col("doc_id") % 3 === 0,
          array_join(slice(tk, lit(1), cut), " "))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" alpha beta gamma delta")))
        .otherwise(array_join(reverse(tk), " "))
      graft.operators.TextMetrics.chrF(
          d.where(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("pair_id"), cand.as("cand"),
              col("text").as("ref")),
          ChrfOrder)
        .orderBy(col("pair_id"))
    }),

    // EXT-T79: rule-based sentence segmentation — the granularity
    // upgrade under bitext mining / ROUGE / dedup (production MT
    // curation works on SENTENCES). The fixture has no punctuation, so
    // sentences are planted in-query (the q63 pattern): tokens
    // re-sentenced 8 per group plus a trailer exercising every guard —
    // abbreviations (Dr., vs., Fig.), initials (J.), e.g., decimals
    // (3.14), ?/! terminators. One map-only pure-Column rewrite chain;
    // the oracle replays the identical RE2-safe patterns.
    "q234_sentence_split" -> ((s, dir) =>
      sentencedDocs(s, dir).orderBy(col("doc_id"), col("sent_no")))
  )

  /** Token-group size of the q234/q235 sentence plant. */
  private[queries] val SentGroupTokens = 8

  /** The planted punctuated corpus split into sentences — shared by
    * q234 (the splitter gate) and q235 (sentence-granular bitext
    * mining): (doc_id, sent_no, sentence), sent_no 0-based in document
    * order. */
  private[queries] def sentencedDocs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{sentences, tokensWs}
    val d = Tables.read(s, dir, "documents")
    val tk = tokensWs(col("text"))
    val body = array_join(
      transform(
        sequence(lit(0),
          floor((size(tk) - 1).cast("double") / SentGroupTokens).cast("int")),
        g => array_join(
          slice(tk, g * SentGroupTokens + 1, lit(SentGroupTokens)), " ")),
      ". ")
    val trailer = concat(
      lit("Dr. Who met J. Doe, e.g. near 3.14 miles vs. the peak. " +
        "Is it done? Yes! Fig. "),
      (col("doc_id") % 5).cast("string"), lit(" shows it."))
    val punct = when(size(tk) === 0, trailer)
      .otherwise(concat(body, lit(". "), trailer))
    d.select(col("doc_id"),
      posexplode(sentences(punct)).as(Seq("sent_no", "sentence")))
      .select(col("doc_id"), col("sent_no").cast("long").as("sent_no"),
        col("sentence"))
  }

  /** The deterministic page wrap shared by q144/q149/q214 (the q63
    * planting pattern): nav links, heading, the text's halves as
    * paragraphs, a list, entities, a comment + script, a link-heavy
    * footer. Parameterized on the text column so the crawl composition
    * can wrap PLANTED text (moji artifacts) with the same scaffold. */
  private def wrappedPageOf(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val half = floor(length(t) / 2).cast("int")
    concat(
      lit("<html><head><title>t</title><style>p{x}</style></head><body>"),
      lit("<div><a href=\"/\">home page</a> <a href=\"/a\">about us</a></div>"),
      lit("<h1>Doc "), col("doc_id").cast("string"), lit("</h1>"),
      lit("<p>"), t.substr(lit(1), half), lit("</p>"),
      lit("<ul><li>item one</li><li>item two</li></ul>"),
      lit("<p>"), t.substr(half + 1, length(t)),
      lit(" &amp; more &#39;quoted&#39; tail</p>"),
      lit("<!-- hidden comment --><script>var x = 1; if (a < b) { }</script>"),
      lit("<div><a href=\"/c\">contact</a> copyright notice</div></body></html>"))
  }

  private def wrappedPage: org.apache.spark.sql.Column = wrappedPageOf(col("text"))

  /** The planted robots.txt body shared by q156/q157/q214: a foreign
    * agent group, a two-agent group naming `*`, prefix rules with an
    * Allow/Disallow tie, an empty Disallow, a comment, an unknown field. */
  private def robotsBodyOf(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nl = lit("\n")
    concat(
      lit("User-agent: fancybot"), nl, lit("Disallow: /"), nl, nl,
      lit("User-agent: extra"), nl, lit("User-agent: *"), nl,
      lit("Disallow: /private"), h, nl,
      lit("Allow: /private"), h, lit("/ok"), nl,
      lit("Allow: /tie"), nl, lit("Disallow: /tie"), nl,
      lit("Disallow:"), nl, lit("# note"), nl, lit("Sitemap: https://x"))
  }

  /**
   * EXT-E2E: the crawl-to-shards composition chain shared by q214 (the
   * packed-shard artifact) and q215 (the per-document funnel audit) —
   * every individually-gated crawl stage chained under ONE plan:
   *
   *   WARC round-trip (q152) → URL canonicalization (q151) → robots
   *   gate (q156) → HTML boilerplate extraction (q144) → mojibake
   *   hygiene (q203) → Gopher rule battery (q142) → exact canonical
   *   dedup (q149) → MinHash-LSH near-dup (q61's candidate tier) →
   *   benchmark decontamination (q67) → per-language token budgets
   *   (q80) → packed token-id shards (q187).
   *
   * Stage flags are computed POPULATION-WIDE (independently per stage,
   * the q149 convention) so funnel attrition is auditable per stage;
   * the exceptions are `in_budget` — the budget consumes only documents
   * surviving every earlier gate, in content-stable hash order — and
   * `selected` = survivor ∧ in_budget.
   *
   * Scale shape: the payload travels driver-free (WARC framing is
   * per-partition), every per-document stage is map-only, the dedup /
   * decontamination joins carry hashes (never text), the near-dup
   * candidate join is banded (Σ|bucket|², not corpus²), and the budget
   * window partitions by language. One multi-consumer subtree (the
   * extracted corpus) is cached once.
   */
  /** Per-JVM WARC staging memo for [[crawlFunnel]], keyed on sfDir PLUS a
    * content fingerprint of the documents parquet: file count / total
    * bytes / max mtime AND a digest of each file's parquet FOOTER tail
    * (the last ≤1 KiB — row-group stats live there, so any regenerated
    * content changes it even when sizes land identical within one mtime
    * granularity unit). A fixture regenerated under the same path within
    * one JVM re-stages instead of silently replaying stale data. */
  private val crawlStaged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-(session, stagedKey) memo of the [[crawlExtracted]] FRAME (r13).
    * The WARC read is an object-typed `mapPartitions`, and each call
    * mints a fresh lambda instance — two structurally-identical
    * invocations therefore canonicalize UNEQUAL, so every downstream
    * cacheOnce/pinPlan (cc, signatures, flags, tiers) missed across
    * bench reps and re-materialized corpus-sized caches per rep
    * (measured: the q214/q215/q232 family re-cached its whole chain
    * every rep). Returning the SAME DataFrame object restores plan
    * equality for every consumer. Weakly keyed by session so test
    * sessions collect; only the lazy plan is memoized — data still
    * computes per action under the normal cache lifecycle. */
  private val crawlExtractedMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, DataFrame]]()

  private def crawlStagedKey(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.listStatus(p)
    val md = java.security.MessageDigest.getInstance("MD5")
    st.sortBy(_.getPath.getName).foreach { f =>
      if (f.isFile && f.getLen > 0) {
        val take = math.min(f.getLen, 1024L).toInt
        val buf = new Array[Byte](take)
        val in = fs.open(f.getPath)
        try { in.readFully(f.getLen - take, buf) } finally in.close()
        md.update(f.getPath.getName.getBytes("UTF-8"))
        md.update(buf)
      }
    }
    val tail = md.digest().map("%02x".format(_)).mkString
    s"$dir@${st.length}:${st.map(_.getLen).sum}:" +
      s"${st.map(_.getModificationTime).max}:$tail"
  }

  /** The shared crawl-extraction prefix of [[crawlFunnel]] and
    * [[crawlCcnet]]: stage the planted corpus as WARC (memoized —
    * identical plans per (sfDir, JVM)), read it back, canonicalize the
    * frontier, evaluate robots, extract content, and flag per-doc moji /
    * Gopher / digest / token stats. Returned frame is `cacheOnce`'d, so
    * the two funnels (and bench reps) share ONE cached subtree. */
  private def crawlExtracted(s: SparkSession, dir: String): DataFrame =
    crawlExtractedMemo.synchronized {
      crawlExtractedMemo
        .computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(crawlStagedKey(s, dir), crawlExtractedBuild(s, dir))
    }

  private def crawlExtractedBuild(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{UrlFunctions => UF}
    val d = Tables.read(s, dir, "documents")
    val id = col("doc_id")
    val h = (id % 4).cast("string")
    // robots-relevant path variants (the q156 plant) + a unique /doc<id>
    // suffix so records join back after the WARC round-trip
    val path = concat(
      when(id % 5 === 0, lit("/tie/x"))
        .when(id % 3 === 0, concat(lit("/private"), h, lit("/ok/page")))
        .when(id % 3 === 1, concat(lit("/private"), h, lit("/secret")))
        .otherwise(lit("/public/page")),
      lit("/doc"), id.cast("string"))
    // raw frontier URL: scheme/host case noise, default ports, www,
    // tracking params, fragments — everything canonicalization strips
    val rawUrl = concat(
      when(id % 2 === 0, "HTTP").otherwise(lit("https")), lit("://"),
      when(id % 3 === 0, "WWW.").otherwise(lit("")),
      lit("Site"), h, lit(".Example.COM"),
      when(id % 2 === 0, ":80").otherwise(lit(":443")),
      path,
      lit("?utm_source=feed&fbclid"),
      when(id % 5 === 0, "#frag").otherwise(lit("")))
    // moji artifacts arrive FROM the crawl: planted before the page wrap
    val planted = when(id % 7 === 0, concat(col("text"), lit(MojiSuffix)))
      .otherwise(col("text"))
    val staged = d.select(rawUrl.as("url"),
      lit("2026-01-01T00:00:00Z").as("ts"), wrappedPageOf(planted).as("payload"))
    // Staging is memoized per (sfDir, JVM): the WARC artifact is INPUT
    // staging (the round-trip itself is q152's gate), and a stable path
    // makes every crawlFunnel invocation plan-identical — so q214, q215,
    // and bench reps share ONE cacheOnce'd extraction/signature subtree
    // instead of accumulating per-invocation caches (measured: the
    // per-call scratch paths held 6 corpus-sized caches after a 3-rep
    // bench of the pair).
    val out = crawlStaged.computeIfAbsent(crawlStagedKey(s, dir), _ => {
      val p = graft.core.Scratch.dir("graft_crawl")
      graft.sources.Warc.save(staged, p)
      p
    })
    val back = graft.sources.Warc.read(s, out)
      .select(col("url"),
        regexp_extract(col("url"), "/doc([0-9]+)", 1).cast("long").as("doc_id"),
        col("payload").cast("string").as("page"))
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val canon = back.select(col("doc_id"), col("lang"), col("page"),
        UF.canonicalUrl(col("url")).as("canonical"),
        UF.urlHost(col("url")).as("host"))
      .withColumn("path",
        regexp_extract(col("canonical"), "^[a-z]+://[^/]+(/[^?]*)", 1))
    // robots gate over the canonical frontier (the REAL parser against
    // the planted bodies; the oracle replays the star-group rule table)
    val robots = canon
      .select(col("host"),
        robotsBodyOf(regexp_extract(col("host"), "^site([0-9])", 1)).as("body"))
      .distinct()
    val verdict = graft.operators.Robots.evaluate(
        canon.select(col("doc_id"), col("host"), col("path")),
        graft.operators.Robots.parseRules(robots), "host", "path", "doc_id")
      .select(col("doc_id"), col("allowed"))
    // extraction + the per-document stage flags; SEALED (pinPlan, r13):
    // the extraction tree embeds the HTML/Gopher mega-expressions, and
    // every downstream construction (cc, flags, fuzzy, contam, tiers)
    // re-analyzed + re-canonicalized it per invocation — the q232 warm
    // wall was ~14 s of pure driver plan work before sealing
    graft.core.Caches.pinPlan(
      canon.join(verdict, Seq("doc_id"))
        .withColumn("x", graft.functions.HtmlFunctions.extractContent(
          col("page"), HtmlMinWords, HtmlMaxLink, HtmlMinStop))
        .select(col("doc_id"), col("lang"), col("canonical"), col("allowed"),
          col("x.n_content").as("n_content"), col("x.content").as("content"))
        .withColumn("n_moji", mojibakeCount(col("content")))
        .withColumn("moji_clean", col("n_moji") === 0L)
        .withColumn("gopher_pass",
          gopherStats(col("content"), GopherMinWords).getField("pass"))
        .withColumn("digest",
          when(col("n_content") === 0,
            concat(lit("empty:"), col("doc_id").cast("string")))
            .otherwise(md5(canonicalText(col("content")))))
        .withColumn("n_tokens", tokenCountWs(col("content")).cast("long")))
  }

  /** The funnel's flag frame is NARROW (no content column — r13): the
    * exact-dup collapse windows over the (doc_id, digest) projection and
    * joins the verdict back by id, so document text never shuffles
    * through the digest exchange (guide §8: decide on proxies, move
    * payloads once); q214 re-attaches content from the cached
    * [[crawlExtracted]] frame itself. The frame is cacheOnce'd: the
    * budget window and the final audit join both consume it, and before
    * the cache each consumer replayed the fuzzy-band and decontamination
    * joins from scratch. */
  private def crawlFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.read(s, dir, "documents")
    val ex = crawlExtracted(s, dir)
    val keep = ex.select(col("doc_id"), col("digest"))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("digest"))))
      .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("is_canonical"))
    // fuzzy near-dup: exact-first collapse, then banded MinHash
    // candidates over the representatives (see crawlFuzzy)
    val (_, fuzzyDropped) = crawlFuzzy(ex.select(col("doc_id"), col("content")))
    // benchmark decontamination over the same extracted content
    val isBench = col("doc_id") % CrawlBenchMod === 0
    val contam = graft.operators.Decontamination.contaminated(
        ex.where(!isBench).select(col("doc_id"), col("content")),
        ex.where(isBench).select(col("doc_id"), col("content")),
        CrawlDecontamN, "doc_id", "content")
      .select(col("doc_id"))
    val flags = graft.core.Caches.pinPlan(ex.drop("content")
      .join(keep, Seq("doc_id"))
      .join(fuzzyDropped.withColumn("fz", lit(true)), Seq("doc_id"), "left")
      .withColumn("fuzzy_dup", coalesce(col("fz"), lit(false))).drop("fz")
      .join(contam.withColumn("ct", lit(true)), Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("ct"), lit(false))).drop("ct")
      .withColumn("is_bench", isBench)
      .withColumn("survivor",
        col("allowed") && col("n_content") > 0 && col("moji_clean") &&
          col("gopher_pass") && col("is_canonical") && !col("fuzzy_dup") &&
          !col("is_bench") && !col("contaminated")))
    // per-language token budget over the survivors, hash order (q80) —
    // the running sum goes two-phase above the gate (one language can be
    // half a 100 TB corpus; a single-task per-stratum sort cannot), gated
    // on the corpus row count (a parquet metadata read, never a join
    // recompute; survivors ≤ corpus)
    val budget = graft.operators.Sampling.strataRunningSum(
        flags.where(col("survivor")), "doc_id", "lang", "n_tokens", "cumb",
        twoPhase = d.count() > graft.operators.Sampling.TwoPhaseThreshold)
      .withColumn("in_b", col("cumb") <
        when(col("lang") === "en", CrawlBudgetEn).otherwise(CrawlBudgetDefault))
      .select(col("doc_id"), col("in_b"))
    flags.join(budget, Seq("doc_id"), "left")
      .withColumn("in_budget", coalesce(col("in_b"), lit(false))).drop("in_b")
      .withColumn("selected", col("survivor") && col("in_budget"))
  }

  /**
   * The CCNet composition of the crawl funnel (Wenzek et al. 2020's
   * stage order: line-level boilerplate dedup FIRST, then dedup /
   * filtering / LM perplexity tiering) — the q232 second flagship. It
   * shares [[crawlExtracted]]'s staged-WARC + extraction subtree with
   * q214/q215 (one cacheOnce'd plan), then diverges:
   *
   *  1. page chrome is planted IN-QUERY onto the extracted content
   *     (cookie banner every page, newsletter bar every third, a
   *     per-4-id-group notice that sits UNDER the df gate);
   *  2. CCNet line strike (`Dedup.lineDedup`, df > CrawlLineMaxDf)
   *     removes the hot chrome and keeps the notice — so the struck
   *     corpus differs from q214's on EVERY document and each later
   *     stage re-derives over it (the composition-drift this flagship
   *     gates: strike-before-digest changes every downstream hash);
   *  3. moji / Gopher / exact digest / fuzzy MinHash / decontamination
   *     replay the q214 stages over the STRUCK text;
   *  4. survivors tier head/middle/tail under their own language's
   *     unigram LM (`LanguageModel.perplexityTiers`, the q147 face,
   *     sampled cutoffs);
   *  5. the per-language token budget consumes only head+middle
   *     survivors (CCNet keeps head, samples middle, drops tail) in
   *     content-stable hash order — two-phase above the scale gate.
   *
   * Scale shape: the plant is map-only Column concat; the line strike
   * shuffles (id, line_no, hash) — never text (Dedup.lineDedup's
   * contract); every recomputed stage keeps the q214 plan discipline
   * (hash-keyed joins, banded candidates, partitioned windows); the LM
   * count tables saturate; the budget window is per-language and goes
   * two-phase above `Sampling.TwoPhaseThreshold`.
   */
  private def crawlCcnet(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.read(s, dir, "documents")
    val ex = crawlExtracted(s, dir)
    val id = col("doc_id")
    val planted = concat(col("content"),
      lit("\n" + CrawlBannerCookie),
      when(id % 3 === 0, lit("\n" + CrawlBannerNews)).otherwise(lit("")),
      lit("\n" + CrawlNoticePrefix),
      floor(id / lit(4)).cast("long").cast("string"))
    val pl = ex.select(id, col("lang"), col("canonical"), col("allowed"),
      col("n_content"), planted.as("pl"))
    val struck = graft.operators.Dedup.lineDedup(
      pl.select(id, col("pl")), CrawlLineMaxDf, "doc_id", "pl")
    val cc = graft.core.Caches.pinPlan(
      pl.drop("pl").join(struck.withColumnRenamed("pl", "content"), Seq("doc_id"))
        .withColumn("n_moji", mojibakeCount(col("content")))
        .withColumn("moji_clean", col("n_moji") === 0L)
        .withColumn("gopher_pass",
          gopherStats(col("content"), GopherMinWords).getField("pass"))
        .withColumn("digest",
          when(length(col("content")) === 0,
            concat(lit("empty:"), id.cast("string")))
            .otherwise(md5(canonicalText(col("content")))))
        .withColumn("n_tokens", tokenCountWs(col("content")).cast("long")))
    // narrow exact-dup collapse (r13): window over (doc_id, digest) and
    // join the verdict back — struck text never shuffles through the
    // digest exchange. length(content)=0 is precomputed as a narrow
    // has_content flag so the cached flag frame carries no text column.
    val keep = cc.select(id, col("digest"))
      .withColumn("keep_id",
        min(id).over(Window.partitionBy(col("digest"))))
      .select(id, (id === col("keep_id")).as("is_canonical"))
    val (_, fuzzyDropped) = crawlFuzzy(cc.select(id, col("content")))
    val isBench = id % CrawlBenchMod === 0
    val contam = graft.operators.Decontamination.contaminated(
        cc.where(!isBench).select(id, col("content")),
        cc.where(isBench).select(id, col("content")),
        CrawlDecontamN, "doc_id", "content")
      .select(id)
    // the flag frame is cacheOnce'd and NARROW: before r13, tiers /
    // budget / final join each replayed the exact window + fuzzy-band +
    // decontamination joins (and perplexityTiers multiplied that input
    // fan-out again) — the measured cost was 390 s and an 8 GB-heap OOM
    // in the full bench; one cached evaluation removes the whole blow-up.
    val flags = graft.core.Caches.pinPlan(cc
      .select(id, col("lang"), col("canonical"), col("allowed"),
        col("n_content"), col("n_lines"), col("n_removed"), col("n_moji"),
        col("moji_clean"), col("gopher_pass"), col("n_tokens"),
        (length(col("content")) > 0).as("has_content"))
      .join(keep, Seq("doc_id"))
      .join(fuzzyDropped.withColumn("fz", lit(true)), Seq("doc_id"), "left")
      .withColumn("fuzzy_dup", coalesce(col("fz"), lit(false))).drop("fz")
      .join(contam.withColumn("ct", lit(true)), Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("ct"), lit(false))).drop("ct")
      .withColumn("is_bench", isBench)
      .withColumn("survivor",
        col("allowed") && col("has_content") && col("moji_clean") &&
          col("gopher_pass") && col("is_canonical") && !col("fuzzy_dup") &&
          !col("is_bench") && !col("contaminated")))
    // tiers re-attach struck text from the cached cc by id (survivors
    // only), and the narrow (id, nll, tier) verdict is itself cached:
    // the tf join below consumes it twice (budget filter + final join)
    val tiers = graft.core.Caches.pinPlan(
      graft.operators.LanguageModel.perplexityTiers(
          flags.where(col("survivor")).select(id, col("lang"))
            .join(cc.select(id, col("content").as("text")), Seq("doc_id")),
          sampleMod = CcnetSampleMod)
        .select(id, col("nll"), col("tier")))
    val tf = flags.join(tiers, Seq("doc_id"), "left")
    val keepTier = col("tier").isin("head", "middle")
    val budget = graft.operators.Sampling.strataRunningSum(
        tf.where(col("survivor") && keepTier),
        "doc_id", "lang", "n_tokens", "cumb",
        twoPhase = d.count() > graft.operators.Sampling.TwoPhaseThreshold)
      .withColumn("in_b", col("cumb") <
        when(col("lang") === "en", CrawlBudgetEn).otherwise(CrawlBudgetDefault))
      .select(id, col("in_b"))
    tf.join(budget, Seq("doc_id"), "left")
      .withColumn("in_budget", coalesce(col("in_b"), lit(false))).drop("in_b")
      .withColumn("selected",
        col("survivor") && keepTier && col("in_budget"))
  }

  /**
   * The fuzzy near-dup tier of [[crawlFunnel]] over the extracted corpus
   * (doc_id, content): ids dropped as the LATER doc of a banded MinHash
   * candidate pair with signature agreement ≥ CrawlEstSim.
   *
   * EXACT-FIRST COLLAPSE (the EXT-D17 law, `Dedup.exactDroppedIds`):
   * raw-identical documents collapse to their minimum-id representative
   * BEFORE any signature is computed or band self-joined — K boilerplate
   * copies of one template (the NORM in real crawl data) cost ONE row per
   * band, not K rows sharing every band bucket and K²/2 candidate pairs
   * on a single skewed join key. Provably result-preserving:
   *
   *  - a COPY (raw content equal to a lower id's) was dropped by the
   *    uncollapsed join iff it carried ≥1 shingle — its representative
   *    (lower id, identical signature, shared buckets, est 1.0 ≥ τ) was
   *    always a witness; a copy too short to shingle never entered the
   *    band table. The collapse replays that rule directly: a copy is
   *    dropped iff its representative appears in the signature table
   *    (identical content ⇔ identical shingle stream).
   *  - a REPRESENTATIVE r was dropped iff some lower-id doc x shared a
   *    bucket at est ≥ τ; x's own representative r_x ≤ x < r carries the
   *    IDENTICAL signature (identical buckets, identical est), so every
   *    witness survives the collapse.
   *
   * The collapse keys on md5 of the RAW content: the funnel's canonical
   * digest (lowercased, space-folded) is coarser and does NOT imply equal
   * shingle streams — collapsing on it would merge docs with different
   * signatures. Scale shape: the collapse window runs over the NARROW
   * (doc_id, raw_digest) projection (content never shuffles through it);
   * the representative filter is `Dedup.keepCorpus`'s gated anti-join
   * (copies broadcast below the 10M threshold).
   *
   * Returns (bands, dropped) — the band table is exposed so the planted
   * mega-cluster spec (`TextFunnelSpec`) can assert candidate collapse;
   * production consumes only `dropped`.
   */
  private[graft] def crawlFuzzy(docs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Dedup
    val dig = docs.select(col("doc_id"), md5(col("content")).as("raw_digest"))
    val copies = graft.core.Caches.cacheOnce(
      dig.withColumn("rep_id",
          min(col("doc_id")).over(Window.partitionBy(col("raw_digest"))))
        .where(col("doc_id") =!= col("rep_id"))
        .select(col("doc_id"), col("rep_id")))
    val reps = Dedup.keepCorpus(docs, copies.select(col("doc_id")),
      "doc_id", copies.count())
    val sig = graft.core.Caches.cacheOnce(Dedup.minHashSignatures(
      reps, CrawlShingleN, CrawlPerms, "doc_id", "content"))
    val bands = Dedup.lshBands(sig, CrawlBands, CrawlPerms / CrawlBands)
    val repDropped = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb")).distinct()
      .join(sig.select(col("id").as("ida"), col("sig").as("siga")), Seq("ida"))
      .join(sig.select(col("id").as("idb"), col("sig").as("sigb")), Seq("idb"))
      .where(Dedup.estSim(col("siga"), col("sigb"), CrawlPerms) >= CrawlEstSim)
      .select(col("idb").as("doc_id"))
    // a copy is a near-dup of its representative iff the rep shingles
    val copyDropped = copies
      .join(sig.select(col("id").as("rep_id")), Seq("rep_id"), "left_semi")
      .select(col("doc_id"))
    (bands, repDropped.unionByName(copyDropped).distinct())
  }

  private val Bm25Terms = Seq("spark", "vector", "stream")

  /** Full-corpus BM25 replay — shared by q108 (one-shot operator) and
    * q182 (store-served equality law over base ∪ delta). */
  private lazy val Bm25OracleSql =
    s"""WITH tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |  FROM documents),
       |dl AS (SELECT doc_id, len(tk)::DOUBLE AS dl FROM tk),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
       |       FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
       |       WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |       GROUP BY 1, 2),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY 1)
       |SELECT doc_id,
       |  ROUND(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
       |            * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
       |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 15""".stripMargin
  private val BpeMerges = 5
  private val BpeMaxWordLen = 12
  private val DsirTargets = Seq("src1", "src2", "src3")
  private val DsirBuckets = 2048
  private val DsirSampleN = 50
  private val LrIters = 5 // q137 gradient-descent rounds
  private val LrRate = 0.5 // q137 learning rate
  private val LrBuckets = 256 // q137 hashed feature space
  private val CalBins = 10 // q165 reliability bins
  private val CdcWindow = 4 // q168 rolling-hash window (tokens)
  private val CdcModK = 16 // q168 cut modulus ⇒ expected ~16-token chunks
  private val RougeOrder = 2 // q170 n-gram order
  private val BleuOrder = 4 // q237 max n-gram order (the standard BLEU-4)
  private val ChrfOrder = 4 // q241 max char n-gram order
  private val UniRounds = 2 // q139 hard-EM rounds
  private val UniSeed = 40 // q139 seed multi-char pieces
  private val UniTarget = 36 // q139 pruned vocabulary size
  private val UniMaxPiece = 4 // q139 max piece length
  private val DoremiRounds = 3 // q141 multiplicative-weights rounds
  private val DoremiEta = 1.0 // q141 update step size
  private val GopherMinWords = 20 // q142 word-count floor
  private val HtmlMinWords = 5 // q144 content-block word floor
  private val PrefCandK = 4 // q194 candidates per prompt group
  private val PrefMinMargin = 0.05 // q194 minimum chosen−rejected gap
  private val BtRounds = 4 // q195 Bradley–Terry MM rounds
  private val BlockWords = Seq("slow", "big", "merge") // q196 blocklist
  private val MojiSuffix = // q203 planted artifacts (explicit code points)
    " caf\u00C3\u00A9 na\u00C3\u00AFve \u00E2\u20AC\u0153quoted\u00E2\u20AC\u2122 x\uFFFD"
  private val PassSamples = 10 // q204 samples per problem
  private val PassK = 3 // q204 estimator depth
  private val PassThreshold = 0.55 // q204 correctness gate on quality
  private val NeymanBudget = 100L // q213 labeling budget (units)
  private val BackoffAlpha = 0.4 // q145 Stupid-Backoff constant
  private val CcnetSampleMod = 4L // q147 cutoff-sample rate (1 in 4)
  private val TierBudget = 1000000L // q150 token budget
  private val PackSeqLen = 256 // q146 training-sequence length
  private val PackShards = 4 // q146 packing shards per language (scale knob)
  private val ShardVocabMod = 32768L // q187 hashed-id vocabulary size
  private val PreTokMaxLen = 16 // q153/q155 pre-token length cap
  private val LangIdN = 3 // q154 char n-gram order
  private val LangIdBuckets = 512 // q154 hashed feature space
  private val LangIdMinG2 = 20.0 // q154 G² feature-selection threshold
  private val HostBottomFrac = 0.25 // q161 flagged host-tail fraction
  private val HtmlMaxLink = 0.2 // q144 max link density
  private val HtmlMinStop = 0.02 // q144 min stopword density
  private[graft] val CrawlShingleN = 3 // q214/q215 near-dup MinHash shingles
  private val CrawlDecontamN = 8 // q214/q215 scrub collision grams (the
  // 13-gram-protocol scale — 3-grams flag 83% of this corpus, a
  // decontamination gate must catch leaked ITEMS, not shared phrases)
  private[graft] val CrawlPerms = 16 // q214/q215 MinHash permutations
  private[graft] val CrawlBands = 4 // × 4 rows/band
  private[graft] val CrawlEstSim = 0.5 // q214/q215 near-dup signature cutoff
  private val CrawlBenchMod = 17 // every 17th doc plays the benchmark set
  private val CrawlBudgetEn = 4000L // q214/q215 en token budget
  private val CrawlBudgetDefault = 1500L // q214/q215 other-language budget
  private val SchedDelayMs = 500L // q236 per-host politeness delay
  private val SchedMaxPerHost = 60L // q236 per-host total slot cap
  private[graft] val CrawlLineMaxDf = 5L // q232 boilerplate line document-frequency gate
  // q232 planted page chrome (the in-query plant, the q63/q144 pattern):
  // a sitewide cookie banner on every page (df = corpus), a newsletter
  // bar on every third page (df ≈ corpus/3) — both boilerplate the line
  // strike must remove — and a per-4-id-group notice (df ≤ 4 ≤ gate)
  // that SURVIVES, so the struck corpus genuinely differs from q214's
  // and every downstream hash (digest, shingles, tokens) re-derives.
  private[graft] val CrawlBannerCookie =
    "please accept our cookie policy to continue reading this page"
  private[graft] val CrawlBannerNews =
    "subscribe to our newsletter for weekly updates and offers"
  private[graft] val CrawlNoticePrefix = "community notice for neighborhood "

  /** One unrolled gradient-descent round for the q137 oracle: loss under
    * w(i-1), mean gradient, the 1e-9-rounded weight update. */
  /** The q137 logistic-GD oracle chain: hashed bigram feature table,
    * zero weights, LrIters rounds — shared by the loss-curve gate (q137)
    * and the calibration report (q165). */
  private lazy val lrChainCtes: String = {
    val targets = DsirTargets.map(t => s"'$t'").mkString(", ")
    s"""tfq AS (SELECT doc_id,
       |  CASE WHEN source IN ($targets) THEN 1.0 ELSE 0.0 END AS y,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |  FROM documents),
       |flq AS (SELECT doc_id, y,
       |          tk || list_transform(range(1, len(tk)),
       |                               i -> tk[i] || ' ' || tk[i + 1]) AS fs
       |        FROM tfq),
       |fb AS (SELECT doc_id, y,
       |         ('0x' || substr(md5(f), 1, 15))::BIGINT % $LrBuckets AS bucket,
       |         COUNT(*)::DOUBLE AS c
       |       FROM flq, unnest(fs) AS u(f)
       |       GROUP BY 1, 2, 3),
       |nn AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM fb),
       |w0 AS (SELECT unnest(range($LrBuckets)) AS bucket, 0.0 AS wv),
       |${(1 to LrIters).map(lrRound).mkString(",\n")}""".stripMargin
  }

  private def lrRound(i: Int): String = {
    val pw = s"w${i - 1}"
    s"""z$i AS MATERIALIZED (SELECT fb.doc_id, fb.y, SUM(fb.c * $pw.wv) AS z
       |        FROM fb JOIN $pw USING (bucket) GROUP BY 1, 2),
       |p$i AS MATERIALIZED (SELECT doc_id, y, 1 / (1 + exp(-z)) AS p FROM z$i),
       |l$i AS (SELECT ${i}::BIGINT AS round,
       |          ROUND(AVG(-(y * ln(p) + (1 - y) * ln(1 - p))), 6)
       |            AS mean_loss
       |        FROM p$i),
       |g$i AS MATERIALIZED (SELECT fb.bucket, SUM(fb.c * (p$i.p - fb.y)) / nn.n AS g
       |        FROM fb JOIN p$i USING (doc_id) CROSS JOIN nn
       |        GROUP BY fb.bucket, nn.n),
       |w$i AS MATERIALIZED (SELECT $pw.bucket,
       |          ROUND($pw.wv - $LrRate * COALESCE(g$i.g, 0), 9) AS wv
       |        FROM $pw LEFT JOIN g$i USING (bucket))""".stripMargin
  }

  /** Shared DSIR oracle CTE chain, ending in `dw(doc_id, n_feats, logw)`
    * — the q127 scoring pipeline, reused by q134's sampling step. */
  private lazy val DsirCtes: String = {
    val targets = DsirTargets.map(t => s"'$t'").mkString(", ")
    val B = DsirBuckets
    s"""tf AS (SELECT doc_id, source IN ($targets) AS is_target,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |  FROM documents),
       |fl AS (SELECT doc_id, is_target,
       |         tk || list_transform(range(1, len(tk)),
       |                              i -> tk[i] || ' ' || tk[i + 1]) AS fs
       |       FROM tf),
       |feats AS (SELECT doc_id, is_target,
       |            ('0x' || substr(md5(f), 1, 15))::BIGINT % $B AS bucket
       |          FROM fl,
       |          unnest(CASE WHEN len(fs) = 0 THEN [NULL] ELSE fs END) AS u(f)),
       |b AS (SELECT unnest(range($B)) AS bucket),
       |tc AS (SELECT bucket, COUNT(*) AS c FROM feats
       |       WHERE is_target AND bucket IS NOT NULL GROUP BY 1),
       |tn AS (SELECT COUNT(*) AS n FROM feats
       |       WHERE is_target AND bucket IS NOT NULL),
       |pc AS (SELECT bucket, COUNT(*) AS c FROM feats
       |       WHERE NOT is_target AND bucket IS NOT NULL GROUP BY 1),
       |pn AS (SELECT COUNT(*) AS n FROM feats
       |       WHERE NOT is_target AND bucket IS NOT NULL),
       |lr AS (SELECT b.bucket,
       |         ln((COALESCE(tc.c, 0) + 1)::DOUBLE / (tn.n + $B)::DOUBLE)
       |       - ln((COALESCE(pc.c, 0) + 1)::DOUBLE / (pn.n + $B)::DOUBLE) AS lr
       |       FROM b LEFT JOIN tc USING (bucket) LEFT JOIN pc USING (bucket)
       |       CROSS JOIN tn CROSS JOIN pn),
       |pf AS (SELECT doc_id, bucket, COUNT(bucket) AS c
       |       FROM feats WHERE NOT is_target GROUP BY 1, 2),
       |dw AS (SELECT pf.doc_id, CAST(COALESCE(SUM(pf.c), 0) AS BIGINT) AS n_feats,
       |         ROUND(COALESCE(SUM(pf.c * lr.lr), 0), 6) AS logw
       |       FROM pf LEFT JOIN lr ON pf.bucket = lr.bucket
       |       GROUP BY 1)""".stripMargin
  }

  /** Shared preference-pair oracle chain, ending in `pp(prompt_id,
    * chosen_id, chosen_score, chosen_source, rejected_id, rejected_score,
    * rejected_source, margin)` — the q194 mining replayed with rank-1
    * windows (chosen: score DESC, id ASC; rejected: score ASC, id DESC),
    * reused by q195's Bradley–Terry fit. */
  private lazy val prefCtes: String =
    s"""ptk AS (SELECT doc_id, source, text,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |  FROM documents),
       |psc AS (SELECT doc_id, doc_id // $PrefCandK AS prompt_id, source,
       |  ROUND(GREATEST(0.0, LEAST(1.0, len(tk)::DOUBLE / 50.0) * 0.5
       |    + LEAST(1.0, CASE WHEN len(tk) = 0 THEN 0.0
       |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END * 4.0) * 0.5
       |    - LEAST(1.0, CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
       |             / length(text)::DOUBLE END * 10.0) * 0.25), 6) AS score
       |  FROM ptk),
       |prk AS (SELECT prompt_id, doc_id, source, score,
       |  row_number() OVER (PARTITION BY prompt_id
       |                     ORDER BY score DESC, doc_id ASC) AS rc,
       |  row_number() OVER (PARTITION BY prompt_id
       |                     ORDER BY score ASC, doc_id DESC) AS rr,
       |  count(*) OVER (PARTITION BY prompt_id) AS n FROM psc),
       |pp AS (SELECT c.prompt_id,
       |  c.doc_id AS chosen_id, c.score AS chosen_score,
       |  c.source AS chosen_source,
       |  r.doc_id AS rejected_id, r.score AS rejected_score,
       |  r.source AS rejected_source,
       |  ROUND(c.score - r.score, 6) AS margin
       |  FROM (SELECT * FROM prk WHERE rc = 1 AND n >= 2) c
       |  JOIN (SELECT * FROM prk WHERE rr = 1) r USING (prompt_id)
       |  WHERE ROUND(c.score - r.score, 6) >= $PrefMinMargin)""".stripMargin

  /** One unrolled Bradley–Terry MM round for the q195 oracle: per-player
    * denominator under w(i−1), the ½-pseudo-win numerator, the
    * 1e-9-rounded normalized update. */
  // MATERIALIZED: each round references the previous round's CTE several
  // times (wa, wb, the scalar normalizer) — DuckDB inlines non-
  // materialized CTEs per reference, so the unrolled chain re-evaluates
  // exponentially (measured: w1 0.3s, w2 2.2s, w4 OOM at an 8 GB cap on a
  // 20-player table). Materializing each round makes it linear.
  private def btRoundCte(i: Int): String =
    s"""d$i AS MATERIALIZED (SELECT p.player AS player, SUM(n.n / (wa.w + wb.w)) AS den
       |        FROM players p JOIN nij n ON (n.a = p.player OR n.b = p.player)
       |        JOIN w${i - 1} wa ON wa.player = n.a
       |        JOIN w${i - 1} wb ON wb.player = n.b
       |        GROUP BY 1),
       |r$i AS MATERIALIZED (SELECT d.player, (COALESCE(wins.wi, 0) + 0.5) / d.den AS rw
       |        FROM d$i d LEFT JOIN wins ON wins.player = d.player),
       |w$i AS MATERIALIZED (SELECT player, ROUND(rw / (SELECT SUM(rw) FROM r$i), 9) AS w
       |        FROM r$i)""".stripMargin

  // DuckDB mirrors -----------------------------------------------------------

  private val ToksCte =
    """toks AS (SELECT doc_id, lang, text,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
      |  FROM documents)""".stripMargin

  private def hits(words: Seq[String]) =
    s"len(list_filter(tk, t -> lower(t) IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Per-language marker-hit columns + the argmax CASE, generated from
    * `LangProfiles` so the oracle tracks any profile change (the Spark
    * side and the SQL share one source of truth). Tie semantics mirror
    * langId: zero hits everywhere → 'und', ties → alphabetically-first
    * language (the CASE tests languages in sorted order). */
  private lazy val langScoreCols: String =
    LangProfiles.toSeq.sortBy(_._1)
      .map { case (l, ms) => s"${hits(ms)} AS s_$l" }.mkString(",\n  ")

  private lazy val langArgmaxCase: String = {
    val langs = LangProfiles.keys.toSeq.sorted
    val g = langs.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val whens = langs.init.map(l => s"WHEN s_$l = $g THEN '$l'").mkString("\n       ")
    s"""CASE WHEN $g = 0 THEN 'und'
       |       $whens
       |       ELSE '${langs.last}' END""".stripMargin
  }

  /** The q116 oracle: all `BpeMerges` rounds unrolled as chained CTEs.
    * Round k reads w(k-1), counts adjacent pairs, picks the argmax with
    * the same (cnt DESC, lhs, rhs) tiebreak, and replays the engine's
    * TOKEN-level greedy rewrite: a match merges iff its offset within
    * its run of consecutive matches is even (gaps-and-islands windows
    * per word), and the token after a merge drops. */
  private lazy val bpeOracleSql: String = bpeChainSql(
    s"""w0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |         list_transform(range(1, length(word) + 1), i -> word[i]) AS toks
       |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |        FROM documents)
       |  WHERE word <> '' AND length(word) BETWEEN 1 AND $BpeMaxWordLen
       |  GROUP BY word)""".stripMargin,
    BpeMerges)

  /** Merge-round CTE chain shared by every BPE oracle face: the
    * whitespace word table (q116/q126/q146/q148) and the regex
    * pre-tokenized byte-fallback table (q153/q155) replay identical
    * round machinery over whatever `w0` the caller supplies. */
  private def bpeChainSql(base: String, nMerges: Int): String = {
    val rounds = (1 to nMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT p.l AS lhs, p.r AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq,
         |          unnest(list_transform(range(1, len(toks)),
         |                 i -> {'l': toks[i], 'r': toks[i + 1]})) AS p
         |        FROM w${k - 1})
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |ex$k AS MATERIALIZED (SELECT word, freq, p.tok AS tok, p.pos AS pos FROM (
         |  SELECT word, freq, unnest(list_transform(range(1, len(toks) + 1),
         |           i -> {'tok': toks[i], 'pos': i})) AS p FROM w${k - 1})),
         |m$k AS MATERIALIZED (SELECT e.*, (tok = b.lhs AND COALESCE(
         |          lead(tok) OVER (PARTITION BY word ORDER BY pos) = b.rhs,
         |          FALSE)) AS mtch
         |        FROM ex$k e, b$k b),
         |g$k AS MATERIALIZED (SELECT *, CASE WHEN mtch THEN pos - ROW_NUMBER()
         |          OVER (PARTITION BY word, mtch ORDER BY pos) END AS grp
         |        FROM m$k),
         |mm$k AS MATERIALIZED (SELECT *, (mtch AND (pos - MIN(pos)
         |           OVER (PARTITION BY word, grp)) % 2 = 0) AS m FROM g$k),
         |pv$k AS MATERIALIZED (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word
         |           ORDER BY pos), FALSE) AS pm FROM mm$k),
         |w$k AS MATERIALIZED (SELECT word, freq,
         |          list(CASE WHEN m THEN b.lhs || b.rhs ELSE tok END
         |               ORDER BY pos) AS toks
         |        FROM pv$k, b$k b WHERE NOT pm GROUP BY word, freq)""".stripMargin
    }
    val union = (1 to nMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS round, lhs, rhs, lhs || rhs AS merged, cnt FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"WITH $base,\n${rounds.mkString(",\n")}\n$union\nORDER BY round"
  }

  /** The q126 oracle: the same merge-chain CTEs, then per-document
    * subword lengths via the vocabulary join (each distinct word merged
    * once, document stream joined back). */
  private lazy val bpeEncodeOracleSql: String = {
    val chain = bpeOracleSql
    val prefix = chain.substring(0, chain.lastIndexOf("SELECT CAST(1 AS BIGINT)"))
    s"""${prefix.trim},
       |dw AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE word <> '' AND length(word) BETWEEN 1 AND $BpeMaxWordLen)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(len(toks)) AS BIGINT) AS n_subwords
       |FROM dw JOIN w$BpeMerges USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The q147/q150 CCNet CTE chain: per-language unigram models, per-doc
    * scoring, sampled tercile cutoffs, and the tier CASE, surfaced as
    * `tiers(doc_id, lang, n_tokens, nll, tier)`. */
  private lazy val ccnetCtes: String =
    s"""$ToksCte,
       |tok AS (SELECT doc_id, lang, unnest(tk) AS tok FROM toks),
       |v AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM tok GROUP BY 1, 2),
       |t AS (SELECT lang, SUM(cnt)::DOUBLE AS n_total FROM v GROUP BY 1),
       |sc AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |       ROUND(SUM(-ln(cnt::DOUBLE / n_total)) / COUNT(*)::DOUBLE, 6)
       |         AS nll
       |       FROM tok JOIN v USING (lang, tok) JOIN t USING (lang)
       |       GROUP BY 1, 2),
       |samp AS (SELECT * FROM sc
       |         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
       |               % $CcnetSampleMod = 0),
       |vals AS (SELECT lang, nll, CAST(COUNT(*) AS BIGINT) AS nv
       |         FROM samp GROUP BY 1, 2),
       |cum AS (SELECT lang, nll,
       |        SUM(nv) OVER (PARTITION BY lang ORDER BY nll) AS cum
       |        FROM vals),
       |m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS m_docs
       |      FROM samp GROUP BY 1),
       |cuts AS (SELECT lang,
       |         MIN(CASE WHEN cum * 3 >= m_docs THEN nll END) AS cut1,
       |         MIN(CASE WHEN cum * 3 >= m_docs * 2 THEN nll END) AS cut2
       |         FROM cum JOIN m USING (lang) GROUP BY 1),
       |tiers AS (SELECT doc_id, lang, n_tokens, nll,
       |  CASE WHEN cut1 IS NULL THEN 'unsampled'
       |       WHEN nll <= cut1 THEN 'head'
       |       WHEN nll <= cut2 THEN 'middle'
       |       ELSE 'tail' END AS tier
       |FROM sc LEFT JOIN cuts USING (lang))""".stripMargin

  /** The q144/q149/q214 HTML-extraction CTE chain: derive the identical
    * wrapped page over `src` (doc_id + text), strip scaffold, split
    * blocks, classify, and surface
    * `extracted(doc_id, n_blocks, n_content, content)`. */
  private lazy val htmlCtes: String = htmlCtesOver("documents")

  private def htmlCtesOver(src: String): String =
    s"""html AS (SELECT doc_id,
       |  '<html><head><title>t</title><style>p{x}</style></head><body>' ||
       |  '<div><a href="/">home page</a> <a href="/a">about us</a></div>' ||
       |  '<h1>Doc ' || doc_id || '</h1>' ||
       |  '<p>' || substr(text, 1, CAST(floor(length(text)/2) AS INT)) || '</p>' ||
       |  '<ul><li>item one</li><li>item two</li></ul>' ||
       |  '<p>' || substr(text, CAST(floor(length(text)/2) AS INT) + 1) ||
       |  ' &amp; more &#39;quoted&#39; tail</p>' ||
       |  '<!-- hidden comment --><script>var x = 1; if (a < b) { }</script>' ||
       |  '<div><a href="/c">contact</a> copyright notice</div></body></html>' AS h
       |  FROM $src),
       |scaff AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
       |    '(?s)<!--.*?-->', ' ', 'g'),
       |    '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |    '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
       |    '(?is)<head\\b[^>]*>.*?</head>', ' ', 'g') AS h2 FROM html),
       |blk AS (SELECT doc_id,
       |  string_split_regex(h2, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|table|tr|td|th|blockquote|section|article|header|footer|nav|aside|body|html)\\b[^>]*>') AS bs
       |  FROM scaff),
       |stats AS (SELECT doc_id, list_transform(bs, b -> struct_pack(
       |    txt := trim(regexp_replace(
       |      replace(replace(replace(replace(replace(replace(
       |        regexp_replace(b, '<[^>]+>', ' ', 'g'),
       |        '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),'&nbsp;',' '),'&amp;','&'),
       |      '\\s+', ' ', 'g')),
       |    lw := COALESCE(len(list_filter(string_split_regex(trim(regexp_replace(
       |      array_to_string(list_transform(
       |        regexp_extract_all(b, '(?is)<a\\b[^>]*>(.*?)</a>', 1),
       |        a -> regexp_replace(a, '<[^>]+>', ' ', 'g')), ' '),
       |      '\\s+', ' ', 'g')), ' '), x -> x <> '')), 0)
       |  )) AS st FROM blk),
       |st2 AS (SELECT doc_id, list_transform(st, s -> struct_pack(
       |    txt := s.txt,
       |    nw := len(list_filter(string_split_regex(s.txt, ' '), x -> x <> '')),
       |    lw := s.lw)) AS st FROM stats),
       |st3 AS (SELECT doc_id, list_transform(st, s -> struct_pack(
       |    txt := s.txt, nw := s.nw,
       |    ld := CASE WHEN s.nw = 0 THEN NULL ELSE round(s.lw * 1.0 / s.nw, 6) END,
       |    sd := CASE WHEN s.nw = 0 THEN NULL ELSE round(
       |      len(list_filter(string_split_regex(lower(s.txt), ' '),
       |        t -> list_contains([${graft.functions.TextFunctions.Stopwords.map(w => s"'$w'").mkString(", ")}],
       |             regexp_replace(t, '[^a-z]', '', 'g')))) * 1.0 / s.nw, 6) END)) AS st
       |  FROM st2),
       |cls AS (SELECT doc_id, list_transform(st, s -> struct_pack(
       |    txt := s.txt, nw := s.nw,
       |    ok := s.nw >= $HtmlMinWords AND COALESCE(s.ld <= $HtmlMaxLink, FALSE)
       |          AND COALESCE(s.sd >= $HtmlMinStop, FALSE))) AS st FROM st3),
       |extracted AS (SELECT doc_id,
       |  CAST(len(list_filter(st, s -> s.nw > 0)) AS BIGINT) AS n_blocks,
       |  CAST(len(list_filter(st, s -> s.ok)) AS BIGINT) AS n_content,
       |  COALESCE(array_to_string(list_transform(list_filter(st, s -> s.ok),
       |                                          s -> s.txt), chr(10)), '') AS content
       |FROM cls)""".stripMargin

  /** The q142/q149 Gopher-rule CTE chain over relation `src` (expects
    * doc_id + text): per-doc stats and rule flags, surfaced as
    * `gflags(doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, n_stop, r_*)`. One generator feeds both
    * oracles, so the rules cannot drift between the raw-text and
    * post-extraction faces. */
  private def gopherCtes(src: String): String =
    s"""gbase AS (SELECT doc_id, text,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk,
       |    string_split(text, chr(10)) AS lines
       |  FROM $src),
       |gstats AS (SELECT doc_id,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE ROUND(list_reduce(list_prepend(0, list_transform(tk, t -> len(t))),
       |                (a, b) -> a + b)::DOUBLE / len(tk), 6) END AS mean_word_len,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE ROUND(len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE
       |                / len(tk), 6) END AS symbol_ratio,
       |    ROUND(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
       |      / len(lines), 6) AS bullet_frac,
       |    ROUND(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$')))::DOUBLE
       |      / len(lines), 6) AS ellipsis_frac,
       |    CASE WHEN len(tk) = 0 THEN NULL
       |         ELSE ROUND(len(list_filter(tk, t -> regexp_matches(t, '[a-zA-Z]')))::DOUBLE
       |                / len(tk), 6) END AS alpha_frac,
       |    CAST(len(list_distinct(list_intersect(list_transform(tk, t -> lower(t)),
       |      [${graft.functions.TextFunctions.Stopwords.map(s => s"'$s'").mkString(", ")}])))
       |      AS BIGINT) AS n_stop
       |  FROM gbase),
       |gflags AS (SELECT *,
       |    (n_words >= $GopherMinWords AND n_words <= 100000) AS r_words,
       |    COALESCE(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE) AS r_meanlen,
       |    COALESCE(symbol_ratio <= 0.1, FALSE) AS r_symbol,
       |    bullet_frac <= 0.9 AS r_bullet,
       |    ellipsis_frac <= 0.3 AS r_ellipsis,
       |    COALESCE(alpha_frac >= 0.8, FALSE) AS r_alpha,
       |    n_stop >= 2 AS r_stop
       |  FROM gstats)""".stripMargin

  /** The q214/q215 oracle chain: every crawl stage replayed over the
    * planted corpus, ending in
    * `fun3(doc_id, lang, canonical, allowed, n_content, n_moji,
    * moji_clean, gopher_pass, is_canonical, fuzzy_dup, is_bench,
    * contaminated, n_tokens, survivor, in_budget, selected)`.
    * Stage sources: moji plant (q203) → page wrap + extraction
    * (htmlCtesOver) → URL canonical closed form (the q151 rules applied
    * to the planted noise) → robots star-group rule table + longest-
    * match/Allow-wins (q156's semantics over the planted body) → Gopher
    * battery (gopherCtes) → exact keep-first (q149) → MinHash bands +
    * agreement refine (q61's tier) → benchmark gram hits (q67) →
    * per-language budget window (q80). */
  /** The shared crawl prefix of the q214/q215 and q232 oracles: moji
    * plant → page wrap + extraction → URL canonical closed form →
    * robots star-group winner, surfaced as
    * `csrc(doc_id, lang, n_content, text)` + `rwin(doc_id, a)` +
    * `canon(doc_id, canonical, …)`. */
  private lazy val crawlBaseCtes: String =
    s"""pdocs AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || '$MojiSuffix' ELSE text END
       |      AS text
       |  FROM documents),
       |${htmlCtesOver("pdocs")},
       |canon AS (SELECT doc_id, (doc_id % 4)::VARCHAR AS h,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
       |      'site' || (doc_id % 4) || '.example.com' ||
       |      (CASE WHEN doc_id % 5 = 0 THEN '/tie/x'
       |            WHEN doc_id % 3 = 0 THEN '/private' || (doc_id % 4) || '/ok/page'
       |            WHEN doc_id % 3 = 1 THEN '/private' || (doc_id % 4) || '/secret'
       |            ELSE '/public/page' END) || '/doc' || doc_id AS canonical,
       |    (CASE WHEN doc_id % 5 = 0 THEN '/tie/x'
       |          WHEN doc_id % 3 = 0 THEN '/private' || (doc_id % 4) || '/ok/page'
       |          WHEN doc_id % 3 = 1 THEN '/private' || (doc_id % 4) || '/secret'
       |          ELSE '/public/page' END) || '/doc' || doc_id AS path
       |  FROM documents),
       |rr AS (SELECT h, unnest([
       |    struct_pack(p := '/private' || h, a := FALSE),
       |    struct_pack(p := '/private' || h || '/ok', a := TRUE),
       |    struct_pack(p := '/tie', a := TRUE),
       |    struct_pack(p := '/tie', a := FALSE)]) AS r
       |  FROM (SELECT DISTINCT (doc_id % 4)::VARCHAR AS h FROM documents)),
       |rmatch AS (SELECT c.doc_id, r.r.a AS a, length(r.r.p) AS l
       |           FROM canon c JOIN rr r
       |             ON r.h = c.h AND starts_with(c.path, r.r.p)),
       |rwin AS (SELECT doc_id, a FROM (
       |    SELECT doc_id, a,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY l DESC, a DESC)
       |        AS rk
       |    FROM rmatch) WHERE rk = 1),
       |csrc AS (SELECT e.doc_id, d.lang, e.n_content, e.content AS text
       |         FROM extracted e JOIN documents d USING (doc_id))""".stripMargin

  /** The recomputed crawl stages over a (doc_id[, n_content], text)
    * relation `src`: whitespace tokens, MinHash shingles → signatures →
    * bands → agreement-refined near-dup drops, decontamination-gram
    * hits, exact digest + keep-first, and moji counts. ONE generator
    * feeds both the q214/q215 chain (src = csrc, empty guard on
    * n_content) and the q232 CCNet chain (src = ccsrc, empty guard on
    * the struck text), so the stage rules cannot drift between the two
    * flagships. CTE names carry prefix `p`. The toks CTE is MATERIALIZED
    * (as are ccsrc/fun2c in the CCNet chain): DuckDB inlines CTEs, and a
    * 4-way-referenced token table re-derives the whole upstream chain per
    * reference — the q195 OOM pattern. */
  private def crawlStageCtes(src: String, p: String,
                             emptyGuard: String): String = {
    import graft.functions.TextFunctions.MojibakePattern
    s"""${p}toks AS MATERIALIZED (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |            ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |          FROM $src),
       |${p}shs AS (SELECT doc_id, list_distinct(list_transform(
       |    CASE WHEN len(tk) < $CrawlShingleN THEN []
       |         ELSE list_transform(range(1, len(tk) - ${CrawlShingleN - 2}),
       |           i -> array_to_string(list_slice(tk, i, i + ${CrawlShingleN - 1}), ' ')) END,
       |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)) AS gs
       |  FROM ${p}toks),
       |${p}sig AS (SELECT doc_id, list_transform(range(0, $CrawlPerms), i ->
       |    list_min(list_transform(gs,
       |      g -> (g * (i * 2 + 1) + (i + 1) * 1000003) % 2147483647))) AS sg
       |  FROM ${p}shs WHERE len(gs) > 0),
       |${p}bands AS (SELECT doc_id, b,
       |    md5(array_to_string(list_slice(sg,
       |      b * ${CrawlPerms / CrawlBands} + 1,
       |      b * ${CrawlPerms / CrawlBands} + ${CrawlPerms / CrawlBands}), ':')) AS bk
       |  FROM ${p}sig, unnest(range(0, $CrawlBands)) AS t(b)),
       |${p}fz AS (SELECT DISTINCT cd.db AS doc_id FROM
       |    (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |     FROM ${p}bands a JOIN ${p}bands b
       |       ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id) cd
       |    JOIN ${p}sig sa ON sa.doc_id = cd.da
       |    JOIN ${p}sig sb ON sb.doc_id = cd.db
       |  WHERE len(list_filter(list_transform(range(1, ${CrawlPerms + 1}),
       |          i -> sa.sg[i] = sb.sg[i]), x -> x))::DOUBLE
       |        / $CrawlPerms.0 >= $CrawlEstSim),
       |${p}dshs AS (SELECT doc_id, list_distinct(list_transform(
       |    CASE WHEN len(tk) < $CrawlDecontamN THEN []
       |         ELSE list_transform(range(1, len(tk) - ${CrawlDecontamN - 2}),
       |           i -> array_to_string(list_slice(tk, i, i + ${CrawlDecontamN - 1}), ' ')) END,
       |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647)) AS gs
       |  FROM ${p}toks),
       |${p}bgr AS (SELECT DISTINCT g FROM
       |    (SELECT doc_id, unnest(gs) AS g FROM ${p}dshs
       |     WHERE doc_id % $CrawlBenchMod = 0)),
       |${p}ctm AS (SELECT DISTINCT t.doc_id FROM
       |    (SELECT doc_id, unnest(gs) AS g FROM ${p}dshs
       |     WHERE doc_id % $CrawlBenchMod <> 0) t
       |  JOIN ${p}bgr USING (g)),
       |${p}dg AS (SELECT doc_id,
       |    CASE WHEN $emptyGuard THEN 'empty:' || doc_id
       |         ELSE md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) END
       |      AS digest
       |  FROM $src),
       |${p}keep AS (SELECT digest, MIN(doc_id) AS keep_id FROM ${p}dg GROUP BY 1),
       |${p}moji AS (SELECT doc_id,
       |    len(regexp_extract_all(text, '$MojibakePattern'))::BIGINT AS n_moji
       |  FROM $src)""".stripMargin
  }

  private lazy val crawlCtes: String = {
    s"""$crawlBaseCtes,
       |${gopherCtes("csrc")},
       |${crawlStageCtes("csrc", "c", "n_content = 0")},
       |fun2 AS (SELECT c.doc_id, c.lang, cn.canonical,
       |    COALESCE(w.a, TRUE) AS allowed, c.n_content, m.n_moji,
       |    (m.n_moji = 0) AS moji_clean,
       |    (g.r_words AND g.r_meanlen AND g.r_symbol AND g.r_bullet
       |     AND g.r_ellipsis AND g.r_alpha AND g.r_stop) AS gopher_pass,
       |    (c.doc_id = k.keep_id) AS is_canonical,
       |    (f.doc_id IS NOT NULL) AS fuzzy_dup,
       |    (c.doc_id % $CrawlBenchMod = 0) AS is_bench,
       |    (x.doc_id IS NOT NULL) AS contaminated,
       |    CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |    (COALESCE(w.a, TRUE) AND c.n_content > 0 AND m.n_moji = 0
       |     AND (g.r_words AND g.r_meanlen AND g.r_symbol AND g.r_bullet
       |          AND g.r_ellipsis AND g.r_alpha AND g.r_stop)
       |     AND c.doc_id = k.keep_id AND f.doc_id IS NULL
       |     AND c.doc_id % $CrawlBenchMod <> 0 AND x.doc_id IS NULL)
       |      AS survivor
       |  FROM csrc c
       |  JOIN canon cn USING (doc_id)
       |  LEFT JOIN rwin w USING (doc_id)
       |  JOIN gflags g USING (doc_id)
       |  JOIN cdg USING (doc_id)
       |  JOIN ckeep k USING (digest)
       |  JOIN cmoji m USING (doc_id)
       |  JOIN ctoks t USING (doc_id)
       |  LEFT JOIN cfz f USING (doc_id)
       |  LEFT JOIN cctm x USING (doc_id)),
       |bdg AS (SELECT doc_id,
       |    (COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
       |        ORDER BY hv, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |     < CASE WHEN lang = 'en' THEN $CrawlBudgetEn
       |            ELSE $CrawlBudgetDefault END) AS in_b
       |  FROM (SELECT doc_id, lang, n_tokens,
       |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
       |        FROM fun2 WHERE survivor)),
       |fun3 AS (SELECT f.*, COALESCE(b.in_b, FALSE) AS in_budget,
       |    (f.survivor AND COALESCE(b.in_b, FALSE)) AS selected
       |  FROM fun2 f LEFT JOIN bdg b USING (doc_id))""".stripMargin
  }

  /** The q232 oracle chain: the shared crawl prefix, the planted page
    * chrome + CCNet line strike, every funnel stage re-derived over the
    * STRUCK text via the shared stage generator, the q147 tier chain
    * over the survivors, and the head+middle-only budget — ending in
    * `fun3c(doc_id, lang, canonical, allowed, n_content, n_lines,
    * n_removed, n_moji, gopher_pass, is_canonical, fuzzy_dup, is_bench,
    * contaminated, n_tokens, nll, tier, survivor, in_budget,
    * selected)`. */
  private lazy val crawlCcnetCtes: String = {
    s"""$crawlBaseCtes,
       |plc AS (SELECT doc_id, lang, n_content,
       |    text || chr(10) || '$CrawlBannerCookie' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$CrawlBannerNews'
       |          ELSE '' END) ||
       |    chr(10) || '$CrawlNoticePrefix' || (doc_id // 4) AS pt
       |  FROM csrc),
       |clin AS (SELECT doc_id, CAST(i AS BIGINT) AS line_no, ls[i + 1] AS line,
       |           ('0x' || substr(md5(ls[i + 1]), 1, 15))::BIGINT AS h
       |         FROM (SELECT doc_id, string_split(pt, chr(10)) AS ls FROM plc),
       |              unnest(range(0, len(ls))) AS t(i)),
       |cldf AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM clin GROUP BY 1),
       |clmk AS (SELECT l.doc_id, l.line_no, l.line,
       |           (d.df > $CrawlLineMaxDf) AS hot
       |         FROM clin l JOIN cldf d USING (h)),
       |cstruck AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(COUNT(*) FILTER (WHERE hot) AS BIGINT) AS n_removed,
       |    COALESCE(string_agg(line, chr(10) ORDER BY line_no)
       |      FILTER (WHERE NOT hot), '') AS text
       |  FROM clmk GROUP BY doc_id),
       |ccsrc AS MATERIALIZED (SELECT s.doc_id, p.lang, p.n_content, s.n_lines,
       |          s.n_removed, s.text FROM cstruck s JOIN plc p USING (doc_id)),
       |${gopherCtes("ccsrc")},
       |${crawlStageCtes("ccsrc", "cc", "length(text) = 0")},
       |fun2c AS MATERIALIZED (SELECT c.doc_id, c.lang, cn.canonical,
       |    COALESCE(w.a, TRUE) AS allowed, c.n_content, c.n_lines,
       |    c.n_removed, m.n_moji, (m.n_moji = 0) AS moji_clean,
       |    (g.r_words AND g.r_meanlen AND g.r_symbol AND g.r_bullet
       |     AND g.r_ellipsis AND g.r_alpha AND g.r_stop) AS gopher_pass,
       |    (c.doc_id = k.keep_id) AS is_canonical,
       |    (f.doc_id IS NOT NULL) AS fuzzy_dup,
       |    (c.doc_id % $CrawlBenchMod = 0) AS is_bench,
       |    (x.doc_id IS NOT NULL) AS contaminated,
       |    CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |    (COALESCE(w.a, TRUE) AND length(c.text) > 0 AND m.n_moji = 0
       |     AND (g.r_words AND g.r_meanlen AND g.r_symbol AND g.r_bullet
       |          AND g.r_ellipsis AND g.r_alpha AND g.r_stop)
       |     AND c.doc_id = k.keep_id AND f.doc_id IS NULL
       |     AND c.doc_id % $CrawlBenchMod <> 0 AND x.doc_id IS NULL)
       |      AS survivor
       |  FROM ccsrc c
       |  JOIN canon cn USING (doc_id)
       |  LEFT JOIN rwin w USING (doc_id)
       |  JOIN gflags g USING (doc_id)
       |  JOIN ccdg USING (doc_id)
       |  JOIN cckeep k USING (digest)
       |  JOIN ccmoji m USING (doc_id)
       |  JOIN cctoks t USING (doc_id)
       |  LEFT JOIN ccfz f USING (doc_id)
       |  LEFT JOIN ccctm x USING (doc_id)),
       |ccsurv AS (SELECT s.doc_id, s.lang FROM ccsrc s
       |           JOIN fun2c f USING (doc_id) WHERE f.survivor),
       |cctok AS (SELECT doc_id, lang, unnest(tk) AS tok FROM
       |    (SELECT v.doc_id, v.lang, t.tk FROM ccsurv v
       |     JOIN cctoks t USING (doc_id))),
       |ccv AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM cctok GROUP BY 1, 2),
       |cctt AS (SELECT lang, SUM(cnt)::DOUBLE AS n_total FROM ccv GROUP BY 1),
       |ccsc AS (SELECT doc_id, lang,
       |       ROUND(SUM(-ln(cnt::DOUBLE / n_total)) / COUNT(*)::DOUBLE, 6)
       |         AS nll
       |       FROM cctok JOIN ccv USING (lang, tok) JOIN cctt USING (lang)
       |       GROUP BY 1, 2),
       |ccsamp AS (SELECT * FROM ccsc
       |         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
       |               % $CcnetSampleMod = 0),
       |ccvals AS (SELECT lang, nll, CAST(COUNT(*) AS BIGINT) AS nv
       |           FROM ccsamp GROUP BY 1, 2),
       |cccum AS (SELECT lang, nll,
       |        SUM(nv) OVER (PARTITION BY lang ORDER BY nll) AS cum
       |        FROM ccvals),
       |ccmm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS m_docs
       |         FROM ccsamp GROUP BY 1),
       |cccuts AS (SELECT lang,
       |         MIN(CASE WHEN cum * 3 >= m_docs THEN nll END) AS cut1,
       |         MIN(CASE WHEN cum * 3 >= m_docs * 2 THEN nll END) AS cut2
       |         FROM cccum JOIN ccmm USING (lang) GROUP BY 1),
       |cctiers AS (SELECT doc_id, nll,
       |  CASE WHEN cut1 IS NULL THEN 'unsampled'
       |       WHEN nll <= cut1 THEN 'head'
       |       WHEN nll <= cut2 THEN 'middle'
       |       ELSE 'tail' END AS tier
       |FROM ccsc LEFT JOIN cccuts USING (lang)),
       |ccbdg AS (SELECT doc_id,
       |    (COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
       |        ORDER BY hv, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |     < CASE WHEN lang = 'en' THEN $CrawlBudgetEn
       |            ELSE $CrawlBudgetDefault END) AS in_b
       |  FROM (SELECT f.doc_id, f.lang, f.n_tokens,
       |          ('0x' || substr(md5(f.doc_id::VARCHAR), 1, 15))::BIGINT AS hv
       |        FROM fun2c f JOIN cctiers USING (doc_id)
       |        WHERE f.survivor AND tier IN ('head', 'middle'))),
       |fun3c AS (SELECT f.*, t.nll, t.tier,
       |    COALESCE(b.in_b, FALSE) AS in_budget,
       |    (f.survivor AND COALESCE(t.tier IN ('head', 'middle'), FALSE)
       |       AND COALESCE(b.in_b, FALSE)) AS selected
       |  FROM fun2c f
       |  LEFT JOIN cctiers t USING (doc_id)
       |  LEFT JOIN ccbdg b USING (doc_id))""".stripMargin
  }

  /** The q148 oracle: the same merge-chain CTEs, aggregated per language
    * (fertility = pieces per word, compression = chars per piece). */
  private lazy val tokenizerEvalOracleSql: String = {
    val chain = bpeOracleSql
    val prefix = chain.substring(0, chain.lastIndexOf("SELECT CAST(1 AS BIGINT)"))
    s"""${prefix.trim},
       |dw AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE word <> '' AND length(word) BETWEEN 1 AND $BpeMaxWordLen)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(len(toks)) AS BIGINT) AS n_subwords,
       |       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |       ROUND(SUM(len(toks))::DOUBLE / COUNT(*)::DOUBLE, 6) AS fertility,
       |       ROUND(SUM(length(word))::DOUBLE / SUM(len(toks))::DOUBLE, 6)
       |         AS chars_per_piece
       |FROM dw JOIN documents USING (doc_id) JOIN w$BpeMerges USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The q153 oracle base: the regex pre-token table with byte-fallback
    * symbol seeding, replayed in RE2/DuckDB. The pattern is shared
    * verbatim with the engine (it is lookahead-free for exactly this
    * reason); byte fallback re-derives `<0xNN>` symbols from
    * hex(encode(char)) just like the Column plan. */
  private lazy val preTokW0Sql: String = {
    val pat = graft.operators.Bpe.PreTokenPattern.replace("'", "''")
    s"""w0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |         flatten(list_transform(range(1, length(word) + 1), i ->
       |           CASE WHEN unicode(word[i]) BETWEEN 0 AND 127 THEN [word[i]]
       |                ELSE list_transform(range(0, octet_length(encode(word[i]))),
       |                       b -> '<0x' || substr(hex(encode(word[i])),
       |                              (2 * b + 1)::INT, 2) || '>') END)) AS toks
       |  FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS word
       |        FROM documents)
       |  WHERE word <> '' AND length(word) BETWEEN 1 AND $PreTokMaxLen
       |  GROUP BY word)""".stripMargin
  }

  private lazy val preTokOracleSql: String = bpeChainSql(preTokW0Sql, BpeMerges)

  /** The q155 oracle: the pre-token merge chain, then the per-language
    * fertility/compression report over the pre-token doc stream (the
    * q148 shape under the production tokenizer face). */
  private lazy val preTokEvalOracleSql: String = {
    val chain = preTokOracleSql
    val prefix = chain.substring(0, chain.lastIndexOf("SELECT CAST(1 AS BIGINT)"))
    val pat = graft.operators.Bpe.PreTokenPattern.replace("'", "''")
    s"""${prefix.trim},
       |dw AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS word
       |    FROM documents)
       |  WHERE word <> '' AND length(word) BETWEEN 1 AND $PreTokMaxLen)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(len(toks)) AS BIGINT) AS n_subwords,
       |       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       |       ROUND(SUM(len(toks))::DOUBLE / COUNT(*)::DOUBLE, 6) AS fertility,
       |       ROUND(SUM(length(word))::DOUBLE / SUM(len(toks))::DOUBLE, 6)
       |         AS chars_per_piece
       |FROM dw JOIN documents USING (doc_id) JOIN w$BpeMerges USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The q156/q157 shared robots CTE chain: planted bodies, the parse,
    * the star-group rules, the frontier, and the per-url winner struct. */
  private lazy val robotsOracleCtes: String =
    """hosts AS (SELECT DISTINCT (doc_id % 4) AS h,
      |  'site' || (doc_id % 4) || '.example.com' AS host FROM documents),
      |bodies AS (SELECT host,
      |  'User-agent: fancybot' || chr(10) || 'Disallow: /' || chr(10) || chr(10) ||
      |  'User-agent: extra' || chr(10) || 'User-agent: *' || chr(10) ||
      |  'Disallow: /private' || h || chr(10) ||
      |  'Allow: /private' || h || '/ok' || chr(10) ||
      |  'Allow: /tie' || chr(10) || 'Disallow: /tie' || chr(10) ||
      |  'Disallow:' || chr(10) || '# note' || chr(10) || 'Sitemap: https://x'
      |    AS body FROM hosts),
      |lns AS (SELECT host, p.i AS lineno, p.raw FROM (
      |  SELECT host, unnest(list_transform(
      |    range(1, len(string_split(body, chr(10))) + 1),
      |    i -> {'i': i, 'raw': string_split(body, chr(10))[i]})) AS p
      |  FROM bodies)),
      |fl AS (SELECT host, lineno,
      |         lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS field,
      |         trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS value
      |       FROM (SELECT host, lineno,
      |               trim(regexp_replace(raw, '#.*$', '')) AS line FROM lns)
      |       WHERE line <> ''),
      |g0 AS (SELECT *, lag(field) OVER (PARTITION BY host ORDER BY lineno) AS pf
      |       FROM fl),
      |g1 AS (SELECT *, CASE WHEN field = 'user-agent'
      |         AND (pf IS NULL OR pf <> 'user-agent') THEN lineno END AS gs
      |       FROM g0),
      |g2 AS (SELECT *, last_value(gs IGNORE NULLS) OVER (PARTITION BY host
      |         ORDER BY lineno ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS grp FROM g1),
      |star AS (SELECT DISTINCT host, grp FROM g2
      |         WHERE field = 'user-agent' AND value = '*'),
      |rules AS (SELECT g2.host, (field = 'allow') AS allow, value AS path
      |          FROM g2 JOIN star USING (host, grp)
      |          WHERE field IN ('allow', 'disallow') AND value <> ''),
      |fr AS (SELECT 'https://' || host || path AS url, host, path FROM (
      |  SELECT 'site' || (doc_id % 4) || '.example.com' AS host,
      |    CASE WHEN doc_id % 5 = 0 THEN '/tie/x'
      |         WHEN doc_id % 3 = 0 THEN '/private' || (doc_id % 4) || '/ok/page'
      |         WHEN doc_id % 3 = 1 THEN '/private' || (doc_id % 4) || '/secret'
      |         ELSE '/public/page' END AS path
      |  FROM documents)),
      |m AS (SELECT f.url, f.host, f.path, r.allow, r.path AS rp
      |      FROM fr f LEFT JOIN rules r
      |        ON r.host = f.host AND starts_with(f.path, r.path)),
      |win AS (SELECT url, host, path,
      |          min(CASE WHEN rp IS NOT NULL
      |              THEN {'neglen': -len(rp), 'dis': NOT allow, 'p': rp} END) AS w
      |        FROM m GROUP BY 1, 2, 3)""".stripMargin

  /** The q146 oracle: the same merge-chain CTEs, then dense piece ids,
    * per-word id arrays, per-doc flattened sequences, and the per-lang
    * running-sum slicing into fixed training sequences. */
  private lazy val packIdsOracleSql: String = {
    val chain = bpeOracleSql
    val prefix = chain.substring(0, chain.lastIndexOf("SELECT CAST(1 AS BIGINT)"))
    val S = PackSeqLen
    s"""${prefix.trim},
       |pieces AS (SELECT DISTINCT unnest(toks) AS piece FROM w$BpeMerges),
       |pid AS (SELECT piece,
       |          CAST(ROW_NUMBER() OVER (ORDER BY piece) - 1 AS BIGINT) AS piece_id
       |        FROM pieces),
       |wexp AS (SELECT word, p.i AS i, p.tok AS tok FROM (
       |    SELECT word, unnest(list_transform(range(1, len(toks) + 1),
       |             i -> {'i': i, 'tok': toks[i]})) AS p FROM w$BpeMerges)),
       |wids AS (SELECT word, list(piece_id ORDER BY i) AS wids
       |         FROM wexp JOIN pid ON tok = piece GROUP BY word),
       |dw AS (SELECT doc_id, p.i AS wp, p.w AS word FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |             i -> {'i': i, 'w': ws[i]})) AS p
       |    FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS ws
       |          FROM documents))
       |  WHERE p.w <> '' AND length(p.w) BETWEEN 1 AND $BpeMaxWordLen),
       |dseq AS (SELECT doc_id, flatten(list(wids ORDER BY wp)) AS ids
       |         FROM dw JOIN wids USING (word) GROUP BY doc_id),
       |dl AS (SELECT d.doc_id, doc.lang,
       |         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
       |              % $PackShards AS BIGINT) AS shard,
       |         d.ids, CAST(len(d.ids) AS BIGINT) AS n
       |       FROM dseq d JOIN documents doc USING (doc_id) WHERE len(d.ids) > 0),
       |cum AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |        FROM dl),
       |spans AS (SELECT lang, shard, cb, n, ids,
       |            unnest(range(cb // $S, (cb + n - 1) // $S + 1)) AS pack_id FROM cum),
       |sl AS (SELECT lang, shard, pack_id, cb,
       |         list_slice(ids, (greatest(pack_id * $S, cb) - cb + 1)::INT,
       |                    (least((pack_id + 1) * $S, cb + n) - cb)::INT) AS piece
       |       FROM spans),
       |packs AS (SELECT lang, shard, pack_id, flatten(list(piece ORDER BY cb)) AS seq
       |          FROM sl GROUP BY 1, 2, 3)
       |SELECT lang, shard, CAST(pack_id AS BIGINT) AS pack_id,
       |       CAST(len(seq) AS BIGINT) AS n_tokens,
       |       array_to_string(list_transform(seq, x -> x::VARCHAR), ' ') AS ids
       |FROM packs ORDER BY lang, shard, pack_id""".stripMargin
  }

  /** Unigram-LM oracle scaffolding (q139/q140): the seed CTEs, one
    * recursive Viterbi-DP + backtrack-walk + re-estimate block per EM
    * round, and the prune block — chained exactly like the engine's
    * driver-state rounds. */
  private lazy val uniBaseCtes: String =
    s"""words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word FROM documents)
       |  WHERE len(word) BETWEEN 1 AND $BpeMaxWordLen GROUP BY 1),
       |sub0 AS (SELECT word, freq, unnest(range(0, len(word))) AS i FROM words),
       |sub1 AS (SELECT word, freq, i, unnest(range(1, ${UniMaxPiece + 1})) AS l FROM sub0),
       |occ AS (SELECT substr(word, (i + 1)::INT, l::INT) AS piece, freq
       |        FROM sub1 WHERE i + l <= len(word)),
       |seedc AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM occ GROUP BY 1),
       |multi AS (SELECT piece, cnt FROM (
       |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM seedc WHERE len(piece) > 1) WHERE rn <= $UniSeed),
       |v0c AS (SELECT piece, cnt FROM seedc WHERE len(piece) = 1
       |        UNION ALL SELECT piece, cnt FROM multi),
       |v0 AS (SELECT piece, ROUND(ln((cnt + 1.0) /
       |         ((SELECT CAST(SUM(cnt) AS DOUBLE) FROM v0c) + (SELECT COUNT(*) FROM v0c))), 9) AS logp
       |       FROM v0c)""".stripMargin

  private def uniRoundCtes(r: Int, prev: String): String =
    s"""m$r AS MATERIALIZED (SELECT MAP(list(piece ORDER BY piece), list(logp ORDER BY piece)) AS mp FROM $prev),
       |dp$r AS (
       |  SELECT word, freq, 0 AS i, [0.0]::DOUBLE[] AS dp, [0]::BIGINT[] AS bp FROM words
       |  UNION ALL
       |  SELECT word, freq, i, list_append(dp, s),
       |         list_append(bp, jmin + list_position(cands, s) - 1)
       |  FROM (SELECT *, list_aggregate(cands, 'max') AS s FROM (
       |    SELECT d.word, d.freq, d.i + 1 AS i, d.dp, d.bp,
       |      greatest(d.i + 1 - $UniMaxPiece, 0) AS jmin,
       |      list_transform(range(greatest(d.i + 1 - $UniMaxPiece, 0), d.i + 1),
       |        j -> d.dp[j + 1] + coalesce(
       |          m.mp[substr(d.word, j::INT + 1, d.i + 1 - j::INT)][1], -1e9)) AS cands
       |    FROM dp$r d, m$r m WHERE d.i < len(d.word)))),
       |walk$r AS (
       |  SELECT word, freq, CAST(len(word) AS BIGINT) AS pos, []::VARCHAR[] AS pieces, bp
       |  FROM dp$r WHERE i = len(word)
       |  UNION ALL
       |  SELECT word, freq, bp[pos + 1] AS pos,
       |    list_prepend(substr(word, (bp[pos + 1] + 1)::INT, (pos - bp[pos + 1])::INT), pieces), bp
       |  FROM walk$r WHERE pos > 0),
       |seg$r AS (SELECT word, freq, unnest(pieces) AS piece FROM walk$r WHERE pos = 0),
       |c$r AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM seg$r GROUP BY 1),
       |k$r AS MATERIALIZED (SELECT v.piece, COALESCE(c.cnt, 0) AS cnt
       |         FROM $prev v LEFT JOIN c$r c USING (piece)
       |         WHERE COALESCE(c.cnt, 0) > 0 OR len(v.piece) = 1),
       |v$r AS MATERIALIZED (SELECT piece, cnt, ROUND(ln((cnt + 1.0) /
       |           ((SELECT CAST(SUM(cnt) AS DOUBLE) FROM k$r) + (SELECT COUNT(*) FROM k$r))), 9) AS logp
       |         FROM k$r)""".stripMargin

  private lazy val uniPruneCtes: String =
    s"""mk AS MATERIALIZED (SELECT piece, cnt FROM (
       |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM k$UniRounds WHERE len(piece) > 1)
       |  WHERE rn <= $UniTarget - (SELECT COUNT(*) FROM k$UniRounds WHERE len(piece) = 1)),
       |fk AS MATERIALIZED (SELECT piece, cnt FROM k$UniRounds WHERE len(piece) = 1
       |       UNION ALL SELECT piece, cnt FROM mk),
       |v${UniRounds + 1} AS (SELECT piece, cnt, ROUND(ln((cnt + 1.0) /
       |         ((SELECT CAST(SUM(cnt) AS DOUBLE) FROM fk) + (SELECT COUNT(*) FROM fk))), 9) AS logp
       |       FROM fk)""".stripMargin

  private lazy val uniChainCtes: String =
    (uniBaseCtes +: (1 to UniRounds).map(r => uniRoundCtes(r, s"v${r - 1}")) :+ uniPruneCtes)
      .mkString(",\n")

  private lazy val uniEmOracleSql: String = {
    val union = (1 to UniRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, piece, cnt, logp FROM v$r") :+
      s"SELECT CAST(${UniRounds + 1} AS BIGINT), piece, cnt, logp FROM v${UniRounds + 1}"
    s"""WITH RECURSIVE $uniChainCtes
       |SELECT round, piece, cnt, logp FROM (
       |${union.mkString("\nUNION ALL\n")})
       |ORDER BY round, piece""".stripMargin
  }

  private lazy val uniEncodeOracleSql: String = {
    val enc = UniRounds + 2 // one more Viterbi pass under the final vocab
    s"""WITH RECURSIVE $uniChainCtes,
       |${uniRoundCtes(enc, s"v${UniRounds + 1}")},
       |encl AS (SELECT word, CAST(len(pieces) AS BIGINT) AS n_sub
       |         FROM walk$enc WHERE pos = 0),
       |docw AS (SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE len(word) BETWEEN 1 AND $BpeMaxWordLen)
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(e.n_sub) AS BIGINT) AS n_pieces
       |FROM docw d JOIN encl e USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** q164: the SAME training chain, then GREEDY longest-match under the
    * final vocabulary — per (word, pos) the longest matching piece is a
    * relational MAX over vocab-joined substrings; the cursor walk is a
    * recursive jump-follow. (Every single char is in the vocab by
    * construction, so the oracle never dead-ends into [UNK].) */
  private lazy val wordPieceOracleSql: String =
    s"""WITH RECURSIVE $uniChainCtes,
       |gc AS (SELECT w.word, p.pos, l.l
       |       FROM words w,
       |            unnest(range(0, length(w.word))) AS p(pos),
       |            unnest(range(1, ${UniMaxPiece + 1})) AS l(l)
       |       WHERE p.pos + l.l <= length(w.word)
       |         AND substr(w.word, (p.pos + 1)::INT, l.l::INT)
       |             IN (SELECT piece FROM v${UniRounds + 1})),
       |mt AS (SELECT word, pos, MAX(l) AS lbest FROM gc GROUP BY 1, 2),
       |gwalk AS (
       |  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np
       |  FROM words
       |  UNION ALL
       |  SELECT g.word, g.pos + m.lbest, g.np + 1
       |  FROM gwalk g JOIN mt m ON g.word = m.word AND g.pos = m.pos
       |  WHERE g.pos < length(g.word)),
       |encl AS (SELECT word, np AS n_sub FROM gwalk WHERE pos = length(word)),
       |docw AS (SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
       |    FROM documents)
       |  WHERE len(word) BETWEEN 1 AND $BpeMaxWordLen)
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(e.n_sub) AS BIGINT) AS n_pieces
       |FROM docw d JOIN encl e USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** DoReMi oracle: one CTE block per multiplicative-weights round —
    * mixture constant, closed-form p_α over observed pairs, 1e-6-rounded
    * losses, clipped excess, renormalized 1e-9-rounded weights. */
  private lazy val doremiOracleSql: String = {
    val rounds = (1 to DoremiRounds).map { r =>
      s"""ca$r AS MATERIALIZED (SELECT SUM(w.w / (n.n + vv.v)::DOUBLE) AS c
         |         FROM w${r - 1} w JOIN nd n USING (source) CROSS JOIN vv),
         |pa$r AS MATERIALIZED (SELECT d.tok,
         |           SUM(w.w * d.cnt::DOUBLE / (n.n + vv.v)::DOUBLE)
         |             + (SELECT c FROM ca$r) AS p
         |         FROM dt d JOIN nd n USING (source)
         |         JOIN w${r - 1} w USING (source) CROSS JOIN vv
         |         GROUP BY d.tok),
         |l$r AS MATERIALIZED (SELECT d.source,
         |          ROUND(SUM((d.cnt::DOUBLE / n.n::DOUBLE) * -ln(p.p)), 6) AS l
         |        FROM dt d JOIN pa$r p USING (tok) JOIN nd n USING (source)
         |        GROUP BY 1),
         |e$r AS MATERIALIZED (SELECT l.source, GREATEST(l.l - s.lstar, 0) AS ex
         |        FROM l$r l JOIN ls s USING (source)),
         |u$r AS MATERIALIZED (SELECT e.source, e.ex, w.w * (1 + $DoremiEta * e.ex) AS wu
         |        FROM e$r e JOIN w${r - 1} w USING (source)),
         |w$r AS MATERIALIZED (SELECT source, ex,
         |          ROUND(wu / (SELECT SUM(wu) FROM u$r), 9) AS w FROM u$r)""".stripMargin
    }
    val union = (1 to DoremiRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, source, ex AS excess, w AS weight FROM w$r")
    s"""WITH tks AS (SELECT source,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |  FROM documents),
       |dt AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT source, unnest(tk) AS tok FROM tks) GROUP BY 1, 2),
       |nd AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM dt GROUP BY 1),
       |vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM dt),
       |ls AS (SELECT d.source, ROUND(SUM((d.cnt::DOUBLE / n.n::DOUBLE)
       |           * -ln((d.cnt + 1.0) / (n.n + vv.v)::DOUBLE)), 6) AS lstar
       |       FROM dt d JOIN nd n USING (source) CROSS JOIN vv GROUP BY 1),
       |w0 AS (SELECT source, ROUND(1.0 / (SELECT COUNT(*) FROM nd), 9) AS w FROM nd),
       |${rounds.mkString(",\n")}
       |SELECT round, source, excess, weight FROM (
       |${union.mkString("\nUNION ALL\n")})
       |ORDER BY round, source""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q116_bpe_merges" -> bpeOracleSql,

    "q139_unigram_em" -> uniEmOracleSql,

    "q140_unigram_encode" -> uniEncodeOracleSql,

    "q164_wordpiece_encode" -> wordPieceOracleSql,

    "q141_doremi_mix" -> doremiOracleSql,

    // Stupid-Backoff replay: train counts on the % 5 ≠ 0 partition, lag
    // windows build transitions, and the three-branch CASE scores the
    // held-out docs with identical IEEE association to the engine.
    "q145_trigram_backoff" ->
      s"""WITH tdoc AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
         |  FROM documents WHERE doc_id % 5 <> 0),
         |tts AS (SELECT doc_id, p.pos AS pos, p.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |             i -> {'pos': i, 'tok': tk[i]})) AS p FROM tdoc)),
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM tts GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_total,
         |               CAST(COUNT(*) AS DOUBLE) AS v_size FROM uni),
         |lagt AS (SELECT doc_id, pos, tok,
         |    lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
         |    lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2 FROM tts),
         |bi AS (SELECT p1, tok, CAST(COUNT(*) AS BIGINT) AS c2
         |       FROM lagt WHERE p1 IS NOT NULL GROUP BY 1, 2),
         |tri AS (SELECT p2, p1, tok, CAST(COUNT(*) AS BIGINT) AS c3
         |        FROM lagt WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
         |sdoc AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
         |  FROM documents WHERE doc_id % 5 = 0),
         |sts AS (SELECT doc_id, p.pos AS pos, p.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |             i -> {'pos': i, 'tok': tk[i]})) AS p FROM sdoc)),
         |sc AS (SELECT * FROM (SELECT doc_id, pos, tok,
         |    lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
         |    lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2 FROM sts)
         |  WHERE p2 IS NOT NULL),
         |j AS (SELECT s.doc_id, t.c3, b.c2, cb.c2 AS cctx, u1.c1 AS c1p1, u.c1 AS c1
         |      FROM sc s
         |      LEFT JOIN tri t ON s.p2 = t.p2 AND s.p1 = t.p1 AND s.tok = t.tok
         |      LEFT JOIN bi b ON s.p1 = b.p1 AND s.tok = b.tok
         |      LEFT JOIN bi cb ON s.p2 = cb.p1 AND s.p1 = cb.tok
         |      LEFT JOIN uni u1 ON s.p1 = u1.tok
         |      LEFT JOIN uni u ON s.tok = u.tok),
         |p AS (SELECT doc_id,
         |    CASE WHEN c3 IS NOT NULL THEN c3::DOUBLE / cctx::DOUBLE
         |         WHEN c2 IS NOT NULL THEN $BackoffAlpha * c2::DOUBLE / c1p1::DOUBLE
         |         ELSE $BackoffAlpha * $BackoffAlpha *
         |              ((COALESCE(c1, 0) + 1.0) / (tot.n_total + tot.v_size + 1.0))
         |    END AS s
         |  FROM j CROSS JOIN tot)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |       ROUND(SUM(-ln(s)) / COUNT(*), 6) AS nll
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    // jusText-lite replay: identical planted page, scaffold strip, block
    // split, per-block tag-strip/entity-decode/densities, rule
    // classification, and the newline-joined content — all in SQL.
    "q144_html_extract" ->
      s"""WITH $htmlCtes
         |SELECT doc_id, n_blocks, n_content, content
         |FROM extracted ORDER BY doc_id""".stripMargin,

    "q142_gopher_rules" ->
      s"""WITH ${gopherCtes("documents")}
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
         |  r_words, r_meanlen, r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop,
         |  (r_words AND r_meanlen AND r_symbol AND r_bullet AND r_ellipsis
         |   AND r_alpha AND r_stop) AS pass
         |FROM gflags ORDER BY doc_id""".stripMargin,

    "q149_pipeline_funnel" ->
      s"""WITH $htmlCtes,
         |fsrc AS (SELECT doc_id, n_content, content AS text FROM extracted),
         |${gopherCtes("fsrc")},
         |gp AS (SELECT doc_id,
         |         (r_words AND r_meanlen AND r_symbol AND r_bullet
         |          AND r_ellipsis AND r_alpha AND r_stop) AS gopher_pass
         |       FROM gflags),
         |dg AS (SELECT doc_id,
         |         CASE WHEN n_content = 0 THEN 'empty:' || doc_id
         |              ELSE md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |         END AS digest
         |       FROM fsrc),
         |keep AS (SELECT digest, MIN(doc_id) AS keep_id FROM dg GROUP BY 1)
         |SELECT f.doc_id, f.n_content, gp.gopher_pass,
         |  (f.doc_id = keep.keep_id) AS is_canonical,
         |  (f.n_content > 0 AND gp.gopher_pass AND f.doc_id = keep.keep_id)
         |    AS selected
         |FROM fsrc f
         |JOIN gp USING (doc_id) JOIN dg USING (doc_id) JOIN keep USING (digest)
         |ORDER BY f.doc_id""".stripMargin,

    "q132_source_kl" ->
      s"""WITH tks AS (SELECT source,
         |  CASE WHEN length(trim(text)) = 0 THEN []
         |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
         |  FROM documents),
         |toks AS (SELECT source, unnest(tk) AS tok FROM tks),
         |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
         |ct AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM v),
         |lnq AS (SELECT tok, ln((c + 1)::DOUBLE / (n + v)::DOUBLE) AS lnq
         |        FROM v CROSS JOIN ct),
         |g AS (SELECT SUM(lnq) AS g FROM lnq),
         |st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cs
         |       FROM toks GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS n_toks
         |       FROM st GROUP BY 1),
         |obs AS (SELECT st.source, ns.n_toks, ct.v, COUNT(*) AS n_vocab,
         |          SUM(((cs + 1)::DOUBLE / (n_toks + v)::DOUBLE)
         |              * (ln((cs + 1)::DOUBLE / (n_toks + v)::DOUBLE) - lnq))
         |            AS obs_kl,
         |          SUM(lnq) AS g_s
         |        FROM st JOIN lnq USING (tok) JOIN ns USING (source)
         |        CROSS JOIN ct
         |        GROUP BY 1, 2, 3)
         |SELECT source, n_toks, n_vocab,
         |  ROUND(obs_kl + (1.0 / (n_toks + v))
         |        * ((v - n_vocab) * ln(1.0 / (n_toks + v)) - (g.g - g_s)), 6)
         |    AS kl
         |FROM obs CROSS JOIN g ORDER BY source""".stripMargin,

    "q127_dsir_weights" ->
      s"""WITH $DsirCtes
         |SELECT doc_id, n_feats, logw FROM dw ORDER BY doc_id""".stripMargin,

    "q134_dsir_sample" ->
      s"""WITH $DsirCtes,
         |keyed AS (SELECT doc_id, logw,
         |  ROUND(ln((((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |              % 2147483647) * 35 + 18000054) % 2147483647 + 1.0)
         |           / 2147483648.0)
         |        / exp(GREATEST(-20.0, LEAST(20.0, logw))), 6) AS key
         |  FROM dw)
         |SELECT doc_id, logw, key FROM keyed
         |ORDER BY key DESC, doc_id LIMIT $DsirSampleN""".stripMargin,

    "q126_bpe_encode" -> bpeEncodeOracleSql,

    "q148_tokenizer_eval" -> tokenizerEvalOracleSql,

    "q154_langid_trained" -> {
      val B = LangIdBuckets
      s"""WITH tr AS (SELECT * FROM documents
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 <> 0),
         |ev AS (SELECT * FROM documents
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 = 0),
         |g AS (SELECT lang,
         |        ('0x' || substr(md5(substr(lower(text), i::INT, $LangIdN)), 1, 15))::BIGINT
         |          % $B AS bucket
         |      FROM tr, unnest(range(1, length(lower(text)) - ${LangIdN - 2})) AS u(i)
         |      WHERE length(lower(text)) >= $LangIdN),
         |mc AS (SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot FROM mc GROUP BY 1),
         |bt AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS bcnt FROM mc GROUP BY 1),
         |gt AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS gt FROM mc),
         |sel AS (SELECT bucket FROM (
         |    SELECT bucket, ROUND(2.0 * SUM(cnt *
         |             ln(cnt / (CAST(tot AS DOUBLE) * bcnt / gt))), 6) AS g2
         |    FROM mc JOIN tot USING (lang) JOIN bt USING (bucket), gt
         |    GROUP BY bucket)
         |  WHERE g2 >= $LangIdMinG2),
         |model AS (SELECT lang, bucket, ln((cnt + 1.0) / (tot + $B.0)) AS lp
         |          FROM mc JOIN sel USING (bucket) JOIN tot USING (lang)),
         |lt AS (SELECT lang, COUNT(*)::DOUBLE AS nd,
         |         SUM(greatest(length(lower(text)) - ${LangIdN - 1}, 0))::DOUBLE AS tot
         |       FROM tr GROUP BY 1),
         |lt2 AS (SELECT lang, ln(nd / (SELECT SUM(nd) FROM lt)) AS prior_lp,
         |          ln(1.0 / (tot + $B.0)) AS miss_lp FROM lt),
         |evg AS (SELECT doc_id,
         |          ('0x' || substr(md5(substr(lower(text), i::INT, $LangIdN)), 1, 15))::BIGINT
         |            % $B AS bucket
         |        FROM ev, unnest(range(1, length(lower(text)) - ${LangIdN - 2})) AS u(i)
         |        WHERE length(lower(text)) >= $LangIdN),
         |db AS (SELECT doc_id, bucket, COUNT(*)::DOUBLE AS c FROM evg
         |       JOIN sel USING (bucket) GROUP BY 1, 2),
         |evd AS (SELECT d.doc_id, l.lang,
         |          SUM(d.c * COALESCE(m.lp, l.miss_lp)) AS ev
         |        FROM db d CROSS JOIN lt2 l
         |        LEFT JOIN model m ON m.lang = l.lang AND m.bucket = d.bucket
         |        GROUP BY 1, 2),
         |sc AS (SELECT e.doc_id, length(lower(e.text)) AS len, l.lang,
         |         l.prior_lp + COALESCE(v.ev, 0.0) AS score
         |       FROM ev e CROSS JOIN lt2 l
         |       LEFT JOIN evd v ON v.doc_id = e.doc_id AND v.lang = l.lang),
         |pred AS (SELECT doc_id, len, lang AS predicted,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id
         |                              ORDER BY score DESC, lang) AS rn FROM sc),
         |ap AS (SELECT e.lang AS truth,
         |         CASE WHEN p.len >= $LangIdN THEN p.predicted ELSE 'und' END AS predicted
         |       FROM ev e JOIN (SELECT doc_id, len, predicted FROM pred WHERE rn = 1) p
         |         USING (doc_id))
         |SELECT truth, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM ap GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q159_length_batches" ->
      s"""WITH $ToksCte,
         |starts AS (SELECT doc_id, tk, unnest(range(0, GREATEST(len(tk), 1), 48)) AS start
         |           FROM toks),
         |chunks AS (SELECT doc_id || ':' || (start // 48) AS chunk_key,
         |             CAST(LEAST(64, len(tk) - start) AS BIGINT) AS n_tokens
         |           FROM starts WHERE start < len(tk)),
         |bk AS (SELECT chunk_key, n_tokens,
         |         CASE WHEN n_tokens <= 16 THEN 16
         |              WHEN n_tokens <= 32 THEN 32
         |              ELSE 64 END AS bucket_upper
         |       FROM chunks WHERE n_tokens > 0 AND n_tokens <= 64),
         |asg AS (SELECT bucket_upper, n_tokens,
         |          CAST((ROW_NUMBER() OVER (PARTITION BY bucket_upper
         |                 ORDER BY n_tokens, chunk_key) - 1)
         |               // GREATEST(512 // bucket_upper, 1) AS BIGINT) AS batch_id,
         |          bucket_upper - n_tokens AS pad
         |        FROM bk)
         |SELECT CAST(bucket_upper AS INT) AS bucket_upper, batch_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(pad) AS BIGINT) AS sum_pad,
         |  ROUND(SUM(n_tokens)::DOUBLE / (SUM(n_tokens) + SUM(pad))::DOUBLE, 6)
         |    AS efficiency
         |FROM asg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q156_robots_gate" ->
      s"""WITH $robotsOracleCtes
        |SELECT url, host, path, COALESCE(NOT w.dis, TRUE) AS allowed
        |FROM win ORDER BY url""".stripMargin,

    "q157_frontier_schedule" ->
      s"""WITH $robotsOracleCtes,
        |gated AS (SELECT url, host,
        |    ('0x' || substr(md5(url), 1, 15))::BIGINT % 100 AS priority
        |  FROM win WHERE COALESCE(NOT w.dis, TRUE)),
        |sched AS (SELECT url, host, priority,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host
        |      ORDER BY priority DESC, url) - 1 AS BIGINT) AS slot
        |  FROM gated)
        |SELECT url, host, priority, slot, slot * 500 AS fetch_at_ms
        |FROM sched WHERE slot < 3 ORDER BY host, slot""".stripMargin,

    // Incremental-schedule replay: the fold law IS the gate — one-shot
    // rank within host over (arrival epoch, priority DESC, url), capped.
    "q236_frontier_sched_delta" ->
      s"""WITH u AS (SELECT doc_id,
        |    'site' || (doc_id % 4) || '.example.com' AS host,
        |    'https://site' || (doc_id % 4) || '.example.com/p' || doc_id AS url,
        |    doc_id % 3 AS epoch
        |  FROM documents),
        |p AS (SELECT url, host, epoch,
        |    ('0x' || substr(md5(url), 1, 15))::BIGINT % 100 AS priority
        |  FROM u),
        |r AS (SELECT url, host, priority, CAST(epoch AS BIGINT) AS epoch,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host
        |      ORDER BY epoch, priority DESC, url) - 1 AS BIGINT) AS slot
        |  FROM p)
        |SELECT url, host, priority, epoch, slot,
        |  slot * $SchedDelayMs AS fetch_at_ms
        |FROM r WHERE slot < $SchedMaxPerHost ORDER BY host, slot""".stripMargin,

    "q153_bpe_pretok" -> preTokOracleSql,

    "q155_pretok_eval" -> preTokEvalOracleSql,

    "q146_pack_token_ids" -> packIdsOracleSql,

    // Shard-sink replay: hashed ids + the q146 packing recurrence — the
    // round-tripped binary bytes must reconstruct these exact rows.
    // Provenance replay: the q187 cumulative-offset chain, but packs
    // aggregate the SPAN list (doc, pack-local start, len) instead of
    // the ids — n_tokens recomputed from span lengths.
    "q218_pack_spans" ->
      s"""WITH $ToksCte,
         |dl AS (SELECT doc_id, lang,
         |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |           % $PackShards AS shard,
         |         CAST(len(tk) AS BIGINT) AS n
         |       FROM toks WHERE len(tk) > 0),
         |cum AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |        FROM dl),
         |sp AS (SELECT lang, shard, doc_id, cb, n,
         |         unnest(range(cb // $PackSeqLen, (cb + n - 1) // $PackSeqLen + 1)) AS pack_id
         |       FROM cum),
         |sl AS (SELECT lang, shard, pack_id, cb, doc_id,
         |         greatest(pack_id * $PackSeqLen, cb) AS lo,
         |         least((pack_id + 1) * $PackSeqLen, cb + n) AS hi
         |       FROM sp),
         |packs AS (SELECT lang, shard, pack_id,
         |            CAST(SUM(hi - lo) AS BIGINT) AS n_tokens,
         |            array_to_string(list(doc_id || ':' || (lo - pack_id * $PackSeqLen)
         |              || ':' || (hi - lo) ORDER BY cb), ' ') AS spans
         |          FROM sl GROUP BY 1, 2, 3)
         |SELECT lang, CAST(shard AS BIGINT) AS shard,
         |       CAST(pack_id AS BIGINT) AS pack_id, n_tokens, spans
         |FROM packs ORDER BY lang, shard, pack_id""".stripMargin,

    "q187_token_shards" ->
      s"""WITH $ToksCte,
         |dl AS (SELECT doc_id, lang,
         |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |           % $PackShards AS shard,
         |         list_transform(tk,
         |           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $ShardVocabMod) AS ids,
         |         CAST(len(tk) AS BIGINT) AS n
         |       FROM toks WHERE len(tk) > 0),
         |cum AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |        FROM dl),
         |spans AS (SELECT lang, shard, cb, n, ids,
         |            unnest(range(cb // $PackSeqLen, (cb + n - 1) // $PackSeqLen + 1)) AS pack_id
         |          FROM cum),
         |sl AS (SELECT lang, shard, pack_id, cb,
         |         list_slice(ids, (greatest(pack_id * $PackSeqLen, cb) - cb + 1)::INT,
         |                    (least((pack_id + 1) * $PackSeqLen, cb + n) - cb)::INT) AS piece
         |       FROM spans),
         |packs AS (SELECT lang, shard, pack_id, flatten(list(piece ORDER BY cb)) AS seq
         |          FROM sl GROUP BY 1, 2, 3)
         |SELECT lang, shard, CAST(pack_id AS BIGINT) AS pack_id,
         |       CAST(len(seq) AS BIGINT) AS n_tokens,
         |       array_to_string(list_transform(seq, x -> x::VARCHAR), ' ') AS ids
         |FROM packs ORDER BY lang, shard, pack_id""".stripMargin,

    "q137_logreg_curve" ->
      s"""WITH $lrChainCtes
         |SELECT round, mean_loss FROM (
         |  ${(1 to LrIters).map(i => s"SELECT * FROM l$i").mkString(" UNION ALL ")})
         |ORDER BY round""".stripMargin,

    // Calibration replay: the q137 chain, one more scoring pass under the
    // FINAL weights, 1e-6-rounded probabilities into equal-width bins.
    "q165_calibration" ->
      s"""WITH $lrChainCtes,
         |zf AS (SELECT fb.doc_id, fb.y, SUM(fb.c * w$LrIters.wv) AS z
         |       FROM fb JOIN w$LrIters USING (bucket) GROUP BY 1, 2),
         |pf AS (SELECT y, ROUND(1 / (1 + exp(-z)), 6) AS p6 FROM zf),
         |bn AS (SELECT CAST(LEAST(FLOOR(p6 * $CalBins), $CalBins - 1) AS BIGINT)
         |                AS bin, y, p6 FROM pf),
         |ag AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         ROUND(AVG(p6), 6) AS mean_p, ROUND(AVG(y), 6) AS frac_pos
         |       FROM bn GROUP BY 1)
         |SELECT bin, n_docs, mean_p, frac_pos,
         |  ROUND(ABS(mean_p - frac_pos), 6) AS gap
         |FROM ag ORDER BY bin""".stripMargin,

    // Kneser–Ney replay: bigram counts, context sums + distinct-follower
    // counts, distinct-context (continuation) counts, the 1-row type
    // total, then the interpolated-discount probability per position.
    "q180_kneser_ney" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, p.tok AS tok, p.pos AS pos FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |           i -> {'tok': tk[i], 'pos': i})) AS p FROM toks)),
         |pairs AS (SELECT doc_id, tok,
         |            lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |          FROM tok),
         |pr AS (SELECT doc_id, prev, tok FROM pairs WHERE prev IS NOT NULL),
         |bi AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS c12
         |       FROM pr GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(SUM(c12) AS BIGINT) AS c1,
         |          CAST(COUNT(*) AS BIGINT) AS nf FROM bi GROUP BY 1),
         |cont AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS nb FROM bi GROUP BY 1),
         |ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS btypes FROM bi)
         |SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ROUND(SUM(-ln((c12::DOUBLE - 0.75
         |            + 0.75 * nf::DOUBLE * (nb::DOUBLE / btypes::DOUBLE))
         |           / c1::DOUBLE)) / COUNT(*)::DOUBLE, 6) AS nll
         |FROM pr
         |JOIN bi ON pr.prev = bi.prev AND pr.tok = bi.tok
         |JOIN ctx ON pr.prev = ctx.prev
         |JOIN cont ON pr.tok = cont.tok
         |CROSS JOIN ty
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q125_bigram_nll" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, p.tok AS tok, p.pos AS pos FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |           i -> {'tok': tk[i], 'pos': i})) AS p FROM toks)),
         |pairs AS (SELECT doc_id, tok,
         |            lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |          FROM tok),
         |pr AS (SELECT doc_id, prev, tok FROM pairs WHERE prev IS NOT NULL),
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM tok GROUP BY 1),
         |tot AS (SELECT SUM(cnt1)::DOUBLE AS n_total FROM uni),
         |bi AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS cnt2
         |       FROM pr GROUP BY 1, 2)
         |SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ROUND(SUM(-ln(0.7 * cnt2::DOUBLE / up.cnt1::DOUBLE
         |            + (1.0 - 0.7) * ut.cnt1::DOUBLE / n_total)) / COUNT(*)::DOUBLE, 6)
         |    AS nll
         |FROM pr
         |JOIN bi ON pr.prev = bi.prev AND pr.tok = bi.tok
         |JOIN uni up ON pr.prev = up.tok
         |JOIN uni ut ON pr.tok = ut.tok
         |CROSS JOIN tot
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q120_unigram_nll" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |t AS (SELECT SUM(cnt)::DOUBLE AS n_total FROM v)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       ROUND(SUM(-ln(cnt::DOUBLE / n_total)) / COUNT(*)::DOUBLE, 6)
         |         AS nll
         |FROM tok JOIN v USING (tok) CROSS JOIN t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q147_ccnet_tiers" ->
      s"""WITH $ccnetCtes
         |SELECT doc_id, lang, n_tokens, nll, tier
         |FROM tiers ORDER BY doc_id""".stripMargin,

    "q150_tier_quota" ->
      s"""WITH $ccnetCtes,
         |g AS (SELECT lang, tier, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |        (CASE WHEN tier = 'head' THEN 0.6
         |              WHEN tier = 'middle' THEN 0.3
         |              ELSE 0.1 END) * SUM(n_tokens)::DOUBLE AS wt
         |      FROM tiers GROUP BY 1, 2),
         |wt0 AS (SELECT SUM(wt) AS wtot FROM g)
         |SELECT lang, tier, n_docs, n_tokens,
         |  ROUND(wt / wtot, 6) AS share,
         |  CAST(FLOOR($TierBudget.0 * wt / wtot) AS BIGINT) AS quota_tokens,
         |  ROUND($TierBudget.0 * wt / wtot / n_tokens::DOUBLE, 6) AS epochs
         |FROM g CROSS JOIN wt0 ORDER BY lang, tier""".stripMargin,

    "q151_url_canonical" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  'Site' || (doc_id % 4) || '.Example.COM' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ||
        |  '/Dir' || (doc_id % 5) ||
        |  (CASE WHEN doc_id % 3 = 1 THEN '//Sub/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0
        |        THEN '?utm_source=feed&id=' || (doc_id % 7) || '&utm_campaign=x'
        |        WHEN doc_id % 4 = 1 THEN '?b=2&a=1&gclid=g' || doc_id
        |        WHEN doc_id % 4 = 2 THEN '?pref=keep&ref=drop&fbclid'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |h AS (SELECT *,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(h0, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(h0, ':443$', '')
        |       ELSE h0 END AS host
        |  FROM (SELECT *,
        |    regexp_replace(lower(regexp_extract(nofrag,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS h0
        |    FROM p)),
        |r AS (SELECT *, regexp_extract(nofrag,
        |        '^(?:[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)?(.*)$', 1) AS rest
        |      FROM h),
        |pq AS (SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path,
        |       regexp_extract(rest, '\?(.*)$', 1) AS qstr FROM r),
        |n AS (SELECT *,
        |  CASE WHEN rtrim(regexp_replace(path, '/{2,}', '/', 'g'), '/') = ''
        |       THEN '/'
        |       ELSE rtrim(regexp_replace(path, '/{2,}', '/', 'g'), '/') END AS pathn,
        |  list_sort(list_filter(string_split(qstr, '&'),
        |    x -> x <> '' AND NOT regexp_matches(x,
        |      '(?i)^(utm_[a-z0-9]+|fbclid|gclid|ref)(=|$)'))) AS kept
        |  FROM pq)
        |SELECT doc_id, url, host,
        |  (CASE WHEN scheme = '' THEN '' ELSE scheme || '://' || host END)
        |  || pathn ||
        |  (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |        ELSE '' END) AS canonical
        |FROM n ORDER BY doc_id""".stripMargin,

    // The planted urls canonicalize CLOSED-FORM (scheme lowered, www +
    // default port stripped, ref/fbclid dropped + pref kept, fragment
    // dropped — each rule individually gated by q151's full replay), so
    // the oracle states the ledger LAW directly: keep-first over the
    // batch union in (epoch = doc_id % 3, doc_id) arrival order.
    "q225_frontier_ledger" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |  'site' || (doc_id % 4) || '.example.com' ||
        |  '/Dir' || (doc_id % 5) ||
        |  (CASE WHEN doc_id % 4 = 2 THEN '?pref=keep' ELSE '' END) AS canonical
        |  FROM documents)
        |SELECT canonical, first_doc FROM (
        |  SELECT canonical, doc_id AS first_doc,
        |    ROW_NUMBER() OVER (PARTITION BY canonical
        |      ORDER BY (doc_id % 3), doc_id) AS rk
        |  FROM u) WHERE rk = 1
        |ORDER BY canonical""".stripMargin,

    "q119_source_mix" ->
      """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |                  CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |           FROM documents GROUP BY 1),
        |t AS (SELECT SUM(sqrt(n_docs::DOUBLE)) AS wtot FROM s)
        |SELECT source, n_docs, n_chars,
        |  ROUND(sqrt(n_docs::DOUBLE) / wtot, 6) AS weight,
        |  CAST(FLOOR(sqrt(n_docs::DOUBLE) / wtot * 1000000.0) AS BIGINT) AS quota,
        |  ROUND(sqrt(n_docs::DOUBLE) / wtot * 1000000.0 / n_docs::DOUBLE, 6)
        |    AS epochs
        |FROM s, t ORDER BY source""".stripMargin,

    "q108_bm25_topk" -> Bm25OracleSql,

    // The equality law IS the gate: the store-served result over
    // base ∪ delta replays as the one-shot full-corpus BM25.
    "q182_bm25_index" -> Bm25OracleSql,

    "q45_jsonl_roundtrip" ->
      "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",

    "q62_repetition" ->
      s"""WITH $ToksCte,
         |base AS (SELECT doc_id, length(text) AS nc, len(tk) AS nt,
         |                len(list_distinct(tk)) AS nd FROM toks),
         |g2 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN []
         |        ELSE list_transform(range(1, len(tk)),
         |               i -> array_to_string(list_slice(tk, i, i + 1), ' ')) END) AS sh
         |       FROM toks),
         |c2 AS (SELECT doc_id, sh, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
         |t2 AS (SELECT doc_id, cnt, length(sh) AS shlen,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, sh) AS rk
         |       FROM c2),
         |top2 AS (SELECT doc_id, cnt AS tc, shlen AS tl FROM t2 WHERE rk = 1),
         |g5 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 5 THEN []
         |        ELSE list_transform(range(1, len(tk) - 3),
         |               i -> array_to_string(list_slice(tk, i, i + 4), ' ')) END) AS sh
         |       FROM toks),
         |c5 AS (SELECT doc_id, sh, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2),
         |d5 AS (SELECT doc_id,
         |         CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * length(sh) END) AS BIGINT)
         |           AS dup_chars FROM c5 GROUP BY 1)
         |SELECT b.doc_id,
         |  ROUND(CASE WHEN nt = 0 THEN 0 ELSE (nt - nd)::DOUBLE / nt::DOUBLE END, 6)
         |    AS dup_token_frac,
         |  ROUND(CASE WHEN nc = 0 OR tc IS NULL THEN 0
         |             ELSE LEAST(1.0, (tc * tl)::DOUBLE / nc::DOUBLE) END, 6)
         |    AS top2_char_frac,
         |  ROUND(CASE WHEN nc = 0 OR dup_chars IS NULL THEN 0
         |             ELSE LEAST(1.0, dup_chars::DOUBLE / nc::DOUBLE) END, 6)
         |    AS dup5_char_frac
         |FROM base b LEFT JOIN top2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q63_pii_redact" ->
      s"""WITH pii AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
         |    CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |    ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
         |    CAST((doc_id * 7) % 256 AS VARCHAR)
         |  ELSE text END AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailPattern')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhonePattern')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$Ipv4Pattern')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailPattern', '<EMAIL>', 'g'),
         |    '$PhonePattern', '<PHONE>', 'g'),
         |    '$Ipv4Pattern', '<IP>', 'g') AS redacted
         |FROM pii ORDER BY doc_id""".stripMargin,

    "q76_mix_epochs" ->
      """WITH w AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 1400 WHEN 'de' THEN 2250 ELSE 500 END AS mw,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS hs
        |  FROM documents),
        |c AS (SELECT doc_id, lang,
        |        mw // 1000 + CASE WHEN hs < mw % 1000 THEN 1 ELSE 0 END AS copies
        |      FROM w)
        |SELECT doc_id, lang, CAST(t.epoch AS BIGINT) AS epoch
        |FROM c, unnest(range(0, copies)) AS t(epoch)
        |ORDER BY doc_id, epoch""".stripMargin,

    "q77_vocab_coverage" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT lang, unnest(tk) AS tok FROM toks),
         |vc AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
         |vocab AS (SELECT tok FROM vc ORDER BY cnt DESC, tok LIMIT $VocabSize)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_invocab,
         |  ROUND(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)::DOUBLE
         |        / COUNT(*)::DOUBLE, 6) AS coverage
         |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,

    "q92_collocations" ->
      s"""WITH $ToksCte,
         |uni AS (SELECT unnest(tk) AS tok FROM toks),
         |uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
         |bi AS (SELECT unnest(CASE WHEN len(tk) < 2 THEN []
         |         ELSE list_transform(range(1, len(tk)),
         |                i -> array_to_string(list_slice(tk, i, i + 1), ' ')) END) AS sh
         |       FROM toks),
         |bc AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bi
         |       GROUP BY 1 HAVING COUNT(*) >= 5),
         |sp AS (SELECT sh, c_ab, string_split(sh, ' ')[1] AS a,
         |              string_split(sh, ' ')[2] AS b FROM bc)
         |SELECT sh AS bigram, c_ab,
         |  ROUND(c_ab * 1000000.0 / (ca.c * cb.c), 6) AS lift6
         |FROM sp JOIN uc ca ON sp.a = ca.tok JOIN uc cb ON sp.b = cb.tok
         |ORDER BY 3 DESC, 1 LIMIT 30""".stripMargin,

    "q84_quality_quartile" ->
      s"""WITH $ToksCte,
         |st AS (SELECT doc_id, lang,
         |  ROUND(GREATEST(0.0, LEAST(1.0, len(tk)::DOUBLE / 50.0) * 0.5
         |    + LEAST(1.0, (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END) * 4.0) * 0.5
         |    - LEAST(1.0, (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |             / length(text)::DOUBLE END) * 10.0) * 0.25), 6) AS quality
         |  FROM toks),
         |rk AS (SELECT doc_id, lang, quality,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |                            ORDER BY quality DESC, doc_id) AS rnk,
         |         COUNT(*) OVER (PARTITION BY lang) AS n
         |       FROM st)
         |SELECT doc_id, lang, quality FROM rk
         |WHERE rnk <= CEIL(n * 0.25)
         |ORDER BY doc_id""".stripMargin,

    // Host-gate replay: the q48 quality formula per doc, per-source mean
    // (rounded BEFORE ranking), global rank under (mean, source), flag
    // the bottom ⌈frac·H⌉ hosts.
    "q161_host_gate" ->
      s"""WITH hq AS (SELECT source, text,
         |    CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
         |  FROM documents),
         |st AS (SELECT source, len(tk)::DOUBLE AS nt,
         |  CASE WHEN len(tk) = 0 THEN 0.0
         |       ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END AS sr,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |            / length(text)::DOUBLE END AS pr
         |  FROM hq),
         |sq AS (SELECT source,
         |  GREATEST(0.0, LEAST(1.0, nt / 50.0) * 0.5
         |              + LEAST(1.0, sr * 4.0) * 0.5
         |              - LEAST(1.0, pr * 10.0) * 0.25) AS q
         |  FROM st),
         |hs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         ROUND(AVG(q), 6) AS mean_quality
         |       FROM sq GROUP BY 1),
         |rk AS (SELECT source, n_docs, mean_quality,
         |         ROW_NUMBER() OVER (ORDER BY mean_quality, source) AS rn,
         |         COUNT(*) OVER () AS h
         |       FROM hs)
         |SELECT source, n_docs, mean_quality,
         |  (rn <= CEIL($HostBottomFrac * h)) AS flagged
         |FROM rk ORDER BY source""".stripMargin,

    "q79_train_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    "q80_token_budget" ->
      s"""WITH $ToksCte,
         |t AS (SELECT doc_id, lang, len(tk) AS nt,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
         |  FROM toks),
         |c AS (SELECT doc_id, lang,
         |  COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY hv, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM t)
         |SELECT doc_id, lang FROM c
         |WHERE cumb < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1000
         |             ELSE 500 END
         |ORDER BY doc_id""".stripMargin,

    "q65_quota_sample" ->
      """WITH rk AS (SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |             doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang FROM rk
        |WHERE rk <= CASE WHEN lang = 'en' THEN 120 WHEN lang = 'de' THEN 40 ELSE 25 END
        |ORDER BY doc_id""".stripMargin,

    "q50_chunk_windows" ->
      s"""WITH $ToksCte,
         |starts AS (SELECT doc_id, tk, unnest(range(0, GREATEST(len(tk), 1), 48)) AS start
         |           FROM toks)
         |SELECT doc_id,
         |  CAST(start // 48 AS BIGINT) AS chunk_id,
         |  CAST(LEAST(64, len(tk) - start) AS BIGINT) AS n_tokens,
         |  array_to_string(list_slice(tk, start + 1, start + 64), ' ') AS chunk_text
         |FROM starts WHERE start < len(tk)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    // NFC replay: the same parity-planted composed/decomposed markers,
    // DuckDB's UAX #15 nfc_normalize as the engine twin.
    "q172_nfc_dedup" ->
      """WITH pl AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233)
        |                 ELSE ' cafe' || chr(769) END AS text
        |  FROM documents),
        |nx AS (SELECT doc_id, (text <> nfc_normalize(text)) AS changed,
        |         md5(nfc_normalize(text)) AS nfc_md5 FROM pl)
        |SELECT doc_id, changed, nfc_md5,
        |  MIN(doc_id) OVER (PARTITION BY nfc_md5) AS canon_id
        |FROM nx ORDER BY doc_id""".stripMargin,

    // Data-card replay: the q48 quality formula, per-source totals,
    // language-mix entropy, corpus-wide duplicate participation.
    "q171_corpus_card" ->
      s"""WITH dcd AS (SELECT source, lang, md5(text) AS dg,
         |    CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk, text
         |  FROM documents),
         |st AS (SELECT source, lang, dg, CAST(len(tk) AS BIGINT) AS nt,
         |  GREATEST(0.0, LEAST(1.0, len(tk)::DOUBLE / 50.0) * 0.5
         |    + LEAST(1.0, (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END) * 4.0) * 0.5
         |    - LEAST(1.0, (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |             / length(text)::DOUBLE END) * 10.0) * 0.25) AS q
         |  FROM dcd),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |          CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |          ROUND(AVG(q), 6) AS mean_quality
         |        FROM st GROUP BY 1),
         |dd AS (SELECT dg FROM st GROUP BY dg HAVING COUNT(*) > 1),
         |dup AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup
         |        FROM st WHERE dg IN (SELECT dg FROM dd) GROUP BY 1),
         |lc AS (SELECT source, lang, COUNT(*)::DOUBLE AS nl,
         |         SUM(COUNT(*)) OVER (PARTITION BY source)::DOUBLE AS n
         |       FROM st GROUP BY 1, 2),
         |ent AS (SELECT source, ROUND(-SUM((nl / n) * ln(nl / n)), 6)
         |          AS lang_entropy FROM lc GROUP BY 1)
         |SELECT t.source, t.n_docs, t.n_tokens, t.mean_quality, e.lang_entropy,
         |  ROUND(COALESCE(d.n_dup, 0)::DOUBLE / t.n_docs::DOUBLE, 6) AS dup_frac
         |FROM tot t JOIN ent e USING (source) LEFT JOIN dup d USING (source)
         |ORDER BY t.source""".stripMargin,

    // ROUGE replay: bigram multisets from both sides of each pair, a
    // full join aligning them, clipped-overlap sums, exact-long ratios.
    // BLEU replay: one (pair, k, gram) explode for all orders, clipped
    // per-(pair, k) aggregate, the closed-form brevity penalty, and the
    // geometric mean with the zero-order convention.
    "q237_bleu_eval" ->
      s"""WITH tkd AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk FROM documents),
         |pr AS (SELECT doc_id AS pair_id,
         |         CASE WHEN doc_id % 3 = 0
         |                THEN list_slice(tk, 1, CAST(ceil(len(tk) * 3 / 4.0) AS INT))
         |              WHEN doc_id % 3 = 1
         |                THEN tk || ['alpha', 'beta', 'gamma', 'delta']
         |              ELSE list_reverse(tk) END AS ctk,
         |         tk AS rtk
         |       FROM tkd WHERE doc_id % 5 = 0),
         |cg AS (SELECT pair_id, k, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
         |    SELECT pair_id, k, array_to_string(list_slice(ctk, i, i + k - 1), ' ') AS g
         |    FROM pr, unnest(range(1, $BleuOrder + 1)) AS kk(k),
         |         unnest(range(1, len(ctk) - k + 2)) AS ii(i)
         |    WHERE len(ctk) >= k) GROUP BY 1, 2, 3),
         |rg AS (SELECT pair_id, k, g, CAST(COUNT(*) AS BIGINT) AS rc FROM (
         |    SELECT pair_id, k, array_to_string(list_slice(rtk, i, i + k - 1), ' ') AS g
         |    FROM pr, unnest(range(1, $BleuOrder + 1)) AS kk(k),
         |         unnest(range(1, len(rtk) - k + 2)) AS ii(i)
         |    WHERE len(rtk) >= k) GROUP BY 1, 2, 3),
         |j AS (SELECT COALESCE(cg.pair_id, rg.pair_id) AS pair_id,
         |        COALESCE(cg.k, rg.k) AS k,
         |        COALESCE(cc, 0) AS cc, COALESCE(rc, 0) AS rc
         |      FROM cg FULL JOIN rg
         |        ON cg.pair_id = rg.pair_id AND cg.k = rg.k AND cg.g = rg.g),
         |ag AS (SELECT pair_id, k, SUM(LEAST(cc, rc)) AS ov, SUM(cc) AS ct
         |       FROM j GROUP BY 1, 2 HAVING SUM(cc) > 0),
         |fold AS (SELECT pair_id,
         |    SUM(CASE WHEN ov > 0 THEN ln(ov::DOUBLE / ct::DOUBLE) END) AS sl,
         |    COUNT(*) FILTER (WHERE ov > 0) AS kpos,
         |    MAX(CASE WHEN k = 1 THEN ROUND(ov::DOUBLE / ct::DOUBLE, 6) END) AS p_1,
         |    MAX(CASE WHEN k = 2 THEN ROUND(ov::DOUBLE / ct::DOUBLE, 6) END) AS p_2,
         |    MAX(CASE WHEN k = 3 THEN ROUND(ov::DOUBLE / ct::DOUBLE, 6) END) AS p_3,
         |    MAX(CASE WHEN k = 4 THEN ROUND(ov::DOUBLE / ct::DOUBLE, 6) END) AS p_4,
         |  FROM ag GROUP BY 1),
         |lens AS (SELECT pair_id, len(ctk)::BIGINT AS c_len,
         |                len(rtk)::BIGINT AS r_len FROM pr)
         |SELECT l.pair_id, c_len, r_len,
         |  ROUND(CASE WHEN c_len = 0 THEN 0.0 WHEN c_len > r_len THEN 1.0
         |        ELSE exp(1.0 - r_len::DOUBLE / c_len::DOUBLE) END, 6) AS bp,
         |  COALESCE(p_1, 0.0) AS p_1,
         |  COALESCE(p_2, 0.0) AS p_2,
         |  COALESCE(p_3, 0.0) AS p_3,
         |  COALESCE(p_4, 0.0) AS p_4,
         |  ROUND(CASE WHEN c_len = 0 OR COALESCE(kpos, 0) < $BleuOrder THEN 0.0
         |        ELSE (CASE WHEN c_len > r_len THEN 1.0
         |              ELSE exp(1.0 - r_len::DOUBLE / c_len::DOUBLE) END)
         |             * exp(sl / $BleuOrder) END, 6) AS bleu
         |FROM lens l LEFT JOIN fold USING (pair_id) ORDER BY pair_id""".stripMargin,

    "q170_rouge_eval" ->
      s"""WITH tkd AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk FROM documents),
         |pr AS (SELECT c.doc_id AS pair_id, c.tk AS ctk, r.tk AS rtk
         |       FROM tkd c JOIN tkd r ON r.doc_id = c.doc_id + 1
         |       WHERE c.doc_id % 5 = 0),
         |cg AS (SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
         |    SELECT pair_id, unnest(CASE WHEN len(ctk) < $RougeOrder THEN []
         |      ELSE list_transform(range(1, len(ctk) - ${RougeOrder - 2}),
         |             i -> array_to_string(list_slice(ctk, i, i + ${RougeOrder - 1}), ' ')) END) AS g
         |    FROM pr) GROUP BY 1, 2),
         |rg AS (SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS rc FROM (
         |    SELECT pair_id, unnest(CASE WHEN len(rtk) < $RougeOrder THEN []
         |      ELSE list_transform(range(1, len(rtk) - ${RougeOrder - 2}),
         |             i -> array_to_string(list_slice(rtk, i, i + ${RougeOrder - 1}), ' ')) END) AS g
         |    FROM pr) GROUP BY 1, 2),
         |j AS (SELECT COALESCE(cg.pair_id, rg.pair_id) AS pair_id,
         |        COALESCE(cc, 0) AS cc, COALESCE(rc, 0) AS rc
         |      FROM cg FULL JOIN rg ON cg.pair_id = rg.pair_id AND cg.g = rg.g),
         |ag AS (SELECT pair_id, SUM(LEAST(cc, rc)) AS ov,
         |         SUM(cc) AS ct, SUM(rc) AS rt FROM j GROUP BY 1)
         |SELECT pr.pair_id,
         |  ROUND(CASE WHEN COALESCE(ct, 0) = 0 THEN 0.0
         |        ELSE ov::DOUBLE / ct::DOUBLE END, 6) AS precision,
         |  ROUND(CASE WHEN COALESCE(rt, 0) = 0 THEN 0.0
         |        ELSE ov::DOUBLE / rt::DOUBLE END, 6) AS recall,
         |  ROUND(CASE WHEN COALESCE(ov, 0) = 0 THEN 0.0
         |        ELSE 2.0 * ov::DOUBLE / (ct + rt)::DOUBLE END, 6) AS f1
         |FROM pr LEFT JOIN ag USING (pair_id) ORDER BY pair_id""".stripMargin,

    // CDC replay: trailing-window md5-hash60 per position, cuts where
    // h ≡ 0 mod K plus the forced end cut, lag-window chunk spans, md5
    // of the token slice.
    "q168_cdc_chunks" ->
      s"""WITH $ToksCte,
         |wins AS (SELECT doc_id, tk,
         |           unnest(range(0, len(tk) - ${CdcWindow - 1})) AS pos
         |         FROM toks WHERE len(tk) >= $CdcWindow),
         |hashed AS (SELECT doc_id,
         |    pos, ('0x' || substr(md5(array_to_string(
         |        list_slice(tk, pos + 1, pos + $CdcWindow), ' ')), 1, 15))::BIGINT AS h
         |  FROM wins),
         |cuts AS (SELECT DISTINCT doc_id, cut FROM (
         |    SELECT doc_id, pos + $CdcWindow AS cut FROM hashed WHERE h % $CdcModK = 0
         |    UNION ALL SELECT doc_id, len(tk) FROM toks WHERE len(tk) > 0)),
         |ch AS (SELECT doc_id, cut,
         |         COALESCE(LAG(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) AS start,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cut) - 1
         |           AS BIGINT) AS chunk_no
         |       FROM cuts)
         |SELECT c.doc_id, c.chunk_no, CAST(c.start AS BIGINT) AS start,
         |  CAST(c.cut - c.start AS BIGINT) AS n_tokens,
         |  md5(array_to_string(list_slice(t.tk, (c.start + 1)::INT, c.cut::INT), ' '))
         |    AS chunk_md5
         |FROM ch c JOIN toks t USING (doc_id) WHERE c.cut > c.start
         |ORDER BY doc_id, chunk_no""".stripMargin,

    "q49_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
        |      < CASE WHEN lang = 'de' THEN 250 WHEN lang = 'en' THEN 500 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,

    "q48_corpus_profile" ->
      s"""WITH $ToksCte,
         |st AS (SELECT lang, len(tk)::DOUBLE AS nt,
         |  CASE WHEN len(tk) = 0 THEN 0.0
         |       ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END AS sr,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |            / length(text)::DOUBLE END AS pr
         |  FROM toks),
         |sq AS (SELECT lang, nt,
         |  GREATEST(0.0, LEAST(1.0, nt / 50.0) * 0.5
         |              + LEAST(1.0, sr * 4.0) * 0.5
         |              - LEAST(1.0, pr * 10.0) * 0.25) AS q
         |  FROM st)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ROUND(AVG(nt), 6) AS mean_tokens,
         |  ROUND(quantile_cont(nt, 0.5), 6) AS p50_tokens,
         |  ROUND(quantile_cont(nt, 0.9), 6) AS p90_tokens,
         |  ROUND(AVG(q), 6) AS mean_quality
         |FROM sq GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_text_stats" ->
      s"""WITH $ToksCte,
         |st AS (SELECT doc_id,
         |  len(tk)::BIGINT AS n_tokens,
         |  len(regexp_extract_all(text, '$BpeTokenPattern'))::BIGINT AS n_bpe,
         |  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::BIGINT AS n_punct,
         |  CASE WHEN len(tk) = 0 THEN 0.0
         |       ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END AS sr,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |            / length(text)::DOUBLE END AS pr
         |  FROM toks)
         |SELECT doc_id, n_tokens, n_bpe, n_punct,
         |  ROUND(sr, 6) AS stop_ratio, ROUND(pr, 6) AS punct_ratio,
         |  ROUND(GREATEST(0.0, LEAST(1.0, n_tokens::DOUBLE / 50.0) * 0.5
         |                    + LEAST(1.0, sr * 4.0) * 0.5
         |                    - LEAST(1.0, pr * 10.0) * 0.25), 6) AS quality
         |FROM st ORDER BY doc_id""".stripMargin,

    "q17_lang_id" ->
      s"""WITH $ToksCte,
         |sc AS (SELECT doc_id, lang,
         |  $langScoreCols
         |  FROM toks)
         |SELECT doc_id, lang,
         |  $langArgmaxCase AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q96_langid_confusion" ->
      s"""WITH $ToksCte,
         |sc AS (SELECT doc_id, lang,
         |  $langScoreCols
         |  FROM toks),
         |pred AS (SELECT lang AS truth,
         |  $langArgmaxCase AS predicted
         |  FROM sc)
         |SELECT truth, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q18_fingerprint" ->
      s"""WITH $ToksCte
         |SELECT doc_id,
         |  list_reduce(
         |    list_prepend(0::BIGINT,
         |      list_transform(list_filter(string_split(text, ''), c -> c <> ''),
         |                     c -> unicode(c)::BIGINT)),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS fp,
         |  list_min(list_transform(
         |    CASE WHEN len(tk) < 3 THEN []
         |         ELSE list_transform(range(1, len(tk) - 1),
         |                i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END,
         |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS min_shingle
         |FROM toks ORDER BY doc_id""".stripMargin,

    "q56_tfidf_terms" ->
      s"""WITH $ToksCte,
         |occ AS (SELECT ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS item,
         |               doc_id AS ctx
         |        FROM toks, unnest(toks.tk) AS t(tok)),
         |dict AS (SELECT DISTINCT ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h, t.tok
         |         FROM toks, unnest(toks.tk) AS t(tok)),
         |tf AS (SELECT item, ctx, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
         |dfq AS (SELECT item, COUNT(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS ndocs FROM documents),
         |ct AS (SELECT t.item, t.ctx,
         |         (t.tf * ROUND(1000.0 * LN(nd.ndocs::DOUBLE / d.df::DOUBLE)))::DOUBLE AS cnt
         |       FROM tf t JOIN dfq d ON t.item = d.item CROSS JOIN nd
         |       WHERE ROUND(1000.0 * LN(nd.ndocs::DOUBLE / d.df::DOUBLE)) > 0),
         |nn AS (SELECT CAST(COUNT(DISTINCT ctx) AS DOUBLE) AS n FROM ct),
         |st AS (SELECT item, SUM(cnt) AS sx, SUM(cnt*cnt) AS sxx FROM ct GROUP BY 1),
         |co AS (SELECT a.item AS item_a, b.item AS item_b, SUM(a.cnt*b.cnt) AS sxy
         |       FROM ct a JOIN ct b ON a.ctx = b.ctx AND a.item < b.item GROUP BY 1, 2),
         |cosym AS (SELECT item_a, item_b, sxy FROM co
         |          UNION ALL SELECT item_b, item_a, sxy FROM co),
         |sp AS (SELECT c.item_a, c.item_b,
         |  (nn.n*c.sxy - sa.sx*sb.sx)
         |    / NULLIF(SQRT(nn.n*sa.sxx - sa.sx*sa.sx) * SQRT(nn.n*sb.sxx - sb.sx*sb.sx), 0) AS corr
         |  FROM cosym c JOIN st sa ON c.item_a = sa.item
         |  JOIN st sb ON c.item_b = sb.item CROSS JOIN nn),
         |rk AS (SELECT item_a, item_b, corr,
         |         ROW_NUMBER() OVER (PARTITION BY item_a
         |                            ORDER BY corr DESC NULLS LAST, item_b) AS rnk
         |       FROM sp)
         |SELECT da.tok AS term_a, db.tok AS term_b, ROUND(corr, 6) AS corr
         |FROM rk JOIN dict da ON rk.item_a = da.h JOIN dict db ON rk.item_b = db.h
         |WHERE rnk <= 3
         |ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q70_ngram_topk" ->
      s"""WITH $ToksCte,
         |g3 AS (SELECT doc_id, unnest(list_distinct(
         |         CASE WHEN len(tk) < 3 THEN []
         |              ELSE list_transform(range(1, len(tk) - 1),
         |                     i -> array_to_string(list_slice(tk, i, i + 2), ' ')) END))
         |         AS ngram
         |       FROM toks)
         |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM g3 GROUP BY 1
         |ORDER BY n_docs DESC, ngram LIMIT 50""".stripMargin,

    "q72_pack_sequences" ->
      s"""WITH $ToksCte,
         |starts AS (SELECT doc_id, tk, unnest(range(0, GREATEST(len(tk), 1), 64)) AS start
         |           FROM toks),
         |ch AS (SELECT doc_id,
         |         CAST(start // 64 AS BIGINT) AS chunk_id,
         |         CAST(LEAST(64, len(tk) - start) AS BIGINT) AS n_tokens
         |       FROM starts WHERE start < len(tk)),
         |cl AS (SELECT d.lang, ch.doc_id, ch.chunk_id, ch.n_tokens
         |       FROM ch JOIN documents d USING (doc_id)),
         |pk AS (SELECT lang, doc_id, chunk_id, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
         |           ORDER BY doc_id, chunk_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |           AS cum_before
         |       FROM cl)
         |SELECT lang, doc_id, chunk_id, n_tokens, cum_before,
         |  CAST(cum_before // 256 AS BIGINT) AS pack_id,
         |  CAST(cum_before % 256 AS BIGINT) AS pack_offset,
         |  (cum_before % 256) + n_tokens > 256 AS straddles
         |FROM pk ORDER BY lang, doc_id, chunk_id""".stripMargin,

    "q36_term_similarity" ->
      s"""WITH $ToksCte,
         |occ AS (SELECT ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS item,
         |               doc_id AS ctx
         |        FROM toks, unnest(toks.tk) AS t(tok)),
         |dict AS (SELECT DISTINCT ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h, t.tok
         |         FROM toks, unnest(toks.tk) AS t(tok)),
         |ct AS (SELECT item, ctx, CAST(COUNT(*) AS DOUBLE) AS cnt FROM occ GROUP BY 1, 2),
         |nn AS (SELECT CAST(COUNT(DISTINCT ctx) AS DOUBLE) AS n FROM ct),
         |st AS (SELECT item, SUM(cnt) AS sx, SUM(cnt*cnt) AS sxx FROM ct GROUP BY 1),
         |co AS (SELECT a.item AS item_a, b.item AS item_b, SUM(a.cnt*b.cnt) AS sxy
         |       FROM ct a JOIN ct b ON a.ctx = b.ctx AND a.item < b.item GROUP BY 1, 2),
         |cosym AS (SELECT item_a, item_b, sxy FROM co
         |          UNION ALL SELECT item_b, item_a, sxy FROM co),
         |sp AS (SELECT c.item_a, c.item_b,
         |  (nn.n*c.sxy - sa.sx*sb.sx)
         |    / NULLIF(SQRT(nn.n*sa.sxx - sa.sx*sa.sx) * SQRT(nn.n*sb.sxx - sb.sx*sb.sx), 0) AS corr
         |  FROM cosym c JOIN st sa ON c.item_a = sa.item
         |  JOIN st sb ON c.item_b = sb.item CROSS JOIN nn),
         |rk AS (SELECT item_a, item_b, corr,
         |         ROW_NUMBER() OVER (PARTITION BY item_a
         |                            ORDER BY corr DESC NULLS LAST, item_b) AS rnk
         |       FROM sp)
         |SELECT da.tok AS term_a, db.tok AS term_b, ROUND(corr, 6) AS corr
         |FROM rk JOIN dict da ON rk.item_a = da.h JOIN dict db ON rk.item_b = db.h
         |WHERE rnk <= 3
         |ORDER BY 1, 3 DESC NULLS LAST, 2""".stripMargin,

    "q194_pref_pairs" ->
      s"""WITH $prefCtes
         |SELECT prompt_id, chosen_id, chosen_score, rejected_id,
         |       rejected_score, margin
         |FROM pp ORDER BY prompt_id""".stripMargin,

    // Bradley–Terry replay: q194's pairs → source-level outcome log →
    // players/wins/pairwise-count tables → BtRounds unrolled MM rounds,
    // each 1e-9-rounded (mirrors Preference.bradleyTerry exactly).
    "q195_bt_strength" ->
      s"""WITH $prefCtes,
         |g AS (SELECT chosen_source AS w, rejected_source AS l FROM pp
         |      WHERE chosen_source <> rejected_source),
         |players AS (SELECT DISTINCT player FROM
         |  (SELECT w AS player FROM g UNION ALL SELECT l AS player FROM g)),
         |np AS (SELECT count(*)::DOUBLE AS np FROM players),
         |nij AS (SELECT LEAST(w, l) AS a, GREATEST(w, l) AS b,
         |          count(*)::DOUBLE AS n FROM g GROUP BY 1, 2),
         |wins AS (SELECT w AS player, count(*)::DOUBLE AS wi FROM g GROUP BY 1),
         |w0 AS (SELECT player, ROUND(1.0 / np, 9) AS w FROM players, np),
         |${(1 to BtRounds).map(btRoundCte).mkString(",\n")}
         |SELECT round, player, strength FROM (
         |  ${(0 to BtRounds).map(i =>
              s"SELECT CAST($i AS BIGINT) AS round, player, w AS strength FROM w$i")
             .mkString(" UNION ALL ")})
         |ORDER BY round, player""".stripMargin,

    // Threshold-curve replay: stopword-ratio histogram × the en label,
    // descending cumulative, rounded precision/recall, the target flag.
    "q222_precision_gate" ->
      s"""WITH $ToksCte,
         |bq AS (SELECT doc_id, lang,
         |  ROUND(CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END, 6)
         |    AS score
         |  FROM toks),
         |h AS (SELECT CAST(LEAST(GREATEST(FLOOR(score * 100), 0), 99) AS BIGINT)
         |        AS bin, COUNT(*)::BIGINT AS n,
         |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
         |      FROM bq GROUP BY 1),
         |c AS (SELECT bin,
         |        CAST(SUM(n) OVER (ORDER BY bin DESC) AS BIGINT) AS n_above,
         |        CAST(SUM(pos) OVER (ORDER BY bin DESC) AS BIGINT) AS pos_above
         |      FROM h),
         |t AS (SELECT CAST(SUM(pos) AS BIGINT) AS all_pos FROM h)
         |SELECT bin, ROUND(bin / 100.0, 6) AS cut, n_above, pos_above,
         |  ROUND(pos_above::DOUBLE / n_above, 6) AS precision,
         |  CASE WHEN all_pos = 0 THEN NULL
         |       ELSE ROUND(pos_above::DOUBLE / all_pos, 6) END AS recall,
         |  ROUND(pos_above::DOUBLE / n_above, 6) >= 0.7 AS meets_target
         |FROM c, t ORDER BY bin""".stripMargin,

    // Kappa replay: planted tier labels with keyed-hash disagreements,
    // the (item, label) cell counts, P-bar, P-e, kappa.
    "q223_fleiss_kappa" ->
      s"""WITH $ToksCte,
         |bq AS (SELECT doc_id,
         |  ROUND(GREATEST(0.0, LEAST(1.0, len(tk)::DOUBLE / 50.0) * 0.5
         |    + LEAST(1.0, (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END) * 4.0) * 0.5
         |    - LEAST(1.0, (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |             / length(text)::DOUBLE END) * 10.0) * 0.25), 6) AS q
         |  FROM toks),
         |tr AS (SELECT doc_id, CAST(LEAST(FLOOR(q * 3), 2) AS BIGINT) AS t
         |       FROM bq),
         |ann AS (SELECT doc_id, a,
         |    CASE WHEN ('0x' || substr(md5(a || ':' || doc_id), 1, 15))::BIGINT
         |              % 5 = 0
         |         THEN (t + 1) % 3 ELSE t END AS label
         |  FROM tr, unnest(range(0, 3)) AS u(a)),
         |cells AS (SELECT doc_id, label, COUNT(*)::BIGINT AS n
         |          FROM ann GROUP BY 1, 2),
         |base AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS ni,
         |           CAST(SUM(n * (n - 1)) AS BIGINT) AS agr FROM cells),
         |marg AS (SELECT label, CAST(SUM(n) AS BIGINT) AS s
         |         FROM cells GROUP BY 1),
         |ag AS (SELECT MAX(ni) AS n_items, CAST(3 AS BIGINT) AS n_annotators,
         |         ROUND(MAX(agr::DOUBLE / (ni * 3 * 2)), 9) AS p_bar,
         |         ROUND(SUM(POWER(s::DOUBLE / (ni * 3), 2)), 9) AS p_e
         |       FROM marg, base)
         |SELECT n_items, n_annotators, p_bar, p_e,
         |  CASE WHEN p_e >= 1.0 THEN NULL
         |       ELSE ROUND((p_bar - p_e) / (1 - p_e), 6) END AS kappa
         |FROM ag""".stripMargin,

    // Skyline replay: quality tiers, per-tier max, strictly-higher-tier
    // suffix max, the two dominance clauses.
    "q220_pareto_frontier" ->
      s"""WITH $ToksCte,
         |bq AS (SELECT doc_id,
         |  ROUND(GREATEST(0.0, LEAST(1.0, len(tk)::DOUBLE / 50.0) * 0.5
         |    + LEAST(1.0, (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END) * 4.0) * 0.5
         |    - LEAST(1.0, (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |             / length(text)::DOUBLE END) * 10.0) * 0.25), 6) AS x,
         |  CAST(len(tk) AS BIGINT) AS y
         |  FROM toks),
         |t AS (SELECT doc_id, x, y,
         |        CAST(LEAST(GREATEST(FLOOR(x * 100), 0), 99) AS BIGINT) AS tier
         |      FROM bq),
         |tm AS (SELECT tier, MAX(y) AS m FROM t GROUP BY 1),
         |sx AS (SELECT tier, m, MAX(m) OVER (ORDER BY tier DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
         |       FROM tm)
         |SELECT doc_id, x, y, tier,
         |  NOT (y < m OR (hi IS NOT NULL AND y <= hi)) AS on_frontier
         |FROM t JOIN sx USING (tier) ORDER BY doc_id""".stripMargin,

    // Calibration replay: the q16 quality formula, per-source RANK
    // percentiles, the 200-bin global histogram, the 201-point inverse
    // CDF grid, and the half-up nearest-grid map.
    "q219_score_calibration" ->
      s"""WITH $ToksCte,
         |bq AS (SELECT doc_id, source,
         |  ROUND(GREATEST(0.0, LEAST(1.0, len(tk)::DOUBLE / 50.0) * 0.5
         |    + LEAST(1.0, (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE ${hits(Stopwords)}::DOUBLE / len(tk)::DOUBLE END) * 4.0) * 0.5
         |    - LEAST(1.0, (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
         |             / length(text)::DOUBLE END) * 10.0) * 0.25), 6) AS score
         |  FROM (SELECT t.doc_id, d.source, t.text, t.tk
         |        FROM toks t JOIN documents d USING (doc_id))),
         |rk AS (SELECT *, RANK() OVER (PARTITION BY source ORDER BY score) AS rk,
         |         COUNT(*) OVER (PARTITION BY source) AS ns FROM bq),
         |pp AS (SELECT doc_id, source, score,
         |         CASE WHEN ns = 1 THEN 0.5
         |              ELSE ROUND((rk - 1)::DOUBLE / (ns - 1), 9) END AS p
         |       FROM rk),
         |pj AS (SELECT *, CAST(FLOOR(p * 200 + 0.5) AS BIGINT) AS j FROM pp),
         |h AS (SELECT CAST(LEAST(GREATEST(FLOOR(score * 200), 0), 199) AS BIGINT)
         |         AS bin, COUNT(*)::BIGINT AS cnt FROM bq GROUP BY 1),
         |ch AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h),
         |nn AS (SELECT SUM(cnt)::BIGINT AS n FROM h),
         |g AS (SELECT t.j, 1.0 + (n - 1)::DOUBLE * t.j / 200 AS r
         |      FROM range(0, 201) t(j), nn),
         |gv AS (SELECT j, ROUND((MIN(bin) + 0.5) / 200, 6) AS calibrated
         |       FROM g JOIN ch ON cum >= r GROUP BY j)
         |SELECT doc_id, source, score, p, calibrated
         |FROM pj JOIN gv USING (j) ORDER BY doc_id""".stripMargin,

    // Repair replay: the identical plant, then the chained literal
    // replace map in fixed order; md5 proves byte-exactness.
    "q216_mojibake_repair" -> {
      import graft.functions.TextFunctions.{MojibakePattern, MojibakeRepairs}
      val rep = MojibakeRepairs.foldLeft("t") { case (acc, (g, f)) =>
        s"replace($acc, '$g', '$f')"
      }
      val m = s"len(regexp_extract_all(t, '$MojibakePattern'))"
      val mAfter = s"len(regexp_extract_all($rep, '$MojibakePattern'))"
      s"""WITH pl AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || '$MojiSuffix'
         |       ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id, $m::BIGINT AS n_moji_before,
         |  $mAfter::BIGINT AS n_moji_after,
         |  (length($rep) - length(t))::BIGINT AS len_delta,
         |  md5($rep) AS repaired_md5
         |FROM pl ORDER BY doc_id""".stripMargin
    },

    "q203_mojibake" -> {
      import graft.functions.TextFunctions.MojibakePattern
      val m = s"len(regexp_extract_all(t, '$MojibakePattern'))"
      s"""WITH pl AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || '$MojiSuffix'
         |       ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id, length(t)::BIGINT AS n_chars,
         |  $m::BIGINT AS n_moji,
         |  ROUND(CASE WHEN length(t) = 0 THEN 0.0
         |        ELSE $m::DOUBLE / length(t)::DOUBLE END, 6) AS moji_ratio,
         |  $m > 0 AS flagged
         |FROM pl ORDER BY doc_id""".stripMargin
    },

    // Neyman replay: per-stratum count + sample stddev, 1e-6-rounded
    // quotas (zero-spread fallback included), largest-remainder
    // apportionment via the fractional-part rank.
    "q213_neyman_alloc" ->
      s"""WITH st AS (SELECT lang AS stratum, count(*)::BIGINT AS n_rows,
         |        COALESCE(stddev_samp(n_chars::DOUBLE), 0) AS sd
         |      FROM documents GROUP BY 1),
         |tw AS (SELECT SUM(n_rows * sd) AS tot, SUM(n_rows)::DOUBLE AS tn
         |       FROM st),
         |q AS (SELECT stratum, n_rows, ROUND(sd, 6) AS sd6,
         |        ROUND(CASE WHEN tot = 0 THEN $NeymanBudget * n_rows / tn
         |              ELSE $NeymanBudget * (n_rows * sd) / tot END, 6) AS quota
         |      FROM st, tw),
         |b AS (SELECT *, FLOOR(quota)::BIGINT AS base,
         |        quota - FLOOR(quota) AS frac FROM q),
         |rm AS (SELECT $NeymanBudget - SUM(base) AS rem FROM b),
         |r AS (SELECT b.*, ROW_NUMBER() OVER (ORDER BY frac DESC, stratum)
         |        AS rk,
         |        CASE WHEN base > 0 THEN ROW_NUMBER() OVER
         |          (PARTITION BY base > 0 ORDER BY frac ASC, stratum)
         |        END AS rkn FROM b),
         |a AS (SELECT stratum, n_rows, sd6, quota,
         |        base + CASE WHEN rem >= 0 AND rk <= rem THEN 1
         |                    WHEN rem < 0 AND rkn <= -rem THEN -1
         |                    ELSE 0 END AS alloc
         |      FROM r, rm)
         |SELECT stratum, n_rows, sd6 AS sd, quota,
         |  CAST(alloc AS BIGINT) AS alloc, alloc <= n_rows AS feasible
         |FROM a ORDER BY stratum""".stripMargin,

    // Crawl-to-shards replay: the full stage chain, then the q187
    // packing shape over the selected corpus.
    "q214_crawl_to_shards" ->
      s"""WITH $crawlCtes,
         |sids AS (SELECT f.doc_id, f.lang,
         |    ('0x' || substr(md5(f.doc_id::VARCHAR), 1, 15))::BIGINT
         |      % $PackShards AS shard,
         |    list_transform(t.tk,
         |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $ShardVocabMod)
         |      AS ids,
         |    CAST(len(t.tk) AS BIGINT) AS n
         |  FROM fun3 f JOIN ctoks t USING (doc_id)
         |  WHERE f.selected AND len(t.tk) > 0),
         |cum AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang, shard
         |          ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS cb
         |        FROM sids),
         |spans AS (SELECT lang, shard, cb, n, ids,
         |            unnest(range(cb // $PackSeqLen, (cb + n - 1) // $PackSeqLen + 1))
         |              AS pack_id
         |          FROM cum),
         |sl AS (SELECT lang, shard, pack_id, cb,
         |         list_slice(ids, (greatest(pack_id * $PackSeqLen, cb) - cb + 1)::INT,
         |                    (least((pack_id + 1) * $PackSeqLen, cb + n) - cb)::INT)
         |           AS piece
         |       FROM spans),
         |packs AS (SELECT lang, shard, pack_id, flatten(list(piece ORDER BY cb))
         |            AS seq
         |          FROM sl GROUP BY 1, 2, 3)
         |SELECT lang, CAST(shard AS BIGINT) AS shard,
         |       CAST(pack_id AS BIGINT) AS pack_id,
         |       CAST(len(seq) AS BIGINT) AS n_tokens,
         |       array_to_string(list_transform(seq, x -> x::VARCHAR), ' ') AS ids
         |FROM packs ORDER BY lang, shard, pack_id""".stripMargin,

    // Funnel-audit replay: the same chain, per-document stage flags.
    "q215_crawl_funnel" ->
      s"""WITH $crawlCtes
         |SELECT doc_id, lang, canonical, allowed, n_content, n_moji,
         |  gopher_pass, is_canonical, fuzzy_dup, is_bench, contaminated,
         |  n_tokens, survivor, in_budget, selected
         |FROM fun3 ORDER BY doc_id""".stripMargin,

    // CCNet-composition replay: shared crawl prefix, planted chrome +
    // line strike, the stage generator re-run over the struck text, the
    // q147 tier chain over survivors, head+middle-only budget.
    "q232_crawl_ccnet" ->
      s"""WITH $crawlCcnetCtes
         |SELECT doc_id, lang, canonical, allowed, n_content, n_lines,
         |  n_removed, n_moji, gopher_pass, is_canonical, fuzzy_dup,
         |  is_bench, contaminated, n_tokens, nll, tier, survivor,
         |  in_budget, selected
         |FROM fun3c ORDER BY doc_id""".stripMargin,

    // pass@k replay: the q194 quality chain regrouped into 10-sample
    // problems, then the identical ascending-j factor product.
    "q204_pass_at_k" -> {
      val factors = (0 until PassK).map(j =>
        s"(GREATEST(n - c - $j, 0)::DOUBLE / (n - $j)::DOUBLE)").mkString(" * ")
      s"""WITH $prefCtes,
         |grp AS (SELECT doc_id // $PassSamples AS problem_id,
         |          score > $PassThreshold AS ok FROM psc),
         |ag AS (SELECT problem_id, count(*)::BIGINT AS n,
         |         SUM(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS c
         |       FROM grp GROUP BY 1)
         |SELECT problem_id, n, c,
         |  CASE WHEN n < $PassK THEN NULL
         |       ELSE ROUND(1.0 - $factors, 6) END AS pass_at_$PassK
         |FROM ag ORDER BY problem_id""".stripMargin
    },

    "q196_blocklist" -> {
      val inList = BlockWords.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.sorted
        .map(w => s"'$w'").mkString(", ")
      s"""WITH $ToksCte,
         |lt AS (SELECT doc_id, list_transform(tk, t -> lower(t)) AS lt FROM toks)
         |SELECT doc_id, len(lt)::BIGINT AS n_tokens,
         |  len(list_filter(lt, t -> t IN ($inList)))::BIGINT AS n_hits,
         |  len(list_filter([$inList], w -> list_contains(lt, w)))::BIGINT
         |    AS n_distinct_hits,
         |  len(list_filter(lt, t -> t IN ($inList))) > 0 AS flagged
         |FROM lt ORDER BY doc_id""".stripMargin
    },

    // Sentence-dedup replay: the shared sentence chain re-keyed as the
    // q160 line strike (df over sentence hashes, strike, reassemble).
    "q240_sentence_dedup" ->
      s"""WITH $sentenceCtes,
         |sl AS (SELECT doc_id, sent_no AS line_no, sentence AS line,
         |         ('0x' || substr(md5(sentence), 1, 15))::BIGINT AS h
         |       FROM sents),
         |sdf AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM sl GROUP BY 1),
         |smk AS (SELECT l.doc_id, l.line_no, l.line,
         |          (d.df > $CrawlLineMaxDf) AS hot
         |        FROM sl l JOIN sdf d USING (h))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
         |  CAST(COUNT(*) FILTER (WHERE hot) AS BIGINT) AS n_removed,
         |  md5(COALESCE(string_agg(line, chr(10) ORDER BY line_no)
         |        FILTER (WHERE NOT hot), '')) AS clean_md5
         |FROM smk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // chrF replay: the q237 pair plant, char n-grams over
    // whitespace-stripped text, per-order clipped P/R, the F_beta fold.
    "q241_chrf_eval" ->
      s"""WITH tkd AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk,
         |         text FROM documents),
         |pr0 AS (SELECT doc_id AS pair_id,
         |         CASE WHEN doc_id % 3 = 0
         |                THEN array_to_string(list_slice(tk, 1,
         |                       CAST(ceil(len(tk) * 3 / 4.0) AS INT)), ' ')
         |              WHEN doc_id % 3 = 1
         |                THEN text || ' alpha beta gamma delta'
         |              ELSE array_to_string(list_reverse(tk), ' ') END AS cand,
         |         text AS ref
         |       FROM tkd WHERE doc_id % 5 = 0),
         |pr AS (SELECT pair_id,
         |         regexp_replace(cand, '\\s+', '', 'g') AS cs,
         |         regexp_replace(ref, '\\s+', '', 'g') AS rs
         |       FROM pr0),
         |cg AS (SELECT pair_id, k, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
         |    SELECT pair_id, k, substr(cs, i::INT, k::INT) AS g
         |    FROM pr, unnest(range(1, $ChrfOrder + 1)) AS kk(k),
         |         unnest(range(1, length(cs) - k + 2)) AS ii(i)
         |    WHERE length(cs) >= k) GROUP BY 1, 2, 3),
         |rg AS (SELECT pair_id, k, g, CAST(COUNT(*) AS BIGINT) AS rc FROM (
         |    SELECT pair_id, k, substr(rs, i::INT, k::INT) AS g
         |    FROM pr, unnest(range(1, $ChrfOrder + 1)) AS kk(k),
         |         unnest(range(1, length(rs) - k + 2)) AS ii(i)
         |    WHERE length(rs) >= k) GROUP BY 1, 2, 3),
         |j AS (SELECT COALESCE(cg.pair_id, rg.pair_id) AS pair_id,
         |        COALESCE(cg.k, rg.k) AS k,
         |        COALESCE(cc, 0) AS cc, COALESCE(rc, 0) AS rc
         |      FROM cg FULL JOIN rg
         |        ON cg.pair_id = rg.pair_id AND cg.k = rg.k AND cg.g = rg.g),
         |ag AS (SELECT pair_id, k, SUM(LEAST(cc, rc)) AS ov,
         |         SUM(cc) AS ct, SUM(rc) AS rt FROM j GROUP BY 1, 2),
         |fold AS (SELECT pair_id,
         |    SUM(CASE WHEN ct > 0 THEN ov::DOUBLE / ct::DOUBLE
         |             ELSE 0.0 END) / $ChrfOrder AS pbar,
         |    SUM(CASE WHEN rt > 0 THEN ov::DOUBLE / rt::DOUBLE
         |             ELSE 0.0 END) / $ChrfOrder AS rbar
         |  FROM ag GROUP BY 1)
         |SELECT p.pair_id,
         |  ROUND(COALESCE(pbar, 0.0), 6) AS precision,
         |  ROUND(COALESCE(rbar, 0.0), 6) AS recall,
         |  ROUND(COALESCE(CASE WHEN 4 * pbar + rbar = 0 THEN 0.0
         |        ELSE 5 * pbar * rbar / (4 * pbar + rbar) END, 0.0), 6) AS chrf
         |FROM pr p LEFT JOIN fold USING (pair_id) ORDER BY pair_id""".stripMargin,

    // Sentence-splitter replay: the identical plant + the identical
    // RE2-safe protect-then-split rewrites (patterns shared verbatim).
    "q234_sentence_split" ->
      s"""WITH $sentenceCtes
         |SELECT doc_id, sent_no, sentence FROM sents
         |ORDER BY doc_id, sent_no""".stripMargin
  )

  /** The q234/q235 oracle chain: the planted punctuated corpus and the
    * splitter's protect-then-split rewrites, ending in
    * `sents(doc_id, sent_no, sentence)`. Patterns interpolate from the
    * SAME `TextFunctions.Sent*` constants the engine compiles. */
  private[queries] lazy val sentenceCtes: String = {
    import graft.functions.TextFunctions._
    s"""stoks AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
       |       FROM documents),
       |spt AS (SELECT doc_id,
       |    (CASE WHEN len(tk) = 0 THEN ''
       |          ELSE array_to_string(
       |                 list_transform(range(0, (len(tk) - 1) // $SentGroupTokens + 1),
       |                   g -> array_to_string(list_slice(tk,
       |                     g * $SentGroupTokens + 1,
       |                     g * $SentGroupTokens + $SentGroupTokens), ' ')),
       |                 '. ') || '. ' END) ||
       |    'Dr. Who met J. Doe, e.g. near 3.14 miles vs. the peak. ' ||
       |    'Is it done? Yes! Fig. ' || (doc_id % 5) || ' shows it.' AS pt
       |  FROM stoks),
       |sseg AS (SELECT doc_id, string_split(
       |    regexp_replace(
       |    regexp_replace(
       |    regexp_replace(
       |    regexp_replace(
       |    regexp_replace(
       |    regexp_replace(pt,
       |      '$SentEgPattern', '\\1' || chr(1) || '\\2' || chr(1), 'g'),
       |      '$SentIePattern', '\\1' || chr(1) || '\\2' || chr(1), 'g'),
       |      '$SentAbbrevPattern', '\\1' || chr(1), 'g'),
       |      '$SentDecimalPattern', '\\1' || chr(1) || '\\2', 'g'),
       |      '$SentInitialPattern', '\\1\\2' || chr(1), 'g'),
       |      '$SentBreakPattern', '\\1' || chr(2), 'g'),
       |    chr(2)) AS ls
       |  FROM spt),
       |sraw AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
       |           trim(replace(ls[i + 1], chr(1), '.')) AS sentence
       |         FROM sseg, unnest(range(0, len(ls))) AS t(i)),
       |sents AS (SELECT doc_id,
       |            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1
       |              AS sent_no,
       |            sentence
       |          FROM sraw WHERE sentence <> '')""".stripMargin
  }
}

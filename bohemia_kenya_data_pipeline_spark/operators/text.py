"""Text-analysis operators for large-scale document pipelines.

Scale pack: language-ID, quality scoring, token counting, document
fingerprinting — all pure Column expressions (JVM-side, whole-stage
codegen) so they run at 100 TB without Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny per-language stopword profiles for the n-gram/stopword
#: heuristic language detector. Deliberately small + deterministic.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and pass it to ``fn`` as a bound
    lambda variable — manual common-subexpression elimination for
    higher-order expressions. Catalyst performs no CSE inside lambda
    bodies, so an expression subtree embedded in a per-element lambda
    (or repeated across struct fields) is re-evaluated at every use;
    routing it through a one-element ``transform`` binds it to a
    variable instead (measured 7x on shingle generation at sf0.1).
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def tokens(text: Column | str) -> Column:
    r"""Whitespace tokenizer → array<string> (empty tokens removed).

    ``array_remove`` rather than a ``F.filter`` lambda: split-on-\s+
    after trim can only produce "" (for empty input), and the native
    expression stays in whole-stage codegen where the higher-order
    filter is interpreted per element — this function sits under every
    text operator's hot path (measured on bm25: 3 corpus tokenizations
    dominated the query)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def bpe_ish_tokens(text: Column | str) -> Column:
    r"""BPE-ish regex tokenizer: punctuation split off into separate
    tokens (approximates subword pre-tokenization).

    Same codegen-safe idiom as :func:`tokens`: after ``trim``, a
    \s+ split can only emit "" for fully-empty input, and
    ``array_remove`` drops every "" occurrence natively — the previous
    ``F.filter`` lambda was an interpreted island (the exact pattern
    the round-6 tokenizer fix removed from ``tokens``)."""
    c = F.col(text) if isinstance(text, str) else text
    spaced = F.regexp_replace(c, r"([^\w\s])", r" $1 ")
    return F.array_remove(F.split(F.trim(spaced), r"\s+"), "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach document-quality features (length/punct/stopword ratios —
    the standard pretraining-data quality heuristics).

    Adds: n_chars_calc, n_tokens, avg_token_len, stopword_ratio,
    punct_ratio, uniq_token_ratio.
    """
    t = F.col(text_col)
    stop = F.array([F.lit(s) for s in LANG_PROFILES["en"]])
    total_len = F.length(F.regexp_replace(t, r"\s+", ""))
    fields = [
        "n_chars_calc", "n_tokens", "avg_token_len",
        "stopword_ratio", "punct_ratio", "uniq_token_ratio",
    ]

    # bind the token array, then its distinct form, each evaluated once
    # per row (see bind_once) — the naive withColumn chain re-tokenized
    # the document for every feature.
    def feats(tk: Column) -> Column:
        def inner(dtk: Column) -> Column:
            n_tok = F.size(tk)
            n_dtk = F.size(dtk)
            n_stop = F.size(F.array_intersect(dtk, stop))
            return F.struct(
                F.length(t).alias("n_chars_calc"),
                n_tok.alias("n_tokens"),
                F.when(n_tok > 0, F.round(total_len / n_tok, 4)).alias("avg_token_len"),
                F.when(n_dtk > 0, F.round(n_stop / n_dtk, 4)).alias("stopword_ratio"),
                F.round(
                    F.length(F.regexp_replace(t, r"[\w\s]", ""))
                    / F.greatest(F.length(t), F.lit(1)),
                    4,
                ).alias("punct_ratio"),
                F.when(n_tok > 0, F.round(n_dtk / n_tok, 4)).alias("uniq_token_ratio"),
            )

        return bind_once(F.array_distinct(tk), inner)

    out = df.withColumn("__q", bind_once(tokens(t), feats))
    for c in fields:
        out = out.withColumn(c, F.col(f"__q.{c}"))
    return out.drop("__q")


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct
    lowercase token set (order/duplication/case-insensitive identity;
    the classic "fingerprint" dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(F.lower(c)))), " ")
    return F.md5(canon)


def detect_language(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: argmax of stopword-profile hits, 'und'
    when nothing matches. Ties broken by fixed language order (en
    first) for determinism. The distinct token array is bound once
    (see bind_once); the naive form re-tokenized per language."""

    langs = ["en", "es", "fr", "de", "zh"]

    def pick(toks_d: Column) -> Column:
        scores = F.struct(
            *[
                F.size(
                    F.array_intersect(
                        toks_d, F.array([F.lit(w) for w in LANG_PROFILES[lang]])
                    )
                ).alias(f"s_{lang}")
                for lang in langs
            ]
        )

        # the argmax when-chain references each score many times; bind
        # the score struct so those references are field extractions,
        # not repeated array_intersect evaluations
        def choose(sc: Column) -> Column:
            best = F.lit("und")
            best_score = F.lit(0)
            # fixed order; strict > keeps the earlier language on ties
            for lang in langs:
                s = sc.getField(f"s_{lang}")
                is_better = s > best_score
                best = F.when(is_better, F.lit(lang)).otherwise(best)
                best_score = F.when(is_better, s).otherwise(best_score)
            return best

        return bind_once(scores, choose)

    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    return df.withColumn(out_col, bind_once(toks, pick))


def normalize_text(df: DataFrame, text_col: str = "text", out_col: str = "text_norm") -> DataFrame:
    """Pretraining-corpus text normalization: lowercase, control
    characters → space, whitespace runs collapsed, trimmed. Pure
    Column expressions — the standard cheap first pass before
    tokenization/dedup (normalized text makes exact-dedup hashes and
    shingles case/spacing-invariant)."""
    c = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[\x00-\x1f\x7f]", " "), r"\s+", " "
        )
    )
    return df.withColumn(out_col, norm)


#: PII scrub patterns, applied in order (emails first — the phone
#: pattern would otherwise eat their digit runs; IPs before phones for
#: the same reason). Restricted to the regex subset that behaves
#: identically in Java regex (Spark) and RE2 (DuckDB): no lookaround,
#: no backreferences.
#:
#: The phone pattern requires 9-15 ACTUAL digits (separators do not
#: count toward the run, and at most TWO separators may sit between
#: consecutive digits — one is not enough for '(555) 123-4567', whose
#: area code ends in ') '), so 8-digit ISO dates ("2026-08-14"), short
#: order IDs, and separator-padded numeric tables survive. Residual
#: false positives are deliberate recall-over-precision: any bare
#: >=9-digit run (long numeric IDs, adjacent dates chained by single
#: spaces) is still redacted — for PII scrubbing, over-redaction is
#: the safe failure mode.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d(?:[\- ()]{0,2}\d){8,14}", "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str | None = None) -> DataFrame:
    """Redact emails / IPv4 addresses / phone-like digit runs with
    typed tokens — the free-text counterpart of the column-level PII
    handling in clean.drop_pii/hash_pii (reference sanitizes PII
    columns in pipeline-cleaning/R/02.run_form_sanitization.R; a text
    corpus needs the in-band equivalent before training). Pure
    regexp_replace chain: JVM-side, no shuffle, scan-local at 100 TB.
    """
    out = out_col or text_col
    c = F.col(text_col)
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return df.withColumn(out, c)


def _doc_token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, token, c) — per-document token counts, the shared
    pre-aggregate behind repetition metrics, vocabulary, TF-IDF, and
    the unigram LM. One explode + one map-side-combining groupBy; kept
    in one place so a tokenizer change cannot de-synchronize the
    corpus statistics."""
    return (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Word-level repetition metrics per document — the standard
    boilerplate/spam signals (high duplicate-token fraction or one
    token dominating flags low-quality pretraining text).

    Returns (id, n_tokens, n_distinct_tokens, dup_token_ratio,
    top_token_ratio). Documents with zero tokens produce no row
    (nothing to measure), mirroring SQL unnest semantics.

    Shape: explode → two-level aggregate. Deliberately NOT an O(n²)
    array expression (counting each distinct token inside a transform
    would be quadratic per document); the explode shuffles (id, token)
    pairs once and both aggregates map-side combine. Token frequency
    per doc is bounded, so no skew concern.
    """
    per_tok = _doc_token_counts(df, text_col, id_col)
    n_tok = F.sum("c")
    n_distinct = F.count(F.lit(1))
    return per_tok.groupBy(id_col).agg(
        n_tok.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        F.round(F.lit(1.0) - n_distinct / n_tok, 6).alias("dup_token_ratio"),
        F.round(F.max("c") / n_tok, 6).alias("top_token_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window packing step of a training-data pipeline.

    Chunks start every ``chunk_tokens - overlap`` tokens; a document
    with n ≤ chunk_tokens tokens is one chunk; otherwise
    ceil((n - overlap) / stride) chunks, the last one ragged. The
    whole operator is one map-side expression (sequence → transform →
    slice → explode): no shuffle, no Python — chunking 100 TB is a
    scan.

    Returns (id, chunk_id, chunk_text, n_chunk_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    n_chunks = (
        F.when(n <= chunk_tokens, F.lit(1))
        .otherwise(F.ceil((n - F.lit(overlap)) / F.lit(stride)))
        .cast("int")
    )
    entries = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice(F.col("_toks"), i * stride + 1, chunk_tokens).alias("ctoks"),
        ),
    )
    return staged.select(
        F.col(id_col), F.explode(entries).alias("_e")
    ).select(
        id_col,
        F.col("_e.chunk_id").alias("chunk_id"),
        F.array_join(F.col("_e.ctoks"), " ").alias("chunk_text"),
        F.size(F.col("_e.ctoks")).alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# Corpus-statistics operators: vocabulary, TF-IDF, unigram log-prob
# ---------------------------------------------------------------------------


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with token frequencies and doc frequencies —
    the table a tokenizer build or frequency-based filter starts from.
    Returns (token, n_occurrences, n_docs), most-frequent first with a
    deterministic token tiebreak; ``top_k`` caps the output.

    Plan: explode → (doc, token) partial counts (map-side combined) →
    token rollup; both output counts come from the second, token-
    cardinality-sized shuffle.
    """
    out = (
        _doc_token_counts(df, text_col, id_col)
        .groupBy("token")
        .agg(
            F.sum("c").cast("bigint").alias("n_occurrences"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
    )
    # `is not None`, not truthiness: top_k=0 must mean zero rows
    return out if top_k is None else out.limit(top_k)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (tf * ln(N / df)), ties broken by token order — the classic
    keyword-extraction / topic-fingerprint pass.

    Plan: explode → (doc, token) counts → token doc-frequencies from
    the same pre-aggregate → broadcast the 1-row corpus size → window
    top-k per doc. Doc frequencies are token-cardinality-sized (small);
    the only big shuffles are the explode aggregate and the final
    per-doc window.
    """
    tf = _doc_token_counts(df, text_col, id_col).withColumnRenamed("c", "tf")
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_total"))
    # rank on the RAW product (hash audit r12): ordering by the
    # 6-decimal ROUND value made ranks hostage to a 1e-6 jump whenever
    # a raw product sat a libm-ulp from its rounding boundary, while
    # the raw top-k margins measure 6.2e-4 relative (exact ties — same
    # (tf, df) — are bit-equal within each engine, so the token
    # tie-break stays deterministic). The rounded column is display.
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__raw", F.col("tf") * F.log(F.col("n_total") / F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__raw"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            id_col,
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.round("__raw", 6).alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram negative log-likelihood under the
    corpus's own unigram distribution — the cheap perplexity-style
    quality proxy (documents full of globally-rare tokens score high;
    repetitive boilerplate scores low). The distributed shape of the
    language-model quality filters used on pretraining corpora.

    Returns (id, n_tokens, mean_nll). Plan: (doc, token) counts reused
    for both the corpus distribution and the per-doc sum; corpus totals
    broadcast (1 row).
    """
    tok = _doc_token_counts(df, text_col, id_col)
    corpus = tok.groupBy("token").agg(F.sum("c").alias("cf"))
    total = corpus.agg(F.sum("cf").alias("n_total"))
    return (
        tok.join(corpus, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.col("c") * F.log(F.col("cf") / F.col("n_total"))) / F.sum("c"),
                6,
            ).alias("mean_nll"),
        )
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_regex: str = "\n",
    join_sep: str = "\n",
    policy: str = "keep_first",
    max_doc_count: int = 2,
) -> DataFrame:
    """Line/paragraph-level exact dedup across the corpus — the
    C4/RefinedWeb boilerplate-removal pass that document-level dedup
    cannot express (nav bars, cookie banners, licence headers repeat
    across otherwise-unique pages).

    Policies:
    - ``keep_first``: every distinct line survives only at its
      globally first occurrence (ordered by (id, position)); all later
      copies — including repeats inside one document — are removed.
    - ``drop_common``: remove EVERY occurrence of lines appearing in
      more than ``max_doc_count`` distinct documents (the C4 rule);
      lines at or below the threshold stay in place, repeats inside a
      single document count once.

    Returns (id, text) with each document reassembled in original line
    order; documents whose every line was removed come back as ''.

    Scale shape: posexplode -> ONE wide shuffle keyed on md5(line)
    (16-byte keys, not line bodies — the same trick as
    :func:`~.dedup.exact_duplicates`) -> groupBy id to reassemble.
    Line order is restored from the recorded position, so the rebuild
    is partitioning-independent.
    """
    if policy not in ("keep_first", "drop_common"):
        raise ValueError(f"unknown policy {policy!r}: use keep_first/drop_common")
    ids = df.select(F.col(id_col)).distinct()
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_regex)).alias("pos", "line"),
    ).withColumn("line_hash", F.md5("line"))
    if policy == "keep_first":
        w = Window.partitionBy("line_hash").orderBy(F.col(id_col), F.col("pos"))
        kept = (
            lines.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
    else:
        w = Window.partitionBy("line_hash")
        kept = (
            lines.withColumn(
                "__docs", F.size(F.collect_set(F.col(id_col)).over(w))
            )
            .filter(F.col("__docs") <= max_doc_count)
            .drop("__docs")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            join_sep,
        ).alias(text_col)
    )
    return ids.join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


#: Gopher "required words" (Rae et al. 2021, A1.1): a doc must contain
#: at least 2 of these to pass the stop-word rule.
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-rules quality filter (Rae et al. 2021, Appendix A1.1 —
    the de-facto standard pretraining quality gate, reused by
    RefinedWeb/Dolma/FineWeb): per-document boolean flags for each
    rule plus the overall ``pass_gopher`` verdict, with the supporting
    counts so downstream reports can explain WHY a doc failed.

    Rules (thresholds as in the paper):
      word count in [50, 100000]; mean word length in [3, 10];
      symbol-to-word ratio (# or ...) < 0.1; < 90% of lines starting
      with a bullet; < 30% of lines ending with an ellipsis; > 80% of
      words containing an alphabetic character; >= 2 of the 8 Gopher
      required words present.

    Every threshold is evaluated as INTEGER cross-multiplication
    (``10*n_symbol < n_words`` instead of ``n_symbol/n_words < 0.1``)
    — no float ratio ever exists, so bucket-boundary ulps can't flip
    a flag, cross-engine or cross-run (SCALING.md hazard #2). Line
    ratios on a doc with no non-empty lines pass vacuously (such docs
    already fail the word-count rule).

    Every count is a NATIVE codegen expression over the raw text —
    zero higher-order lambdas (VERDICT r7 ask 3; the previous
    per-line/per-token ``F.filter``/``aggregate`` folds were
    interpreted per element). The per-line counts are multiline
    regexp_counts with ``(?d)`` (UNIX_LINES: line = ``\\n``-delimited,
    exactly the old ``split("\\n")`` semantics; without it Java
    multiline also breaks on ``\\r``); "line" boundaries mirror
    ``trim``'s space-only stripping via ``^ *``. Per-token counts
    exploit the :func:`tokens` contract (token = maximal ``\\S+``
    run): summed token length = non-whitespace char count, a
    letter-bearing token = a ``\\S`` run containing ``[A-Za-z]``
    (lookbehind-anchored so each run matches at most once), and each
    required word's presence = one word-boundary rlike over the
    lowercased text. Map-side, no shuffle, scan-stage evaluation at
    any scale.
    """
    text = F.col(text_col)

    n_words = F.size(tokens(text))
    word_chars = F.length(F.regexp_replace(text, r"\s+", ""))
    n_symbol = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
        + F.floor(
            (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit(""))))
            / 3
        ).cast("int")
    )
    # non-empty (after space-trim) \n-delimited lines; bullet = trimmed
    # first char in •‣-*; ellipsis = trimmed line ends with .../…
    # (" *$" rejects any non-space trailer, e.g. \r, exactly as
    # trim-then-endswith did)
    n_lines = F.regexp_count(text, F.lit(r"(?dm)^ *[^ \n]"))
    n_bullet = F.regexp_count(text, F.lit(r"(?dm)^ *[•‣*-]"))
    n_ellipsis = F.regexp_count(text, F.lit(r"(?dm)(?:\.\.\.|…) *$"))
    n_alpha = F.regexp_count(text, F.lit(r"(?:^|(?<=\s))\S*[A-Za-z]"))
    lowered = F.lower(text)
    n_stop = sum(
        (
            lowered.rlike(rf"(^|\s){wd}(\s|$)").cast("int")
            for wd in GOPHER_REQUIRED_WORDS
        ),
        F.lit(0),
    )
    s = F.struct(
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_symbol.alias("n_symbol"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet"),
        n_ellipsis.alias("n_ellipsis"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_required_words"),
        ((n_words >= 50) & (n_words <= 100000)).alias("flag_word_count"),
        (
            (word_chars >= 3 * n_words) & (word_chars <= 10 * n_words)
        ).alias("flag_mean_word_len"),
        (10 * n_symbol < n_words).alias("flag_symbol_ratio"),
        ((n_lines == 0) | (10 * n_bullet < 9 * n_lines)).alias("flag_bullet_lines"),
        ((n_lines == 0) | (10 * n_ellipsis < 3 * n_lines)).alias(
            "flag_ellipsis_lines"
        ),
        (5 * n_alpha > 4 * n_words).alias("flag_alpha_words"),
        (n_stop >= 2).alias("flag_required_words"),
    )
    out = df.select(F.col(id_col), s.alias("_g")).select(id_col, "_g.*")
    flag_cols = [c for c in out.columns if c.startswith("flag_")]
    cond = flag_cols[0]
    acc = F.col(cond)
    for c in flag_cols[1:]:
        acc = acc & F.col(c)
    return out.withColumn("pass_gopher", acc)


def js_divergence(
    base: DataFrame,
    cur: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence (base 2, so 0 <= JSD <= 1) between the
    unigram token distributions of two corpora — the text-side drift
    gate complementing :func:`~..stats.population_stability` (PSI) for
    numerics: corpus refreshes, domain rebalances, and contamination
    events all move the token mixture before they move any numeric
    profile.

    JSD = 0.5·KL(P||M) + 0.5·KL(Q||M), M = (P+Q)/2, with 0·log(0) = 0
    (absent terms contribute only via the other side's half).

    Engine/scale notes: one token-count aggregate per corpus (map-side
    combined), a full-outer join on the term, then per-term
    contributions quantized to integer NANO-units before the grand
    total — the vocabulary-sized sum is exact integer addition,
    order-invariant and immune to libm log ulps flipping a float total
    (same discipline as the PSI terms; SCALING.md hazards #2-#3).

    Returns one row: (n_terms_base, n_terms_cur, n_shared, jsd_bits).
    """

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"n_{side}"))
        )

    b, c = counts(base, "b"), counts(cur, "c")
    joined = b.join(c, "term", "full_outer").select(
        "term",
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.coalesce("n_c", F.lit(0)).alias("n_c"),
    )
    tot = joined.agg(
        F.sum("n_b").alias("tb"), F.sum("n_c").alias("tc")
    )
    j = joined.crossJoin(F.broadcast(tot))
    p = F.col("n_b") / F.col("tb")
    q = F.col("n_c") / F.col("tc")
    m = (p + q) / 2
    ln2 = 0.6931471805599453
    contrib = (
        F.when(F.col("n_b") > 0, 0.5 * p * F.log(p / m) / ln2).otherwise(F.lit(0.0))
        + F.when(F.col("n_c") > 0, 0.5 * q * F.log(q / m) / ln2).otherwise(F.lit(0.0))
    )
    per_term = j.select(
        (F.col("n_b") > 0).cast("int").alias("in_b"),
        (F.col("n_c") > 0).cast("int").alias("in_c"),
        F.round(contrib * 1_000_000_000, 0).cast("bigint").alias("c_nano"),
    )
    # jsd_bits is reported at MICRO precision, re-quantized from the
    # exact nano-unit total (hash-stability audit, round 12): a single
    # per-term c_nano can flip by one nano when its pre-round value
    # sits a libm-ulp from the .5 boundary, so hashing the raw
    # nano-total would flake on a 1-nano shift; the micro re-rounding
    # absorbs any plausible handful of such flips (the audit asserts
    # the total sits >= 100 nanos from the micro boundary and that at
    # most a few terms are boundary-near).
    return per_term.agg(
        F.sum("in_b").cast("bigint").alias("n_terms_base"),
        F.sum("in_c").cast("bigint").alias("n_terms_cur"),
        F.sum(F.col("in_b") * F.col("in_c")).cast("bigint").alias("n_shared"),
        (F.round(F.sum("c_nano") / 1000.0, 0).cast("bigint") / 1_000_000.0).alias(
            "jsd_bits"
        ),
    )


#: Minimal public-suffix exceptions for registrable-domain extraction —
#: the common two-level TLDs. A production deployment swaps in the full
#: Mozilla PSL (a broadcast lookup table, same plan shape); the short
#: literal keeps the expression engine-portable for the oracle.
MINI_PUBLIC_SUFFIXES = ["co.uk", "com.au", "co.jp", "com.br", "co.in", "co.ke"]


def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Web-corpus URL featurization: scheme, host (userinfo/port
    stripped), registrable domain (last two labels, or three under a
    known two-level public suffix), TLD, path depth, query-param count
    — the columns a crawl-curation pipeline groups, caps, and
    dedups by (per-domain caps, domain mixing, URL-keyed dedup).

    Pure RE2-safe regex + array expressions (no lookarounds, no
    backrefs), scan-local at any scale; malformed URLs yield ''/0
    rather than NULLs so downstream group-bys keep them countable.
    """
    url = F.col(url_col)
    scheme = F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*)://", 1)
    host = F.regexp_extract(url, r"://(?:[^/@?#]*@)?([^/:?#]+)", 1)
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    two = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    three = F.concat_ws(".", F.element_at(labels, -3), two)
    psl = F.array(*[F.lit(s) for s in MINI_PUBLIC_SUFFIXES])
    registrable = (
        F.when(host == "", F.lit(""))
        .when((n >= 3) & F.array_contains(psl, two), three)
        .when(n >= 2, two)
        .otherwise(host)
    )
    return df.withColumns(
        {
            "scheme": scheme,
            "host": host,
            "registrable_domain": registrable,
            "tld": F.when(host == "", F.lit("")).otherwise(F.element_at(labels, -1)),
            # array_remove, not an F.filter lambda: removing "" segments
            # is the codegen-safe idiom (see tokens()); the interpreted
            # higher-order filter is reserved for genuine predicates
            "path_depth": F.size(
                F.array_remove(F.split(path, "/"), "")
            ).cast("int"),
            "n_query_params": F.when(query == "", F.lit(0))
            .otherwise(F.size(F.split(query, "&")))
            .cast("int"),
        }
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 full-text retrieval: top-k documents per query under the
    Robertson/Sparck-Jones ranking function with the Lucene idf variant
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (always positive, so a term
    appearing in most documents cannot flip scores negative).

    ``queries`` is a small (query_id, query_text) table — the search
    workload. Per (query, doc) score:

        sum over query terms t of
            idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Per-term contributions are quantized to integer micro-units and
    summed as BIGINTs, so the total is order-invariant exact addition
    (float sums re-associate across partitions; see js_divergence).

    Plan shape (the inverted-index query plan): the (doc, token) tf
    table is the posting list; query terms and their per-term df stats
    are tiny and BROADCAST onto it, so scoring touches only postings
    of queried terms — postings are broadcast-semi-filtered to the
    query vocabulary at the scan, so NOTHING corpus-sized ever
    shuffles. Document length ``dl`` is computed scan-local and rides
    the filtered tf shuffle as a per-group constant; the final top-k
    is one window over the (query, candidate-doc) set. 100 TB: two
    column-pruned corpus scans (postings filter + avgdl), zero
    corpus-sized shuffles; candidate set is |docs containing a query
    term|, not |docs| x |queries|.

    Returns (query_id, doc_id, score_micros, rank), rank 1..k by
    descending score with doc-id tie-break.
    """
    q_terms = queries.select(
        "query_id", F.explode(F.array_distinct(tokens("query_text"))).alias("token")
    )
    # Postings are semi-filtered to the query vocabulary BEFORE any
    # aggregate (broadcast semi join against the exploded scan), so
    # nothing corpus-sized ever shuffles — only matching postings do.
    # dl rides through that filtered shuffle as a per-group constant.
    # tokenize ONCE per row (two-step projection), not once for dl and
    # again for the explode — the tokenizer is the scan's hot loop
    base = (
        docs.select(F.col(id_col), tokens(text_col).alias("__tk"))
        .select(
            F.col(id_col),
            F.size("__tk").cast("bigint").alias("dl"),
            F.explode("__tk").alias("token"),
        )
        .join(F.broadcast(q_terms.select("token").distinct()), "token", "semi")
    )
    tf = base.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    avg = docs.select(token_count(text_col).cast("bigint").alias("dl")).agg(
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    term_stats = (
        q_terms.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(avg))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
    )
    contrib = (
        tf.join(F.broadcast(term_stats), "token")
        .withColumn(
            "w_micros",
            F.round(
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * ((1 - b) + b * F.col("dl") / F.col("avgdl")))
                * 1e6
            ).cast("bigint"),
        )
    )
    scored = contrib.groupBy("query_id", id_col).agg(
        F.sum("w_micros").alias("score_micros")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micros"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score_micros", "rank")
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    by_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus unigram-LM mean negative log-likelihood (``unigram_logprob``)
    and split each ``by_col`` group (per-language, as CCNet does) into
    equal-count quality buckets — head (lowest nll), middle, tail.

    Bucket boundaries are TRUE order statistics: rank each group by the
    rounded nll (doc-id tie-break) and assign
    ``bucket_idx = (rank - 1) * n_buckets DIV group_count`` — pure
    integer arithmetic, so bucket membership cannot drift with float
    quantile interpolation or summation order. Groups split into sizes
    differing by at most 1.

    Zero-token documents (empty/whitespace text) have no defined
    perplexity; rather than silently dropping them (the LM join is
    inner), they come back with n_tokens=0, mean_nll NULL, and the
    'tail' bucket — the conservative curation call (an empty doc is
    never head-quality), and every input row is accounted for.

    Plan: one explode+agg for the LM (shared `_doc_token_counts`
    pre-aggregate), a doc-keyed join to recover ``by_col``, ONE
    window shuffle on the group key, and a cheap anti-join union for
    the empty docs. Returns (doc_id, by_col, n_tokens, mean_nll,
    bucket).
    """
    nll = unigram_logprob(docs, text_col, id_col)
    grp = nll.join(docs.select(F.col(id_col), F.col(by_col)), id_col)
    w = Window.partitionBy(by_col).orderBy(F.asc("mean_nll"), F.asc(id_col))
    wn = Window.partitionBy(by_col)
    ranked = grp.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(wn)
    )
    # integer DIV: bucket membership is exact order-statistic arithmetic
    bucket_idx = F.expr(f"(( __rn - 1) * {int(n_buckets)}) div __cnt").cast("int")
    bucket = (
        F.when(bucket_idx == 0, "head")
        .when(bucket_idx == n_buckets - 1, "tail")
        .otherwise("middle")
    )
    scored = ranked.select(
        id_col, by_col, "n_tokens", "mean_nll", bucket.alias("bucket")
    )
    empty = (
        docs.join(nll.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(by_col),
            F.lit(0).cast("bigint").alias("n_tokens"),
            F.lit(None).cast("double").alias("mean_nll"),
            F.lit("tail").alias("bucket"),
        )
    )
    return scored.unionByName(empty)


def quality_classifier_score(
    df: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> DataFrame:
    """FastText/CCNet-style learned quality filter, trained and applied
    in one job: multinomial Naive-Bayes log-odds weights over a capped
    vocabulary, scored as a single linear pass over each document's
    tokens (the production shape of "train a cheap classifier on a
    curated positive set, score the crawl" — the reference's analogue
    is its rule-driven anomaly flags, pipeline-cleaning/R/
    05.run_anomaly_detection.R, which are hand-written predicates; this
    is the learned version a 100 TB corpus needs).

    ``label`` is a boolean Column over ``df``'s columns defining the
    positive class (e.g. ``F.col("n_chars") >= 300`` for a
    length-proxy, or membership in a curated id set). Training:

    - vocabulary = top-``vocab_size`` tokens by corpus frequency
      (ties broken by token text, so the cap is deterministic);
    - per-token weight ``w = ln((pos_c+1)/(pos_tot+V)) -
      ln((neg_c+1)/(neg_tot+V))`` (add-one smoothing, multinomial NB);
    - prior ``ln(n_pos_docs / n_neg_docs)``.

    Score(doc) = prior + sum of ``w`` over the doc's vocab-token
    OCCURRENCES (repeats count, as in multinomial NB); ``pred`` is
    ``score > 0``. Docs with zero vocab tokens keep the prior.

    Scale: two map-side-combinable shuffles (token counts, per-doc
    sums); the weight table is <= V rows and broadcast into the
    scoring join, so the corpus is scanned twice and never
    re-shuffled on a text-sized key. Pure Column expressions
    end-to-end — no Python in the hot path.
    """
    v = int(vocab_size)
    toks = df.select(
        F.col(id_col),
        label.cast("boolean").alias("__pos"),
        F.explode(tokens(text_col)).alias("token"),
    )
    # class-conditional occurrence counts, vocabulary cap applied by
    # rank over total frequency (count desc, token asc)
    cls = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("pc"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("nc"),
    )
    vocab = cls.orderBy(F.col("c").desc(), F.col("token").asc()).limit(v)
    tot = vocab.agg(
        F.sum("pc").alias("pt"), F.sum("nc").alias("nt")
    )
    weights = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "token",
            (
                F.log((F.col("pc") + F.lit(1.0)) / (F.col("pt") + F.lit(float(v))))
                - F.log((F.col("nc") + F.lit(1.0)) / (F.col("nt") + F.lit(float(v))))
            ).alias("w"),
        )
    )
    # try_divide: a single-class corpus (no positives or no negatives)
    # yields NULL scores for every doc rather than an ANSI-mode
    # division-by-zero crash mid-plan — the documented contract is
    # "supply both classes", and NULL is the visible, filterable signal
    prior = df.agg(
        F.log(
            F.try_divide(
                F.sum(label.cast("int")).cast("double"),
                F.sum((~label).cast("int")).cast("double"),
            )
        ).alias("__prior")
    )
    docsum = (
        toks.join(F.broadcast(weights), "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_vocab_tokens"),
            F.sum("w").alias("__s"),
        )
    )
    # pred derives from the ROUNDED score (ADVICE r11): F.sum over
    # doubles is partition-order dependent, so a near-zero raw sum
    # could flip `raw > 0` across runs/engines even when the rounded
    # score agrees — round first, compare once, hash-stable boolean.
    score = F.round(F.coalesce("__s", F.lit(0.0)) + F.col("__prior"), 6)
    return (
        df.select(id_col)
        .join(docsum, id_col, "left")
        .crossJoin(F.broadcast(prior))
        .select(
            F.col(id_col),
            F.coalesce("n_vocab_tokens", F.lit(0)).cast("bigint").alias(
                "n_vocab_tokens"
            ),
            score.alias("score"),
            (score > 0).alias("pred"),
        )
    )

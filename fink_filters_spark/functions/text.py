"""Text-analysis Column expressions (LLM-data-pipeline surface).

All native Catalyst expressions — regexp/split/aggregate — so a 100 TB
document sweep stays inside whole-stage codegen. The polynomial character
hash doubles as the shingle hash for MinHash (operators/dedup.py) and as the
document fingerprint; it is defined so the DuckDB oracle can reproduce it
exactly (``list_reduce`` over ``ascii`` codes, mod 2^31-ish prime).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Modulus keeps acc*31 + code < 2^63 (66571993087 * 31 + 255 << 9.2e18).
FP_MOD = 66571993087  # prime
FP_BASE = 31

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic so the heuristic is
# SQL-expressible in both engines.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "es": ["el", "la", "de", "y", "un"],
    "de": ["der", "die", "das", "und", "ein"],
}

PUNCT_RE = r"[^\w\s]"
TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/number/punct tokenizer (GPT-2-style coarse classes).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text) -> Column:
    """Whitespace token count."""
    t = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), TOKEN_SPLIT_RE))
    )


def bpe_ish_count(text) -> Column:
    """Token count under a BPE-ish regex (letters runs / digit runs / punct)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_RE), F.lit(0)))


def punct_ratio(text) -> Column:
    """punctuation chars / total chars (0 for empty)."""
    t = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(t) - F.length(F.regexp_replace(t, PUNCT_RE, ""))
    return F.when(F.length(t) > 0, n_punct.cast("double") / F.length(t)).otherwise(F.lit(0.0))


def stopword_ratio(text, stopwords: list[str]) -> Column:
    """fraction of whitespace tokens that are in ``stopwords``."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(t)), TOKEN_SPLIT_RE)
    hits = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def _char_fold(s: Column) -> Column:
    """The ONE polynomial char-fold everything hashes with:
    ``fold(acc, c) = (acc * FP_BASE + ascii(c)) % FP_MOD``. Shared by
    char_fingerprint / word_hashes / shingle_hash so the DuckDB-oracle
    parity contract cannot drift between copies."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + F.ascii(c)) % FP_MOD,
    )


def char_fingerprint(text) -> Column:
    """Polynomial rolling hash over characters, mod FP_MOD (document
    fingerprint; exact DuckDB mirror:
    ``list_reduce(list_prepend(0, [ascii(c) for c in split(text,'')]),
    (a, b) -> (a * 31 + b) % FP_MOD)``)."""
    t = F.col(text) if isinstance(text, str) else text
    return _char_fold(t)


def word_shingles(text, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>), lowercase, whitespace
    tokenized — the unit set for Jaccard/MinHash dedup."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(t)), TOKEN_SPLIT_RE)
    k = F.size(toks) - (n - 1)
    # guard: sequence(1, 0) would DESCEND and feed slice() an invalid start
    return F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(text, n: int = 5) -> Column:
    """Distinct character n-gram shingles (array<string>)."""
    t = F.col(text) if isinstance(text, str) else text
    k = F.length(t) - (n - 1)
    return F.when(
        k >= 1,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(t, i, F.lit(n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


WORD_COMBINE_BASE = 37


def word_hashes(text) -> Column:
    """Per-token polynomial hashes: array<long>, one char-fold per word."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(t)), TOKEN_SPLIT_RE)
    return F.transform(toks, _char_fold)


def combine_word_hashes(wh_col: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Hashed word n-gram shingles from a word-hash array column:
    h = ((h1*37 + h2) % P * 37 + h3) % P.
    ``distinct=False`` keeps positional duplicates (needed by repetition
    scoring, where the duplicate fraction IS the signal).

    The input array is bound ONCE, as the argument of a one-element
    ``transform``, and every shingle position reads that lambda variable.
    A plain column reference is not enough: Catalyst collapses projections
    and pushes filters through them, so a ``word_hashes(text)`` one select
    upstream would be inlined into every ``element_at`` and re-evaluated
    per shingle position, turning the O(words) hash pass into
    O(words * shingles). Typical use:

        df.select(word_hashes("text").alias("wh")) \\
          .select(combine_word_hashes("wh", 3).alias("sh"))

    ~7x fewer interpreted fold steps than hashing each shingle string.
    Bounds: h < FP_MOD ~ 6.7e10; *37 + h -> 2.5e12 << 2^63.
    """
    wh = F.col(wh_col) if isinstance(wh_col, str) else wh_col

    def _grams(w):
        k = F.size(w) - (n - 1)

        def _combine(i):
            h = F.element_at(w, i)
            for j in range(1, n):
                h = (h * WORD_COMBINE_BASE + F.element_at(w, i + j)) % FP_MOD
            return h

        grams = F.transform(F.sequence(F.lit(1), k), _combine)
        if distinct:
            grams = F.array_distinct(grams)
        return F.when(k >= 1, grams).otherwise(F.array().cast("array<long>"))

    return F.element_at(F.transform(F.array(wh), _grams), 1)


def winnow_select(grams_col: Column | str, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 §4, Fig. 5 — the MOSS algorithm) over a
    MATERIALIZED positional k-gram hash array column (the
    ``combine_word_hashes(wh, k, distinct=False)`` output; two-stage use
    for the same re-evaluation reason documented there).

    Every window of ``w`` consecutive gram hashes records its MINIMUM,
    ties broken by RIGHTMOST position; consecutive windows re-selecting
    the same occurrence contribute it once. Guarantee: two documents
    sharing a token run of >= w+k-1 tokens share at least one selected
    fingerprint value; expected selection density is 2/(w+1) of grams.

    Returns the sorted distinct SELECTED POSITIONS (``array<int>``,
    1-based gram index — one fingerprint per position, so positions are
    the canonical dedup key; fetch values with ``element_at(grams, p)``).
    Row-local O(grams·w) codegen fold, no shuffle: a 100 TB corpus
    winnows at scan speed. Docs with 0 < grams < w winnow one truncated
    window (the MOSS short-tail behavior); an empty gram array selects
    nothing.
    """
    g = F.col(grams_col) if isinstance(grams_col, str) else grams_col
    m = F.size(g)
    wl = F.least(F.lit(w), m)  # effective window for short docs

    def _argmin(p):
        # rightmost minimum of g[p .. p+wl-1]: ascending fold, <= keeps
        # the later position on ties (the paper's Fig. 5 tie rule —
        # rightmost minimal hash; NOT the "robust" variant of §5.2,
        # which would prefer re-selecting the previous window's hash)
        return F.aggregate(
            F.sequence(F.lit(0), wl - 1),
            F.struct(
                F.lit(0).alias("pos"), F.lit(None).cast("long").alias("fp")
            ),
            lambda a, j: F.when(
                a["fp"].isNull() | (F.element_at(g, p + j) <= a["fp"]),
                F.struct(
                    (p + j).alias("pos"), F.element_at(g, p + j).alias("fp")
                ),
            ).otherwise(a),
            lambda a: a["pos"],
        )

    return F.when(
        m >= 1,
        F.array_sort(
            F.array_distinct(F.transform(F.sequence(F.lit(1), m - wl + 1), _argmin))
        ),
    ).otherwise(F.array().cast("array<int>"))


# PII detection patterns — RE2/Java-compatible (no lookarounds), so the
# Spark (java.util.regex) and DuckDB (RE2) engines agree on every match.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,}\d",
    "digit_run": r"\d{6,}",
}


def pii_counts(text) -> dict[str, Column]:
    """Per-kind PII match counts for a text column (training-data redaction
    signal). Returns {kind: count Column}; all native regexp_extract_all,
    so the scan stays inside codegen."""
    t = F.col(text) if isinstance(text, str) else text
    return {
        kind: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text) -> Column:
    """Replace every PII match with a ``<KIND>`` placeholder — the scrub
    pass paired with ``pii_counts``. Chained native ``regexp_replace``
    (replace-all), applied in PII_PATTERNS order so engines agree even
    when patterns overlap (earlier kinds consume their spans first).
    Whole chain stays inside codegen."""
    t = F.col(text) if isinstance(text, str) else text
    for kind, pat in PII_PATTERNS.items():
        t = F.regexp_replace(t, pat, f"<{kind.upper()}>")
    return t


def shingle_hash(shingle_col: Column) -> Column:
    """Polynomial hash of one shingle string (same scheme as
    char_fingerprint) — array<string> -> array<long>."""
    return F.transform(shingle_col, _char_fold)


def repetition_stats(text) -> dict[str, Column]:
    """Within-document repetition signals (the Gopher repetition filter
    family — Rae et al. 2021, "Scaling Language Models: ... Gopher",
    App. A1.1: excessive within-doc repetition marks low-quality /
    machine-generated text). Returns exact-integer Columns over the
    engine-wide whitespace tokenization:

    - ``n_tok``: token count;
    - ``top_tok_cnt``: multiplicity of the most frequent token (the
      "top word fraction" numerator) — a fold over the SORTED token
      array tracking the longest equal-run, row-local;
    - ``n_bigrams`` / ``dup_bigrams``: adjacent-token bigrams and how
      many of them are repeats of an earlier bigram in the SAME document
      (``n - distinct``, the "duplicate n-gram fraction" numerator).

    All four are row-local array expressions (sort + fold + zip_with)
    inside codegen: a 100 TB sweep computes them at scan speed with NO
    shuffle — repetition is a per-document property, unlike the corpus
    -wide dedup family. Ratios are left to the caller so it can pick the
    exact-integer ppm convention (queries/text.py q_text_repetition).
    """
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(t)), TOKEN_SPLIT_RE)
    n_tok = F.size(toks).cast("long")
    srt = F.array_sort(toks)
    run = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(a["prev"]), a["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    # adjacent bigrams joined on an unseparable control char (tokens are
    # whitespace-split, so 0x1f can't occur inside one)
    head = F.slice(toks, 1, F.size(toks) - 1)
    tail = F.slice(toks, 2, F.size(toks) - 1)
    bg = F.zip_with(head, tail, lambda a, b: F.concat(a, F.lit("\x1f"), b))
    n_bg = F.size(bg).cast("long")
    dup_bg = (n_bg - F.size(F.array_distinct(bg)).cast("long")).cast("long")
    return {
        "n_tok": n_tok,
        "top_tok_cnt": run.cast("long"),
        "n_bigrams": n_bg,
        "dup_bigrams": dup_bg,
    }

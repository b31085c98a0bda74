"""Corpus-curation queries (LLM-data-pipeline surface, part 2):
benchmark decontamination, repetition scoring, PII flagging, and
deterministic global shuffle-sharding — the hygiene/ordering steps a
pretraining pipeline runs after dedup and before tokenization.

Oracle parity: the n-gram machinery mirrors queries/dedup.py's shared hash
scheme (word char-fold mod FP_MOD, 37-base combine), so the DuckDB oracles
reproduce the exact shingle sets. PII regexes are RE2/Java-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import PII_PATTERNS, combine_word_hashes, pii_counts, word_hashes
from ..operators.dedup import contamination_fraction, decontaminate, duplicated_spans
from ..operators.sample import mixture_sample
from ..tables import load_table
from . import QuerySpec
from .dedup import SHH3_SQL, TOKS_SQL, _hash_sql, toks_sql

EVAL_MOD = 97  # doc_id % 97 == 0 -> the held-out "benchmark" slice


def pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: training docs (doc_id % 97 != 0) that share NO
    word-3-gram with the deterministic eval slice (doc_id % 97 == 0).
    Eval shingles broadcast; corpus is scanned once (operators/dedup.py
    ``decontaminate``)."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    return decontaminate(train, ev, "doc_id", "text", n=3).select("doc_id")


DECONTAM_SQL = f"""
WITH s AS ({SHH3_SQL}),
ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} <> 0),
bad AS (SELECT DISTINCT doc_id FROM tr WHERE g IN (SELECT g FROM ev))
SELECT d.doc_id
FROM documents d
WHERE d.doc_id % {EVAL_MOD} <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
"""


def pipe_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination: per training doc, the fraction of its
    distinct word-3-gram shingles that occur anywhere in the eval slice
    (doc_id % 97 == 0) — the thresholdable companion to the binary
    ``pipe_decontaminate`` drop (operators/dedup.py
    ``contamination_fraction``: broadcast eval shingles, one corpus scan)."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    # hash-stability: exact integer ppm on the hash surface (DESIGN.md)
    return contamination_fraction(train, ev, "doc_id", "text", n=3).select(
        "doc_id",
        "n_shingles",
        "n_hit",
        F.expr(
            "CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000)"
            " div n_shingles AS LONG)"
        ).alias(
            "contamination_ppm"
        ),
    )


CONTAM_FRAC_SQL = f"""
WITH s AS ({SHH3_SQL}),
ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} <> 0)
SELECT tr.doc_id,
       count(*) AS n_shingles,
       count(e.g) AS n_hit,
       CAST((CAST(count(e.g) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
           AS contamination_ppm
FROM tr LEFT JOIN ev e ON tr.g = e.g
GROUP BY tr.doc_id
"""


SPAN_N = 5  # duplicated-span window (tokens)


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication profile: per doc, how many of its
    5-token spans occur verbatim in >= 2 distinct docs, and how many token
    positions those spans cover (the trim set of an ExactSubstr-style
    rewrite). operators/dedup.py ``duplicated_spans``: inverted-index
    shuffle on the span hash, position-explode interval union."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, "doc_id", "text", n=SPAN_N)


_SPAN_G = "wh[i]"
for _j in range(1, SPAN_N):
    _SPAN_G = f"({_SPAN_G} * 37 + wh[i+{_j}]) % 66571993087"

DEDUP_SUBSTR_SQL = f"""
WITH w AS (
  SELECT doc_id, list_transform(toks, s -> {_hash_sql('s')}) AS wh
  FROM ({TOKS_SQL})
),
sp AS (
  SELECT doc_id, t.i - 1 AS pos, {_SPAN_G} AS g
  FROM w CROSS JOIN LATERAL unnest(generate_series(1, len(wh) - {SPAN_N - 1}))
           AS t(i)
  WHERE len(wh) >= {SPAN_N}
),
freq AS (SELECT g FROM sp GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
dup AS (SELECT sp.* FROM sp WHERE g IN (SELECT g FROM freq)),
cov AS (
  SELECT doc_id, count(DISTINCT pos + u.j) AS covered_tokens
  FROM dup CROSS JOIN LATERAL unnest(generate_series(0, {SPAN_N - 1})) AS u(j)
  GROUP BY doc_id
),
nd AS (SELECT doc_id, count(*) AS n_dup_spans FROM dup GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
SELECT tot.doc_id, tot.n_spans,
       coalesce(nd.n_dup_spans, 0) AS n_dup_spans,
       coalesce(cov.covered_tokens, 0) AS covered_tokens
FROM tot
LEFT JOIN nd USING (doc_id)
LEFT JOIN cov USING (doc_id)
"""


def md5_bucket_sql(expr: str, modulus: int, n_hex: int = 5) -> str:
    """DuckDB replica of ``operators.sample.md5_bucket`` — identical hex
    arithmetic over the same md5 string, so buckets are bit-equal."""

    def hv(i: int) -> str:
        a = f"ascii(substr(md5(CAST({expr} AS VARCHAR)), {i}, 1))"
        return f"({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"

    v = f"CAST({hv(1)} AS BIGINT)"  # BIGINT accumulator, as the Spark side
    for i in range(2, n_hex + 1):
        v = f"({v} * 16 + {hv(i)})"
    return f"({v} % {modulus})"


def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr trim rewrite: drop every token covered by a cross-doc
    duplicated 5-token span, reassemble, and byte-pin the result via md5
    (operators/dedup.py ``trim_duplicated_spans`` — the ship step behind
    the ``dedup_substring`` profile)."""
    from ..operators.dedup import trim_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return trim_duplicated_spans(docs, "doc_id", "text", n=SPAN_N)


DEDUP_SUBSTR_REWRITE_SQL = f"""
WITH w AS (
  SELECT doc_id, toks, list_transform(toks, s -> {_hash_sql('s')}) AS wh
  FROM ({TOKS_SQL})
),
sp AS (
  SELECT doc_id, t.i - 1 AS pos, {_SPAN_G} AS g
  FROM w CROSS JOIN LATERAL unnest(generate_series(1, len(wh) - {SPAN_N - 1}))
           AS t(i)
  WHERE len(wh) >= {SPAN_N}
),
freq AS (SELECT g FROM sp GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT doc_id, pos + u.j AS pos
  FROM sp CROSS JOIN LATERAL unnest(generate_series(0, {SPAN_N - 1})) AS u(j)
  WHERE g IN (SELECT g FROM freq)
),
tokpos AS (
  SELECT doc_id, t.i - 1 AS pos, toks[t.i] AS tok
  FROM w CROSS JOIN LATERAL unnest(generate_series(1, len(toks))) AS t(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tokpos tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
  WHERE cov.pos IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS trimmed
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(coalesce(len(w.toks), 0) AS BIGINT) AS n_tokens,
       coalesce(agg.kept_tokens, 0) AS kept_tokens,
       md5(coalesce(agg.trimmed, '')) AS trimmed_md5
FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
"""


MIX_RATES = {"src0": 1000, "src1": 500, "src2": 250, "src3": 125}
MIX_DEFAULT = 700


def pipe_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling: down-weight each source to a target
    per-mille rate (src0 keep-all ... src3 1/8, everything else 70%) via
    the deterministic md5-bucket survival test, then report the post-mix
    per-source composition. operators/sample.py ``mixture_sample``:
    the rates mapping becomes a literal CASE rate, zero-shuffle filter."""
    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs, MIX_RATES, key="doc_id", source_col="source",
        default_permille=MIX_DEFAULT,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


_mix_case = "CASE source " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in MIX_RATES.items()
) + f" ELSE {MIX_DEFAULT} END"

MIXTURE_SQL = f"""
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE {md5_bucket_sql('doc_id', 1000)} < {_mix_case}
GROUP BY source
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate word-3-grams
    per document (1 - distinct/total). Two-stage select materializes the
    word-hash array once (see combine_word_hashes docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    wh = docs.select("doc_id", word_hashes("text").alias("__wh")).filter(
        F.size("__wh") >= 3
    )
    grams = wh.select(
        "doc_id", combine_word_hashes("__wh", 3, distinct=False).alias("__g")
    )
    total = F.size("__g").cast("long")
    uniq = F.size(F.array_distinct("__g")).cast("long")
    return grams.select(
        "doc_id",
        total.alias("n_grams"),
        uniq.alias("n_distinct"),
        (
            F.lit(1000000).cast("long")
            - ((uniq * 1000000 - (uniq * 1000000) % total) / total).cast("long")
        ).alias("rep_ppm"),
    )


REPETITION_SQL = f"""
SELECT doc_id,
       CAST(len(g) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
       CAST(1000000 - (CAST(len(list_distinct(g)) AS BIGINT) * 1000000) // CAST(len(g) AS BIGINT) AS BIGINT)
           AS rep_ppm
FROM (
  SELECT doc_id,
         list_transform(
           generate_series(1, len(wh) - 2),
           i -> ((wh[i] * 37 + wh[i+1]) % 66571993087 * 37 + wh[i+2]) % 66571993087
         ) AS g
  FROM (
    SELECT doc_id,
           list_transform(string_split_regex(lower(trim(text)), '\\s+'),
             s -> list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
                    (a, b) -> (a * 31 + b) % 66571993087)) AS wh
    FROM documents
  )
  WHERE len(wh) >= 3
)
"""


def text_pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII match counts per document (email / ipv4 / phone / long digit
    run) — the redaction pre-pass. Native regexp_extract_all keeps the
    whole scan inside codegen; on this synthetic corpus counts are mostly
    zero, the unit tests pin the patterns on crafted strings."""
    docs = load_table(spark, sf_dir, "documents")
    counts = pii_counts("text")
    has = None
    for c in counts.values():
        has = c if has is None else has + c
    return docs.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        (has > 0).alias("has_pii"),
    )


_pii_terms = " + ".join(
    f"len(regexp_extract_all(text, '{p}'))" for p in PII_PATTERNS.values()
)
PII_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    + f", ({_pii_terms}) > 0 AS has_pii FROM documents"
)


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (the scrub pass behind ``text_pii_flags``): every
    match replaced by a ``<KIND>`` placeholder via chained native
    regexp_replace — one codegen'd projection, no UDF, no shuffle. The
    query returns md5 + length of the redacted text (not the text itself)
    so the oracle compare stays small while still pinning every byte."""
    from ..functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    red = redact_pii("text")
    return docs.select(
        "doc_id",
        F.md5(red).alias("red_md5"),
        F.length(red).cast("long").alias("red_len"),
    )


_redact_expr = "text"
for _k, _p in PII_PATTERNS.items():
    _redact_expr = f"regexp_replace({_redact_expr}, '{_p}', '<{_k.upper()}>', 'g')"
REDACT_SQL = (
    f"SELECT doc_id, md5({_redact_expr}) AS red_md5, "
    f"CAST(length({_redact_expr}) AS BIGINT) AS red_len FROM documents"
)


def pipe_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: key = md5 of the
    doc id, shard = the md5-hex bucket mod 64 (``md5_bucket``). Shard
    assignment is per-row arithmetic — no sort, no shuffle, no window — so
    it scales embarrassingly; a trainer reads shards in key order to get a
    reproducible, uniformly mixed epoch.

    (The earlier ascii-fold ``(a*256 + b) % 64`` was a bug: 256 % 64 == 0,
    so only the second hex digit survived and 16 of the 64 shards were
    ever produced — caught when the example pipeline printed 16 shards.)"""
    from ..operators.sample import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    return docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        md5_bucket("doc_id", 64).cast("long").alias("shard"),
    )


SHUFFLE_SQL = f"""
SELECT doc_id,
       md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST({md5_bucket_sql('doc_id', 64)} AS BIGINT) AS shard
FROM documents
"""


# ---- per-source caps + robust outlier profile ------------------------------

SOURCE_CAP = 120  # max docs kept per source
CAP_MOD = 16 ** 5  # raw 5-hex md5 value: a uniform deterministic sort key


def pipe_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (the CommonCrawl-style per-domain cap: no
    single origin may dominate the training mix): within each ``source``,
    rank docs by a deterministic md5 shuffle key and keep the first
    {SOURCE_CAP}. Output: every surviving (doc_id, source, cap_rank).

    The md5 key makes the "random" selection reproducible across engines
    and insensitive to id-allocation structure (a sequential-id ORDER BY
    would keep each source's OLDEST docs — a time-skewed sample). Scale:
    one hash-partitioned window per source; skewed sources are one hot
    partition each, bounded by the source's own row count, and only rank
    <= cap survives the window's streaming evaluation."""
    from ..operators.sample import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_bucket("doc_id", CAP_MOD).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= SOURCE_CAP)
    )


SOURCE_CAP_SQL = f"""
SELECT doc_id, source, cap_rank FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY {md5_bucket_sql('doc_id', CAP_MOD)} ASC, doc_id ASC
         ) AS INTEGER) AS cap_rank
  FROM documents
) WHERE cap_rank <= {SOURCE_CAP}
"""


MAD_K_E6 = 3_000_000  # flag |x - median| > 3.0 * MAD, in 1e-6 units


def pipe_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier profile: median and MAD (median
    absolute deviation) of ``n_chars`` per source, and how many docs fall
    outside median +/- 3*MAD — the robust alternative to z-scores for
    curation cutoffs (MAD ignores the very outliers a stddev would absorb).

    Exact medians (both engines interpolate even-count medians the same
    way on integer inputs: the .5 midpoint is exactly representable);
    the 3*MAD comparison is scaled to exact integers (x1e6) so the flag
    is pure integer arithmetic. Scale: two grouped medians = two shuffles
    on source (the second over (source, |x-med|) pairs), one broadcast
    join of the per-source stats back onto the scan."""
    docs = load_table(spark, sf_dir, "documents")
    med = docs.groupBy("source").agg(F.median("n_chars").alias("med"))
    dev = (
        docs.join(F.broadcast(med), "source")
        .select("source", "med", F.abs(F.col("n_chars") - F.col("med")).alias("__ad"))
    )
    mad = dev.groupBy("source").agg(F.median("__ad").alias("mad"))
    stats = med.join(mad, "source")
    flagged = docs.join(F.broadcast(stats), "source").select(
        "source", "med", "mad",
        (
            F.round(F.abs(F.col("n_chars") - F.col("med")) * 1e6).cast("long")
            > F.round(F.col("mad") * F.lit(MAD_K_E6)).cast("long")
        ).cast("int").alias("__out"),
    )
    return flagged.groupBy("source").agg(
        # hash-stability: a median of integers is an integer or an exact
        # .5 midpoint, so 2*median is an exact BIGINT in every engine
        # (DESIGN.md "integer micro-units").
        (F.first("med") * 2).cast("long").alias("med_chars_x2"),
        (F.first("mad") * 2).cast("long").alias("mad_chars_x2"),
        F.sum("__out").alias("n_outliers"),
        F.count(F.lit(1)).alias("n_docs"),
    )


OUTLIER_MAD_SQL = f"""
WITH med AS (
  SELECT source, median(n_chars) AS med FROM documents GROUP BY source
),
mad AS (
  SELECT d.source, median(abs(d.n_chars - m.med)) AS mad
  FROM documents d JOIN med m ON d.source = m.source
  GROUP BY d.source
)
SELECT d.source,
       CAST(any_value(m.med) * 2 AS BIGINT) AS med_chars_x2,
       CAST(any_value(x.mad) * 2 AS BIGINT) AS mad_chars_x2,
       CAST(sum(CASE WHEN CAST(round(abs(d.n_chars - m.med) * 1e6) AS BIGINT)
                          > CAST(round(x.mad * {MAD_K_E6}) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n_docs
FROM documents d
JOIN med m ON d.source = m.source
JOIN mad x ON d.source = x.source
GROUP BY d.source
"""



DSIR_TOP_K = 50


def pipe_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): weight every non-src0
    document by the hashed-unigram log-likelihood ratio against the src0
    target slice and keep the top 50 — domain-targeted data selection
    without a trained classifier (operators/dsir.py: bucket counting is
    two partial-agg'd groupBys, the 1024-row weight table broadcasts, the
    per-doc score is an order-independent integer sum).

    The top-50 cut is ``orderBy().limit()`` — TakeOrderedAndProject keeps
    a 50-row heap PER PARTITION and merges heaps, never moving the scored
    corpus to one task (the round-9 verdict flagged the previous global
    rank window as single-partition; same shape as text_bm25's TOPK cut,
    queries/text.py).

    Round 10: the weight fit runs as ONE flagged tokenize/hash pass over
    the whole table (``dsir_bucket_weights_flagged``) instead of one pass
    per slice — target and raw are both slices of ``documents``, so the
    stage profile showed three near-equal Arrow kernel stages where two
    are fundamental (fit + score); same integers, oracle unchanged."""
    from ..operators.dsir import dsir_bucket_weights_flagged, dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != "src0")
    w = dsir_bucket_weights_flagged(
        docs, "doc_id", "text", F.col("source") == "src0"
    )
    scored = dsir_scores(raw, w, "doc_id", "text").withColumnRenamed("id", "doc_id")
    return (
        scored.orderBy(F.desc("micro_sum"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
        .select("doc_id", "n_tok", "micro_sum")
    )


_DSIR_B = 1024
DSIR_SQL = f"""
WITH occ AS (
  SELECT doc_id, source, {_hash_sql('tok')} % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, source, unnest(toks) AS tok
        FROM ({toks_sql("source")}))
),
t AS (SELECT bucket, count(*) AS tc FROM occ WHERE source = 'src0' GROUP BY bucket),
r AS (SELECT bucket, count(*) AS rc FROM occ WHERE source <> 'src0' GROUP BY bucket),
j AS (
  SELECT coalesce(t.bucket, r.bucket) AS bucket,
         coalesce(tc, 0) AS tc, coalesce(rc, 0) AS rc
  FROM t FULL OUTER JOIN r ON t.bucket = r.bucket
),
tot AS (SELECT sum(tc) AS T, sum(rc) AS R FROM j),
w AS (
  SELECT bucket,
         CAST(round(ln((CAST(tc + 1 AS DOUBLE) / (T + {_DSIR_B}))
                       / (CAST(rc + 1 AS DOUBLE) / (R + {_DSIR_B}))) * 1000000)
              AS BIGINT) AS w_micro
  FROM j, tot
),
sc AS (
  SELECT occ.doc_id, count(*) AS n_tok,
         CAST(sum(w.w_micro) AS BIGINT) AS micro_sum
  FROM occ JOIN w ON occ.bucket = w.bucket
  WHERE occ.source <> 'src0'
  GROUP BY occ.doc_id
)
SELECT doc_id, n_tok, micro_sum
FROM (
  SELECT *, row_number() OVER (ORDER BY micro_sum DESC, doc_id ASC) AS rk
  FROM sc
)
WHERE rk <= {DSIR_TOP_K}
"""



def pipe_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pretraining curation pipeline as ONE query — the
    per-stage survivor funnel a dataset card reports: raw -> quality
    filter -> language filter -> exact dedup -> benchmark-holdout split ->
    n-gram decontamination. Every stage reuses the engine's own operator
    definition (quality_expr, exact-dedup group, decontaminate), so the
    funnel IS the composition, not a re-implementation.

    Scale: stages 1-3 are narrow filters on one corpus scan; exact dedup
    is one shuffle on the normalized-text hash; decontamination broadcasts
    the eval shingle set (pipe_decontaminate's 100 TB shape). The result
    is 6 rows of counts."""
    from .text import QUALITY_THRESHOLD_PPM, quality_expr

    docs = load_table(spark, sf_dir, "documents")
    # Round 10 (guide §2.4): the train-split count is a predicate on the
    # exact-dedup survivor table, so stages 3+4 come out of ONE
    # conditional aggregate over it — one fewer branch re-deriving the
    # survivor aggregation. Two rejected variants, both measured a same-
    # session LOSS at sf0.1 (A/B vs the pre-change tree): (a) cache()ing
    # the survivor table for the remaining consumers — the columnar
    # serialization of the normalized text costs more than the parallel
    # recomputes it saves (1.84 -> 2.43s); (b) scan_floor on the quality
    # scan — unlike the pq/pareto cases, this query's branches already
    # fan out in parallel, and the round-robin shuffle of full text
    # costs more than the per-branch single-task scans (1.63 -> 1.86s).
    q = docs.withColumn("__ok", quality_expr() >= QUALITY_THRESHOLD_PPM)
    s2 = q.filter("__ok")
    s3 = s2.filter(F.col("lang") == "en")
    # exact dedup: one survivor (min doc_id) per normalized text
    s4 = s3.groupBy(F.lower(F.trim(F.col("text"))).alias("ntext")).agg(
        F.min("doc_id").alias("doc_id")
    )
    s5 = s4.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    s6 = decontaminate(
        s5.select("doc_id", F.col("ntext").alias("text")), ev, "doc_id", "text", n=3
    )
    # the three filter stages are conditional aggregates over ONE corpus
    # scan (Spark does not dedupe common subplans across union branches,
    # so per-stage count branches would each rescan the parquet)
    head = (
        q.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum(F.when(F.col("__ok"), 1).otherwise(0)).alias("n1"),
            F.sum(
                F.when(F.col("__ok") & (F.col("lang") == "en"), 1).otherwise(0)
            ).alias("n2"),
        )
        .selectExpr(
            "stack(3, 0, 'raw', n0, 1, 'quality', n1, 2, 'lang_en', n2)"
            " AS (stage_idx, stage, n_docs)"
        )
    )
    # stages 3+4 in ONE conditional aggregate over the cached survivors
    # (the train split is a predicate on the survivor table, so its count
    # needs no second branch)
    s45 = (
        s4.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n3"),
            F.sum(
                F.when(F.col("doc_id") % EVAL_MOD != 0, 1).otherwise(0)
            ).alias("n4"),
        )
        .selectExpr(
            "stack(2, 3, 'exact_dedup', n3, 4, 'train_split', n4)"
            " AS (stage_idx, stage, n_docs)"
        )
    )
    tail = s6.groupBy().agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(5).alias("stage_idx"), F.lit("decontaminated").alias("stage"), "n_docs"
    )
    return head.unionByName(s45).unionByName(tail)


def _funnel_sql() -> str:
    from .dedup import shh3_sql
    from .text import QUALITY_THRESHOLD_PPM, quality_sql_expr

    surv_toks = (
        "SELECT doc_id, string_split_regex(ntext, '\\s+') AS toks FROM s5"
    )
    return f"""
WITH q AS (
  SELECT doc_id, text, lang,
         {quality_sql_expr()} >= {QUALITY_THRESHOLD_PPM} AS ok
  FROM (SELECT doc_id, text, lang,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents)
),
s2 AS (SELECT * FROM q WHERE ok),
s3 AS (SELECT * FROM s2 WHERE lang = 'en'),
s4 AS (SELECT lower(trim(text)) AS ntext, min(doc_id) AS doc_id
       FROM s3 GROUP BY lower(trim(text))),
s5 AS (SELECT * FROM s4 WHERE doc_id % {EVAL_MOD} <> 0),
ssh AS ({shh3_sql(surv_toks)}),
ev AS (
  SELECT DISTINCT unnest(sh) AS g FROM ({shh3_sql()}) WHERE doc_id % {EVAL_MOD} = 0
),
bad AS (
  SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(sh) AS g FROM ssh)
  WHERE g IN (SELECT g FROM ev)
),
s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM bad))
SELECT * FROM (
  SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs FROM documents
  UNION ALL SELECT 1, 'quality', count(*) FROM s2
  UNION ALL SELECT 2, 'lang_en', count(*) FROM s3
  UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s4
  UNION ALL SELECT 4, 'train_split', count(*) FROM s5
  UNION ALL SELECT 5, 'decontaminated', count(*) FROM s6
)
"""



def pipe_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-criteria data selection: the Pareto front of documents over
    (quality, length) — every document not strictly dominated by another
    on both axes, i.e. the frontier a curation budget walks when trading
    quality against token yield. Exact integer micro-quality; dominance
    resolved in two window steps that need NO all-pairs join: (1) within
    equal quality keep only the longest, (2) down the now-distinct
    quality ranks keep documents longer than every higher-quality one
    (running max over preceding rows). O(n log n) sort-based, one narrow
    scan + two vocabulary-of-quality-sized windows.

    Ties: equal (quality, length) pairs do not dominate each other, so
    all docs sharing a surviving (q, n) pair are on the front."""
    from ..tables import scan_floor
    from .text import quality_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # Two fixes from the round-10 stage profile (1.78s of a 2.3-core-second
    # query in ONE task): (1) scan_floor parallelizes the quality scoring —
    # a single-row-group file otherwise pins the regex/HOF projection to
    # one core; (2) the hash repartition on doc_id makes the scored table
    # ONE exchange subtree shared by both consumers (the per-quality
    # aggregate and the front join-back), so runtime exchange reuse
    # computes the quality projection once instead of once per branch —
    # at corpus scale that is one full text scan saved, and the reused
    # exchange carries only (doc_id, q_micro, n_tok).
    scored = (
        scan_floor(docs)
        .select(
            "doc_id",
            quality_expr().alias("q_micro"),  # already exact integer ppm
            F.size(toks).cast("long").alias("n_tok"),
        )
        .repartition("doc_id")
    )
    per_q = scored.groupBy("q_micro").agg(F.max("n_tok").alias("max_n"))
    w = (
        Window.orderBy(F.desc("q_micro"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front_pairs = (
        per_q.withColumn("prev_max", F.max("max_n").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("max_n") > F.col("prev_max")))
        .select("q_micro", F.col("max_n").alias("n_tok"))
    )
    return scored.join(front_pairs, ["q_micro", "n_tok"]).select(
        "doc_id", "q_micro", "n_tok"
    )


def _pareto_sql() -> str:
    from .text import quality_sql_expr

    return f"""
WITH scored AS (
  SELECT doc_id,
         {quality_sql_expr()} AS q_micro,
         CAST(len(toks) AS BIGINT) AS n_tok
  FROM (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents)
),
per_q AS (SELECT q_micro, max(n_tok) AS max_n FROM scored GROUP BY q_micro),
fp AS (
  SELECT q_micro, max_n AS n_tok
  FROM (
    SELECT q_micro, max_n,
           max(max_n) OVER (ORDER BY q_micro DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max
    FROM per_q
  )
  WHERE prev_max IS NULL OR max_n > prev_max
)
SELECT s.doc_id, s.q_micro, s.n_tok
FROM scored s JOIN fp ON s.q_micro = fp.q_micro AND s.n_tok = fp.n_tok
"""


TEMP_BUDGET = (2, 5)  # 40% corpus-wide row budget
TEMP_B = 16 ** 5


def pipe_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced language sampling (alpha = 0.5, XLM-R/mT5
    style): allocate a 40% corpus budget across languages proportional to
    sqrt(n_lang) instead of n_lang, so tail languages are upsampled
    relative to English (44% of this corpus, sampled at ~0.28 vs ~0.46
    for the tail). operators/sample.py ``temperature_sample``: the accept
    test is division-free exact integer arithmetic on an md5 bucket —
    one tiny lang-stats shuffle, broadcast verdict over the corpus scan."""
    from ..operators.sample import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_sample(
        docs, key="doc_id", group_col="lang",
        budget_num=TEMP_BUDGET[0], budget_den=TEMP_BUDGET[1],
    )
    return kept.select("doc_id", "lang", F.col("temp_rate").alias("rate"))


TEMP_SAMPLE_SQL = f"""
WITH s AS (
  SELECT lang, count(*) AS n,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
g AS (SELECT sum(n) AS N, sum(w) AS S FROM s),
d AS (
  SELECT s.lang, s.n, s.w, g.S,
         (g.N * {TEMP_BUDGET[0]}) // {TEMP_BUDGET[1]} AS budget
  FROM s, g
)
SELECT doc_id, documents.lang,
       round(least(1.0,
             CAST(budget * w AS DOUBLE) / CAST(S * n AS DOUBLE)), 6) AS rate
FROM documents JOIN d ON documents.lang = d.lang
WHERE CAST({md5_bucket_sql('doc_id', TEMP_B)} AS HUGEINT) * S * n
      < CAST(budget AS HUGEINT) * w * {TEMP_B}
"""


QUOTA_BUDGET = (3, 10)  # keep 30% of each source...
QUOTA_FLOOR = 30  # ...but never fewer than 30 docs (or the whole source)


def pipe_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified quota sampling by source: keep exactly
    max(30, floor(0.3*n_src)) docs per source, the lowest md5-bucket
    ranks (operators/sample.py ``quota_sample``) — proportional
    allocation with a minimum-representation floor, for contracts that
    need exact split sizes rather than binomial ones. One tiny stats
    shuffle + one rank window on source."""
    from ..operators.sample import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = quota_sample(
        docs, key="doc_id", group_col="source",
        budget_num=QUOTA_BUDGET[0], budget_den=QUOTA_BUDGET[1],
        min_per_group=QUOTA_FLOOR,
    )
    return kept.select("doc_id", "source")


QUOTA_SAMPLE_SQL = f"""
WITH s AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
d AS (
  SELECT source,
         least(n, greatest({QUOTA_FLOOR},
               (n * {QUOTA_BUDGET[0]}) // {QUOTA_BUDGET[1]})) AS quota
  FROM s
),
r AS (
  SELECT doc_id, documents.source, quota,
         row_number() OVER (
           PARTITION BY documents.source
           ORDER BY {md5_bucket_sql('doc_id', 16 ** 5)} ASC, doc_id ASC
         ) AS rn
  FROM documents JOIN d ON documents.source = d.source
)
SELECT doc_id, source FROM r WHERE rn <= quota
"""


SPECS = [
    QuerySpec("pipe_quota_sample", pipe_quota_sample, QUOTA_SAMPLE_SQL,
              "exact-count per-source quota sampling with representation floor"),
    QuerySpec("pipe_temperature_sample", pipe_temperature_sample, TEMP_SAMPLE_SQL,
              "alpha=0.5 temperature language rebalance (exact-integer verdict)"),
    QuerySpec("pipe_decontaminate", pipe_decontaminate, DECONTAM_SQL,
              "benchmark n-gram decontamination (broadcast semi + anti join)"),
    QuerySpec("text_repetition", text_repetition, REPETITION_SQL,
              "duplicate-3-gram fraction (Gopher-style repetition signal)"),
    QuerySpec("text_pii_flags", text_pii_flags, PII_SQL,
              "PII match counts per document (regex, codegen-native)"),
    QuerySpec("text_redact", text_redact, REDACT_SQL,
              "PII redaction scrub pass (chained regexp_replace, byte-pinned)"),
    QuerySpec("pipe_shuffle_shard", pipe_shuffle_shard, SHUFFLE_SQL,
              "deterministic md5 shuffle-sharding (no sort, no shuffle)"),
    QuerySpec("pipe_contamination_frac", pipe_contamination_frac, CONTAM_FRAC_SQL,
              "per-doc eval-overlap fraction (graded decontamination)"),
    QuerySpec("pipe_dsir_select", pipe_dsir_select, DSIR_SQL,
              "DSIR hashed-ngram importance resampling (top-k selection)"),
    QuerySpec("pipe_curation_funnel", pipe_curation_funnel, _funnel_sql(),
              "full curation pipeline funnel (quality->lang->dedup->decontam)"),
    QuerySpec("pipe_pareto_front", pipe_pareto_front, _pareto_sql(),
              "Pareto front over (quality, length) — multi-criteria selection"),
    QuerySpec("dedup_substring", dedup_substring, DEDUP_SUBSTR_SQL,
              "cross-doc duplicated 5-token spans + trim coverage (ExactSubstr)"),
    QuerySpec("dedup_substring_rewrite", dedup_substring_rewrite,
              DEDUP_SUBSTR_REWRITE_SQL,
              "ExactSubstr trim rewrite, byte-pinned via md5 of the trimmed text"),
    QuerySpec("pipe_mixture", pipe_mixture, MIXTURE_SQL,
              "deterministic per-source mixture sampling (broadcast rates dim)"),
    QuerySpec("pipe_source_cap", pipe_source_cap, SOURCE_CAP_SQL,
              "per-source doc caps by deterministic md5 shuffle key"),
    QuerySpec("pipe_outlier_mad", pipe_outlier_mad, OUTLIER_MAD_SQL,
              "per-source median/MAD robust length-outlier profile"),
]

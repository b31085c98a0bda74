"""Deduplication queries over the ``documents`` / ``embeddings`` tables
(LLM-data-pipeline surface; operators/dedup.py).

The oracles reproduce each algorithm exactly — including the MinHash
signatures and SimHash bit math — via DuckDB list lambdas over the same
integer hash scheme, so hash-equality checks the full pipeline, not just
the final filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import FP_BASE, FP_MOD
from ..operators.dedup import (
    GATE_MIN_DOCS,
    MAX_DF_FRAC,
    MINHASH_AB,
    MINHASH_BANDS,
    MINHASH_ROWS,
    dedup_exact,
    embedding_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    winnowing_fingerprints,
    winnowing_overlap_spans,
    winnowing_pairs,
)
from ..tables import load_table
from . import QuerySpec, e6

JACCARD_TAU = 0.5
EMBED_TAU = 0.4
SIMHASH_MAX_HAMMING = 3

# ---- shared oracle fragments ------------------------------------------------

def toks_sql(extra_cols: str = "") -> str:
    """The oracle-side engine-wide tokenizer over the documents table,
    optionally carrying extra passthrough columns — parameterized so
    consumers (DSIR, UniMax) never patch the literal by string surgery."""
    cols = f"doc_id, {extra_cols}," if extra_cols else "doc_id,"
    return (
        f"SELECT {cols} string_split_regex(lower(trim(text)), '\\s+') AS toks"
        " FROM documents"
    )


TOKS_SQL = toks_sql()

# polynomial char hash of a string s (matches functions.text.shingle_hash)
def _hash_sql(s: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {FP_BASE} + b) % {FP_MOD})"
    )


# distinct HASHED word 3-gram shingles via the word-hash combine scheme
# (mirrors functions.text.word_hashes + combine_word_hashes exactly)
WB = 37  # functions.text.WORD_COMBINE_BASE


def shh3_sql(toks_src: str | None = None) -> str:
    """Hashed word-3-gram shingle CTE over any ``(doc_id, toks)`` source
    (defaults to the documents table) — the ONE source of truth for the
    oracle-side shingle scheme, parameterized so composite pipelines
    (queries/curation.py funnel) shingle intermediate doc sets without
    copying the combine expression."""
    return f"""
SELECT doc_id,
       CASE WHEN len(wh) - 2 >= 1 THEN
         list_distinct(list_transform(
           generate_series(1, len(wh) - 2),
           i -> ((wh[i] * {WB} + wh[i+1]) % {FP_MOD} * {WB} + wh[i+2]) % {FP_MOD}
         ))
       ELSE CAST([] AS BIGINT[]) END AS sh
FROM (
  SELECT doc_id, list_transform(toks, s -> {_hash_sql('s')}) AS wh
  FROM ({toks_src or TOKS_SQL})
)
"""


SHH3_SQL = shh3_sql()


# ---- exact dedup ------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id")


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS survivor_id, count(*) AS n_dups
FROM documents GROUP BY lower(trim(text))
"""


# ---- exact n-gram Jaccard ---------------------------------------------------

def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # hash-stability: e6 integer micro-units on the hash surface (queries/__init__.e6)
    return jaccard_pairs(docs, "doc_id", "text", n=3, tau=JACCARD_TAU).select(
        "id_a", "id_b", e6("jaccard", "jaccard_e6")
    )


def _gated_posting_sql() -> str:
    """Shared oracle CTE prefix for the GATED exact-pair queries: shingled
    docs -> postings -> boilerplate purge (document frequency >
    MAX_DF_FRAC of shingled docs, the dual of ``_cooccurrence``'s
    filtered-universe gate) -> filtered postings + per-doc FILTERED set
    sizes. On the packaged corpora the purge is provably empty (max df 25
    of 5000 docs at sf0.1), so values equal the ungated formulation;
    the CTEs keep the oracle a strict dual of the operator's declared
    semantics on ANY corpus. Edit in lockstep with ``_cooccurrence``."""
    return f"""d AS ({SHH3_SQL}),
post0 AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE len(sh) > 0),
tot AS (SELECT count(*) AS nn FROM d WHERE len(sh) > 0),
purged AS (
  -- GATE_MIN_DOCS floor mirrors operators.dedup (fraction caps degenerate
  -- on tiny corpora)
  SELECT s FROM post0 CROSS JOIN tot
  GROUP BY s, nn
  HAVING count(*) > {{MAX_DF_FRAC}} * nn AND nn >= {{GATE_MIN_DOCS}}
),
post1 AS (SELECT doc_id, s FROM post0 ANTI JOIN purged USING (s)),
sizes AS (SELECT doc_id, count(*) AS n FROM post1 GROUP BY doc_id),
post AS (SELECT p.doc_id, z.n, p.s FROM post1 p JOIN sizes z USING (doc_id))""".replace(
        "{MAX_DF_FRAC}", repr(MAX_DF_FRAC)
    ).replace("{GATE_MIN_DOCS}", repr(GATE_MIN_DOCS))


DEDUP_JACCARD_SQL = f"""
WITH {_gated_posting_sql()},
p AS (
  -- inverted-index dual of the former quadratic `d a JOIN d b` +
  -- list_intersect pair stage: sh is DISTINCT per doc, so the posting
  -- equi-join's count(*) == len(list_intersect) exactly; only inter >= 1
  -- pairs exist, and every consumer below thresholds similarity > 0, so
  -- the output is identical while cost drops from O(docs^2 * |sh|) to
  -- the sum of df(s)^2 (~670s -> seconds per query at sf0.1)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         min(a.n) AS na, min(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(round((CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)) * 1e6) AS BIGINT) AS jaccard_e6
FROM p
WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
"""


# ---- MinHash + LSH ----------------------------------------------------------

def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, tau=JACCARD_TAU).select(
        "id_a", "id_b", e6("jaccard", "jaccard_e6")
    )


def _minhash_band_sql() -> str:
    """Shared oracle CTE prefix: shingles -> 16-permutation signatures ->
    exploded band keys (h/sig/bands). The SQL dual of
    ``operators.dedup._band_key_cols`` + ``minhash_signatures`` — edit in
    lockstep with them."""
    mins = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {FP_MOD})) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    bks = ", ".join(
        "'" + str(j) + "_' || "
        + " || '_' || ".join(
            f"CAST(m{j * MINHASH_ROWS + r} AS VARCHAR)" for r in range(MINHASH_ROWS)
        )
        for j in range(MINHASH_BANDS)
    )
    return f"""h AS (
  SELECT doc_id, sh, sh AS hs FROM ({SHH3_SQL}) WHERE len(sh) > 0
),
sig AS (SELECT doc_id, sh, {mins} FROM h),
bands AS (SELECT doc_id, unnest([{bks}]) AS bk FROM sig)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
v AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.sh, sb.sh)) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b
)
SELECT id_a, id_b,
       CAST(round((CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)) * 1e6) AS BIGINT) AS jaccard_e6
FROM v
WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
"""


# ---- LSH recall audit ---------------------------------------------------------

def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the approximate dedup path: how many of the exact
    Jaccard >= tau pairs does MinHash(16)+LSH(8x2) banding recover?
    One summary row: (n_true, n_found, n_hit, recall_ppm).

    ``minhash_lsh_pairs`` verifies candidates with exact Jaccard, so found
    pairs are a SUBSET of true pairs (n_hit == n_found == the semi-join
    count; precision is 1 by construction) — the audit measures the
    banding's candidate-recall, the number every production LSH
    deployment must monitor before trusting the cheap path at corpus
    scale (band/row geometry sets the miss probability at the threshold:
    P[candidate] = 1-(1-j^rows)^bands).

    Scale: both pair sets are the already-scale-shaped operators
    (inverted index / banded join); the audit adds one pair-keyed
    semi-join and three single-row aggregates combined by broadcast
    cross joins — output is one row regardless of corpus size.

    Both pipelines consume the same corpus, so the adaptive-collapse
    probe runs ONCE here and the fused ``minhash_signatures`` table (whose
    ``(__id, __sh)`` columns are bit-identical to the exact path's
    ``_hashed_shingled`` — same ``grams._shingle_flat`` producer) is
    cached and handed to BOTH operators: one tokenize/hash kernel pass
    instead of two, one duplicate-fraction scan instead of two.
    """
    from ..operators.dedup import (
        COLLAPSE_DUP_FRAC, _duplicate_fraction, minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    collapse = _duplicate_fraction(docs, "text") >= COLLAPSE_DUP_FRAC
    sig = minhash_signatures(docs, "doc_id", "text", 3, with_key=collapse).cache()
    true_p = jaccard_pairs(  # ungated: exact dual of this query's oracle
        docs, "doc_id", "text", n=3, tau=JACCARD_TAU, max_df_frac=None,
        collapse=collapse, shingled=sig).select(
        "id_a", "id_b", F.lit(1).alias("__t")
    )
    found = minhash_lsh_pairs(docs, "doc_id", "text", n=3, tau=JACCARD_TAU,
                              collapse=collapse, signatures=sig).select(
        "id_a", "id_b", F.lit(1).alias("__f")
    )
    # ONE full-outer join on the pair key + ONE aggregate: each heavy pair
    # pipeline evaluates exactly once (three separate count() branches would
    # re-run them per branch)
    j = true_p.join(found, ["id_a", "id_b"], "full_outer")
    counts = j.agg(
        F.sum("__t").cast("long").alias("n_true"),
        F.sum("__f").cast("long").alias("n_found"),
        F.sum(F.col("__t") * F.col("__f")).cast("long").alias("n_hit"),
    ).select(
        # coalesce BEFORE deriving recall: an all-missed banding makes
        # sum(__t*__f) aggregate only NULLs, and NULL n_hit must read as
        # 0 hits (0% recall), not a NULL percentage
        F.coalesce("n_true", F.lit(0)).alias("n_true"),
        F.coalesce("n_found", F.lit(0)).alias("n_found"),
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
    )
    return counts.select(
        "n_true",
        "n_found",
        "n_hit",
        # hash-stability: exact integer ppm (DESIGN.md "integer micro-units")
        F.when(F.col("n_true") == 0, F.lit(1000000).cast("long"))
        .otherwise(
            F.expr(
                "CAST((CAST(n_hit AS DECIMAL(38,0)) * 1000000)"
                " div n_true AS LONG)"
            )
        )
        .alias("recall_ppm"),
    )


def _lsh_recall_sql() -> str:
    return f"""
WITH {_minhash_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
found AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_intersect(sa.sh, sb.sh)) AS inter,
           len(sa.sh) AS na, len(sb.sh) AS nb
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
  ) WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
),
tpost AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM h),
truep AS (
  -- exact-Jaccard ground truth via the inverted-index pair dual (sh is
  -- distinct per doc, so count(*) == len(list_intersect); the threshold
  -- needs inter >= 1, which is the only pair kind the posting join emits)
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
           min(a.n) AS na, min(b.n) AS nb
    FROM tpost a JOIN tpost b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
),
hit AS (SELECT f.* FROM found f WHERE EXISTS (
  SELECT 1 FROM truep t WHERE t.id_a = f.id_a AND t.id_b = f.id_b
))
SELECT (SELECT count(*) FROM truep) AS n_true,
       (SELECT count(*) FROM found) AS n_found,
       (SELECT count(*) FROM hit) AS n_hit,
       CAST(CASE WHEN (SELECT count(*) FROM truep) = 0 THEN 1000000
            ELSE ((SELECT count(*) FROM hit) * 1000000)
                 // (SELECT count(*) FROM truep)
       END AS BIGINT) AS recall_ppm
"""


# ---- train/test split leakage -------------------------------------------------

def q_dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit: after the engine's deterministic
    80/20 split (``doc_id % 10 < 8`` — same rule as pipe_split_train_test),
    which TEST documents have a near-duplicate (MinHash-LSH candidate with
    exact Jaccard >= tau) in TRAIN? Those rows inflate every benchmark run
    on the split — the leakage variant of decontamination, where the eval
    set is your own held-out split rather than an external benchmark.

    One row per leaked test doc: how many train near-dups it has, and the
    strongest one (max Jaccard, doc_id ascending tiebreak) for triage.

    Scale: rides the minhash_lsh_pairs pipeline unchanged (representative
    collapse, banded candidate join — the scale-shaped path), then two
    broadcast-sized joins against the split map and a test-doc-keyed
    aggregate. At 100 TB the split tag is a pure function of the id, so
    the "join" is really a projection — no extra shuffle beyond the pair
    pipeline itself."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, tau=JACCARD_TAU)
    is_test = lambda c: F.col(c) % 10 >= 8  # noqa: E731 — split rule, shared w/ SQL
    crossed = pairs.filter(is_test("id_a") != is_test("id_b")).select(
        F.when(is_test("id_a"), F.col("id_a")).otherwise(F.col("id_b")).alias("test_id"),
        F.when(is_test("id_a"), F.col("id_b")).otherwise(F.col("id_a")).alias("train_id"),
        e6("jaccard", "j"),
    )
    best = F.max(F.struct(F.col("j"), (-F.col("train_id")).alias("nt")))
    return (
        crossed.groupBy("test_id")
        .agg(F.count(F.lit(1)).alias("n_train_dups"), best.alias("__b"))
        .select(
            "test_id",
            "n_train_dups",
            F.col("__b.j").alias("best_jaccard_e6"),
            (-F.col("__b.nt")).alias("best_train_id"),
        )
    )


def _split_leakage_sql() -> str:
    return f"""
WITH {_minhash_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_a, id_b,
         CAST(round((CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)) * 1e6) AS BIGINT) AS j
  FROM (
    SELECT id_a, id_b,
           len(list_intersect(sa.sh, sb.sh)) AS inter,
           len(sa.sh) AS na, len(sb.sh) AS nb
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
  ) WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
),
crossed AS (
  SELECT CASE WHEN id_a % 10 >= 8 THEN id_a ELSE id_b END AS test_id,
         CASE WHEN id_a % 10 >= 8 THEN id_b ELSE id_a END AS train_id,
         j
  FROM pairs
  WHERE (id_a % 10 >= 8) <> (id_b % 10 >= 8)
)
SELECT test_id, n_train_dups,
       struct_extract(b, 'j') AS best_jaccard_e6,
       0 - struct_extract(b, 'nt') AS best_train_id
FROM (
  SELECT test_id, count(*) AS n_train_dups,
         max({{'j': j, 'nt': 0 - train_id}}) AS b
  FROM crossed GROUP BY test_id
)
"""


# ---- SimHash ----------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=SIMHASH_MAX_HAMMING)


def _simhash_sql() -> str:
    from ..functions.text import FP_MOD
    from ..operators.dedup import SIMHASH_AB, SIMHASH_BITS

    # fingerprint bit j = low bit of the affine rehash (x*a_j+b_j) % P —
    # raw bits of x above log2(FP_MOD) carry no signal (see SIMHASH_AB)
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * CAST(list_sum(list_transform(hs,"
        f" x -> ((x * {SIMHASH_AB[j][0]} + {SIMHASH_AB[j][1]}) % {FP_MOD}) & 1))"
        f" AS BIGINT) > nw THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH h AS (
  SELECT doc_id, sh AS hs, CAST(len(sh) AS BIGINT) AS nw
  FROM ({SHH3_SQL}) WHERE len(sh) > 0
),
s AS (SELECT doc_id, ({bit_terms}) AS sim FROM h)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {SIMHASH_MAX_HAMMING}
"""


# ---- embedding cosine -------------------------------------------------------

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return embedding_pairs(em, "vec_id", "embedding", tau=EMBED_TAU).select(
        "id_a", "id_b", e6("cosine", "cosine_e6")
    )


QVEC_SQL = (
    "SELECT vec_id, list_transform(embedding, "
    "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv FROM embeddings"
)

DEDUP_EMBED_SQL = f"""
WITH q AS ({QVEC_SQL}),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS DOUBLE) AS dot,
         CAST(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS BIGINT) AS DOUBLE) AS na,
         CAST(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS BIGINT) AS DOUBLE) AS nb
  FROM q a JOIN q b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(round((dot / sqrt(na) / sqrt(nb)) * 1e6) AS BIGINT) AS cosine_e6
FROM p
WHERE na > 0 AND nb > 0 AND dot / sqrt(na) / sqrt(nb) >= {EMBED_TAU}
"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applied near-dup removal: drop every doc that appears as the HIGHER id
    of a qualifying Jaccard pair (greedy keep-lowest-id rule) — the rewrite
    step a training-data pipeline actually ships."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(  # ungated: exact dual of this query's oracle
        docs, "doc_id", "text", n=3, tau=JACCARD_TAU, max_df_frac=None)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "n_chars")


DEDUP_APPLY_SQL = f"""
WITH d AS ({SHH3_SQL}),
post AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d WHERE len(sh) > 0),
p AS (
  -- inverted-index dual of the former quadratic `d a JOIN d b` +
  -- list_intersect pair stage: sh is DISTINCT per doc, so the posting
  -- equi-join's count(*) == len(list_intersect) exactly; only inter >= 1
  -- pairs exist, and every consumer below thresholds similarity > 0, so
  -- the output is identical while cost drops from O(docs^2 * |sh|) to
  -- the sum of df(s)^2 (~670s -> seconds per query at sf0.1)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         min(a.n) AS na, min(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (
  SELECT DISTINCT id_b FROM p
  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
)
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster labels: every document mapped to its connected
    component (min doc_id in the Jaccard>=tau pair graph; docs with no
    qualifying pair label themselves). The iterative-algorithm operator of
    the dedup pipeline — pairs -> clusters -> keep one per cluster."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(  # ungated: exact dual of this query's oracle
        docs, "doc_id", "text", n=3, tau=JACCARD_TAU, max_df_frac=None)
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE d AS ({SHH3_SQL}),
post AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d WHERE len(sh) > 0),
p AS (
  -- inverted-index dual of the former quadratic `d a JOIN d b` +
  -- list_intersect pair stage: sh is DISTINCT per doc, so the posting
  -- equi-join's count(*) == len(list_intersect) exactly; only inter >= 1
  -- pairs exist, and every consumer below thresholds similarity > 0, so
  -- the output is identical while cost drops from O(docs^2 * |sh|) to
  -- the sum of df(s)^2 (~670s -> seconds per query at sf0.1)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         min(a.n) AS na, min(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
  UNION
  SELECT id_b AS src, id_a AS dst FROM p
  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT doc_id,
       coalesce((SELECT least(min(r.dst), d2.doc_id) FROM reach r
                 WHERE r.src = d2.doc_id), doc_id) AS component
FROM documents d2
"""


def q_dedup_components_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED connected-components path (alternating large-star /
    small-star rounds to a star forest), forced by ``driver_threshold=0``
    on the same pair graph as ``dedup_components`` — the execution a pair
    graph too large for the driver union-find takes at corpus scale. Checked
    against the identical recursive-CTE oracle, so BOTH adaptive paths are
    oracle-verified, not just the driver-side common case."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(  # ungated: exact dual of this query's oracle
        docs, "doc_id", "text", n=3, tau=JACCARD_TAU, max_df_frac=None)
    comp = connected_components(pairs, driver_threshold=0)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


def q_dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: near-dup clusters (connected
    components over the Jaccard pair graph) each keep their LONGEST
    member, doc_id ascending on ties — the policy real curation pipelines
    ship instead of keep-lowest-id (retain the most complete copy of a
    duplicated page, not an arbitrary one). One max_by aggregate per
    component on (n_chars desc, doc_id asc); singleton docs survive as
    their own cluster."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(  # ungated: exact dual of this query's oracle
        docs, "doc_id", "text", n=3, tau=JACCARD_TAU, max_df_frac=None)
    comp = connected_components(pairs)
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id", "n_chars",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    # max_by over a composite order: longest first, then LOWEST doc_id —
    # encoded as (n_chars, -doc_id) so one struct-max resolves both
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("__nid")))
    return labeled.groupBy("component").agg(
        (-best["__nid"]).alias("survivor_id"),
        best["n_chars"].alias("survivor_chars"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE d AS ({SHH3_SQL}),
post AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d WHERE len(sh) > 0),
p AS (
  -- inverted-index dual of the former quadratic `d a JOIN d b` +
  -- list_intersect pair stage: sh is DISTINCT per doc, so the posting
  -- equi-join's count(*) == len(list_intersect) exactly; only inter >= 1
  -- pairs exist, and every consumer below thresholds similarity > 0, so
  -- the output is identical while cost drops from O(docs^2 * |sh|) to
  -- the sum of df(s)^2 (~670s -> seconds per query at sf0.1)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         min(a.n) AS na, min(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
  UNION
  SELECT id_b AS src, id_a AS dst FROM p
  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
),
labeled AS (
  SELECT doc_id, n_chars,
         coalesce((SELECT least(min(r.dst), d2.doc_id) FROM reach r
                   WHERE r.src = d2.doc_id), doc_id) AS component
  FROM documents d2
)
SELECT component, survivor_id, survivor_chars, cluster_size FROM (
  SELECT component, doc_id AS survivor_id, n_chars AS survivor_chars,
         count(*) OVER (PARTITION BY component) AS cluster_size,
         row_number() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM labeled
) WHERE rn = 1
"""


CONTAIN_TAU = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-duplication detection: pairs whose smaller shingle set is
    >= {CONTAIN_TAU} contained in the other — quotes/subsets that Jaccard
    under-scores (the union washes out a short doc quoted inside a long
    one). Same inverted-index + representative-collapse machinery as
    ``dedup_ngram_jaccard``."""
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "doc_id", "text", n=3, tau=CONTAIN_TAU).select(
        "id_a", "id_b", e6("containment", "containment_e6")
    )


DEDUP_CONTAIN_SQL = f"""
WITH {_gated_posting_sql()},
p AS (
  -- same gated inverted-index pair stage as DEDUP_JACCARD_SQL; only the
  -- min-side normalization below differs
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         min(a.n) AS na, min(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(round((CAST(inter AS DOUBLE) / CAST(least(na, nb) AS DOUBLE)) * 1e6) AS BIGINT) AS containment_e6
FROM p
WHERE CAST(inter AS DOUBLE) / CAST(least(na, nb) AS DOUBLE) >= {CONTAIN_TAU}
"""


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup pair graph — the cluster-
    density signal that separates tight duplicate cliques (every pair
    agrees: safe to keep one survivor) from weak chains bridged by one
    noisy pair (review before collapsing). Triangles (a<b<c) are found by
    joining the ordered edge list to itself on the shared endpoint and
    semi-joining the closing edge; each node in a triangle gets credit.

    Scale: edge lists are output-sized (pairs, not corpus); both joins are
    equi joins on node ids, partial-aggregated. The standard distributed
    triangle-count shape (node-iterator on an ordered edge list)."""
    from ..operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    # the edge list feeds three plan branches (both wedge sides + the
    # closing-edge semi join); cache it so the jaccard pipeline executes
    # once — edges are output-sized (pairs, not corpus). Same
    # cache-lifetime note as jaccard_pairs (clearCache between passes).
    e = (
        jaccard_pairs(  # ungated: exact dual of this query's oracle
            docs, "doc_id", "text", n=3, tau=JACCARD_TAU, max_df_frac=None)
        .select("id_a", "id_b")
        .cache()
    )
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    wedge = e1.join(e2, "b").filter(F.col("b") < F.col("c"))
    closing = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = wedge.join(closing, ["a", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


DEDUP_TRIANGLES_SQL = f"""
WITH d AS ({SHH3_SQL}),
post AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d WHERE len(sh) > 0),
p AS (
  -- inverted-index dual of the former quadratic `d a JOIN d b` +
  -- list_intersect pair stage: sh is DISTINCT per doc, so the posting
  -- equi-join's count(*) == len(list_intersect) exactly; only inter >= 1
  -- pairs exist, and every consumer below thresholds similarity > 0, so
  -- the output is identical while cost drops from O(docs^2 * |sh|) to
  -- the sum of df(s)^2 (~670s -> seconds per query at sf0.1)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
         min(a.n) AS na, min(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT id_a, id_b FROM p
  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
),
tri AS (
  SELECT w.a, w.b, w.c
  FROM (
    SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
    FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a
    WHERE e1.id_b < e2.id_b
  ) w
  JOIN e ce ON ce.id_a = w.a AND ce.id_b = w.c
)
SELECT node, count(*) AS n_triangles
FROM (
  SELECT unnest([a, b, c]) AS node FROM tri
)
GROUP BY node
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the 20% "new batch" (doc_id % 5 == 0)
    probed against the 80% existing corpus through the LSH band index —
    the per-batch production shape (persisted index, only new docs
    shingled). Oracle replays signatures, band candidacy, and exact
    verification on both sides."""
    from ..operators.dedup import minhash_lookup

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return minhash_lookup(new, old, "doc_id", "text", n=3, tau=JACCARD_TAU).select(
        "new_id", "match_id", e6("jaccard", "jaccard_e6")
    )


def _minhash_lookup_sql() -> str:
    return f"""
WITH {_minhash_band_sql()},
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS match_id
  FROM bands a JOIN bands b ON a.bk = b.bk
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
),
v AS (
  SELECT new_id, match_id,
         len(list_intersect(sa.sh, sb.sh)) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand
  JOIN sig sa ON sa.doc_id = new_id
  JOIN sig sb ON sb.doc_id = match_id
)
SELECT new_id, match_id,
       CAST(round((CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)) * 1e6) AS BIGINT) AS jaccard_e6
FROM v
WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {JACCARD_TAU}
"""


# ---- winnowing (MOSS) fingerprints ------------------------------------------

WINNOW_W = 4  # window width in grams; selection density 2/(w+1)
WINNOW_MIN_SHARED = 2  # pair gate: >= 2 shared fingerprint values


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint selection (Schleimer/Wilkerson/
    Aiken SIGMOD'03 / MOSS): rightmost-min word-3-gram hash per 4-gram
    window. Row-local HOF fold — zero shuffle before the explode."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "doc_id", "text", k=3, w=WINNOW_W)


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs sharing >= {min_shared} winnowed
    fingerprint values — guaranteed to catch any pair sharing a run of
    >= w+k-1 tokens per shared fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_pairs(
        docs, "doc_id", "text", k=3, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED
    )


def _winnow_fps_sql(w: int = WINNOW_W) -> str:
    """Oracle CTE chain ending in ``wfp(doc_id, pos, fp)`` — the DuckDB
    dual of ``functions.text.winnow_select`` (argmin fold with rightmost
    ties via ``<=`` over an ascending reduce) + the positional 3-gram
    combine. Positions are the dedup key (one fp per pos), exactly like
    the Spark side."""
    return f"""g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(wh) - 2),
           i -> ((wh[i] * {WB} + wh[i+1]) % {FP_MOD} * {WB} + wh[i+2]) % {FP_MOD}) AS g
  FROM (SELECT doc_id, list_transform(toks, s -> {_hash_sql('s')}) AS wh
        FROM ({TOKS_SQL}))
  WHERE len(wh) - 2 >= 1
),
winnow AS (
  SELECT doc_id, g,
    list_sort(list_distinct(list_transform(
      generate_series(1, len(g) - least({w}, len(g)) + 1),
      p -> (list_reduce(
             list_prepend({{'pos': CAST(0 AS BIGINT), 'fp': CAST(NULL AS BIGINT)}},
               list_transform(generate_series(p, p + least({w}, len(g)) - 1),
                 j -> {{'pos': CAST(j AS BIGINT), 'fp': g[j]}})),
             (a, x) -> CASE WHEN a.fp IS NULL OR x.fp <= a.fp THEN x ELSE a END)).pos
    ))) AS ps
  FROM g
),
wfp AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, g[p] AS fp
  FROM (SELECT doc_id, g, unnest(ps) AS p FROM winnow)
)"""


TEXT_WINNOW_SQL = f"""
WITH {_winnow_fps_sql()}
SELECT doc_id, pos, fp FROM wfp
"""


DEDUP_WINNOW_SQL = f"""
WITH {_winnow_fps_sql()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM (SELECT DISTINCT doc_id, fp FROM wfp) a
JOIN (SELECT DISTINCT doc_id, fp FROM wfp) b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


def q_dedup_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap localization (MOSS report stage): one row per shared
    fingerprint occurrence pair of every gated candidate pair."""
    docs = load_table(spark, sf_dir, "documents")
    return winnowing_overlap_spans(
        docs, "doc_id", "text", k=3, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED
    )


DEDUP_WINNOW_SPANS_SQL = f"""
WITH {_winnow_fps_sql()},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT DISTINCT doc_id, fp FROM wfp) a
  JOIN (SELECT DISTINCT doc_id, fp FROM wfp) b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.id_a, p.id_b, fa.fp, fa.pos AS pos_a, fb.pos AS pos_b
FROM pairs p
JOIN wfp fa ON fa.doc_id = p.id_a
JOIN wfp fb ON fb.doc_id = p.id_b AND fb.fp = fa.fp
"""


SPECS = [
    QuerySpec("dedup_exact", q_dedup_exact, DEDUP_EXACT_SQL, "exact hash-groupBy dedup"),
    QuerySpec("text_winnowing", q_text_winnowing, TEXT_WINNOW_SQL,
              "winnowing (MOSS) fingerprint selection: rightmost-min k-gram "
              "hash per w-window, row-local"),
    QuerySpec("dedup_winnowing", q_dedup_winnowing, DEDUP_WINNOW_SQL,
              "near-dup candidate pairs sharing winnowed fingerprints"),
    QuerySpec("dedup_winnow_spans", q_dedup_winnow_spans, DEDUP_WINNOW_SPANS_SQL,
              "overlap localization: shared-fingerprint position pairs per "
              "gated candidate pair (MOSS report stage)"),
    QuerySpec("dedup_survivors_quality", q_dedup_survivors_quality,
              DEDUP_SURVIVORS_SQL,
              "quality-aware survivor per near-dup cluster (longest wins)"),
    QuerySpec("dedup_components", q_dedup_components, DEDUP_COMPONENTS_SQL,
              "connected components over the near-dup pair graph"),
    QuerySpec("dedup_components_distributed", q_dedup_components_distributed,
              DEDUP_COMPONENTS_SQL,
              "connected components via distributed large-star/small-star rounds"),
    QuerySpec("dedup_apply", q_dedup_apply, DEDUP_APPLY_SQL,
              "applied near-dup removal (keep-lowest-id)"),
    QuerySpec("dedup_ngram_jaccard", q_dedup_jaccard, DEDUP_JACCARD_SQL,
              "exact word-3gram Jaccard via inverted index"),
    QuerySpec("dedup_minhash_lsh", q_dedup_minhash, _minhash_sql(),
              "MinHash(16)+LSH(8x2) candidates, Jaccard-verified"),
    QuerySpec("dedup_simhash", q_dedup_simhash, _simhash_sql(),
              "SimHash-48 Hamming<=3 via lossless band join"),
    QuerySpec("dedup_embedding_cosine", q_dedup_embedding, DEDUP_EMBED_SQL,
              "embedding cosine near-dup pairs"),
    QuerySpec("dedup_containment", q_dedup_containment, DEDUP_CONTAIN_SQL,
              "shingle-set containment pairs (asymmetric quote/subset dedup)"),
    QuerySpec("dedup_triangles", q_dedup_triangles, DEDUP_TRIANGLES_SQL,
              "per-node triangle counts over the near-dup pair graph"),
    QuerySpec("dedup_incremental", q_dedup_incremental, _minhash_lookup_sql(),
              "incremental new-batch vs corpus LSH lookup (daily-ingest shape)"),
    QuerySpec("dedup_lsh_recall", q_dedup_lsh_recall, _lsh_recall_sql(),
              "MinHash-LSH recall audit vs exact-Jaccard ground truth"),
    QuerySpec("dedup_split_leakage", q_dedup_split_leakage, _split_leakage_sql(),
              "train/test split near-dup leakage audit (per leaked test doc)"),
]

"""ML-preparation queries (LLM-data-pipeline surface, part 3):
k-fold assignment, class weighting, histogram profiling, corpus bigram
statistics, int8 embedding quantization, and distribution-drift (PSI)
monitoring — the statistics a training pipeline computes between curation
and the trainer.

Parity conventions (tables.py): exact integer counting, single
deterministic double expression at the end, defensive round(x, 6). The
bigram query reuses the shared word-hash scheme from queries/dedup.py so
its oracle reproduces the exact gram hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import FP_MOD, WORD_COMBINE_BASE
from ..tables import cents, load_table, milli
from . import QuerySpec, e6
from .dedup import TOKS_SQL, _hash_sql

# ---- equi-depth range boundaries -------------------------------------------

RANGE_BUCKETS = 8


def pipe_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition boundaries: the 7 interior exact
    percentiles of lineitem's extended price (cents) that split the table
    into {RANGE_BUCKETS} equal-row ranges — what a range-partitioned/
    sorted write (or a skew-aware repartitionByRange) computes before
    laying out files at 100 TB.

    NOT Spark's ``percentile`` aggregate: that is an object aggregate
    (per-row Scala map updates outside codegen, full value buffer, single
    merge) and measured 3.2s at sf0.1 for even ONE probability. The
    scale-shaped formulation is order statistics over a VALUE-COUNT
    table: groupBy(v) count (codegen + map-side combine; the table is
    value-DOMAIN-sized, bounded by the price grid, not row-count-sized),
    a cumulative-count window ordered by v (one task over the domain —
    bounded the same way), then each of the 7 interpolation ranks
    ``r = p(N-1)`` picks its bracketing values through a 7-row broadcast
    range join (BNLJ over the domain table — 7 comparisons per distinct
    value) and interpolates exactly like quantile_cont (type-7). Values
    are bit-identical to the old aggregate (and to the unchanged DuckDB
    oracle); wall 2.9s -> 1.8s at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").alias("v")
    )
    counts = li.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("hi", F.sum("c").over(w)).withColumn(
        "lo", F.col("hi") - F.col("c")
    )
    tot = counts.agg(F.sum("c").alias("n"))
    ranks = (
        spark.range(1, RANGE_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (F.col("bucket") / F.lit(RANGE_BUCKETS) * (F.col("n") - 1)).alias("r"),
        )
        .withColumn("k0", F.floor("r").cast("long"))
        .withColumn("k1", F.ceil("r").cast("long"))
    )
    v0 = ranks.join(
        cum, (ranks.k0 >= cum.lo) & (ranks.k0 < cum.hi)
    ).select("bucket", "r", "k0", F.col("v").alias("v0"))
    v1 = ranks.join(
        cum, (ranks.k1 >= cum.lo) & (ranks.k1 < cum.hi)
    ).select(F.col("bucket").alias("b1"), F.col("v").alias("v1"))
    return (
        v0.join(v1, v0.bucket == v1.b1)
        .select(
            F.col("bucket").cast("integer").alias("bucket"),
            (
                F.col("v0") + (F.col("r") - F.col("k0")) * (F.col("v1") - F.col("v0"))
            ).alias("bound"),
        )
        # hash-stability: e6 integer micro-units (queries/__init__.e6)
        .select("bucket", e6("bound", "bound_e6"))
    )


RANGE_BOUNDS_SQL = f"""
WITH q AS (
  SELECT quantile_cont(v, [{", ".join(str(i / RANGE_BUCKETS) for i in range(1, RANGE_BUCKETS))}]) AS qs
  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem)
)
SELECT CAST(i AS INTEGER) AS bucket, CAST(round(qs[i] * 1e6) AS BIGINT) AS bound_e6
FROM q, (SELECT unnest(generate_series(1, {RANGE_BUCKETS - 1})) AS i) g
"""


# ---- PMI collocations -------------------------------------------------------

PMI_TOPK = 40
PMI_MIN_COUNT = 20


def text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the phrase
    discovery step of tokenizer/embedding prep (word2vec-style):
    PMI(a,b) = ln P(ab) - ln P(a) - ln P(b) over positional adjacent
    bigrams, keeping pairs seen >= {PMI_MIN_COUNT} times.

    All counts are exact integers; the ONLY float work is one log-domain
    expression per surviving pair (ln keeps the math overflow-free where
    the ratio form c_ab*T^2/(Tb*c_a*c_b) would overflow int64 at corpus
    scale). Scale: unigram and bigram tables are vocabulary-bounded with
    map-side partial counting; totals are one-row aggregates broadcast
    back; the two count joins are vocab-sized — nothing corpus-sized ever
    shuffles except the first gram explode."""
    from ..operators.grams import _adjacent_hash_pairs, _positional_grams

    docs = load_table(spark, sf_dir, "documents")
    uni = (
        _positional_grams(docs, "doc_id", "text", 1)
        .select(F.col("__g").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    )
    pairs = _adjacent_hash_pairs(docs, "doc_id", "text")
    big = pairs.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("n_ab"))
    tot_u = uni.agg(F.sum("n_w").alias("t_uni"))
    tot_b = big.agg(F.sum("n_ab").alias("t_big"))
    na = uni.select(F.col("w").alias("wa"), F.col("n_w").alias("n_a"))
    nb = uni.select(F.col("w").alias("wb"), F.col("n_w").alias("n_b"))
    pmi = (
        big.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .join(F.broadcast(na), "wa")
        .join(F.broadcast(nb), "wb")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "wa", "wb", "n_ab",
            e6(
                F.log(F.col("n_ab").cast("double"))
                + 2 * F.log(F.col("t_uni").cast("double"))
                - F.log(F.col("t_big").cast("double"))
                - F.log(F.col("n_a").cast("double"))
                - F.log(F.col("n_b").cast("double")),
                "pmi_e6",
            ),
        )
    )
    return pmi.orderBy(
        F.col("pmi_e6").desc(), F.col("wa").asc(), F.col("wb").asc()
    ).limit(PMI_TOPK)


PMI_SQL = f"""
WITH wh AS (
  SELECT list_transform(toks, s -> {_hash_sql('s')}) AS wh
  FROM ({TOKS_SQL})
),
uni AS (
  SELECT w, count(*) AS n_w
  FROM (SELECT unnest(wh) AS w FROM wh)
  GROUP BY w
),
big AS (
  SELECT p.wa AS wa, p.wb AS wb, count(*) AS n_ab
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(wh) - 1),
                                 i -> {{'wa': wh[i], 'wb': wh[i+1]}})) AS p
    FROM wh WHERE len(wh) >= 2
  )
  GROUP BY p.wa, p.wb
),
tot AS (
  SELECT (SELECT sum(n_w) FROM uni) AS t_uni,
         (SELECT sum(n_ab) FROM big) AS t_big
)
SELECT wa, wb, n_ab,
       CAST(round((ln(CAST(n_ab AS DOUBLE)) + 2 * ln(CAST(t_uni AS DOUBLE))
             - ln(CAST(t_big AS DOUBLE)) - ln(CAST(a.n_w AS DOUBLE))
             - ln(CAST(b.n_w AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_e6
FROM big
JOIN uni a ON big.wa = a.w
JOIN uni b ON big.wb = b.w
CROSS JOIN tot
WHERE n_ab >= {PMI_MIN_COUNT}
ORDER BY pmi_e6 DESC, wa ASC, wb ASC
LIMIT {PMI_TOPK}
"""


# ---- k-fold assignment ------------------------------------------------------

KFOLD_K = 5


def pipe_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold split summary: fold = md5_bucket(doc_id, k).
    The md5 bucket decorrelates the fold from ANY structure in the id
    allocation — a multiplicative ``(id * knuth) % k`` is only a
    permutation of ``id % k`` (strided allocators collapse to one fold)
    and overflows long under ANSI for ids >= ~3.5e9. Assignment is
    per-row arithmetic (no shuffle), the summary is a 5-group aggregate.
    Generalizes C38's modulus sampling to CV folds."""
    from ..operators.sample import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        md5_bucket("doc_id", KFOLD_K).alias("fold"), F.col("n_chars")
    )
    return per.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.expr(
            "CAST((CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000)"
            " div count(1) AS LONG)"
        ).alias("avg_chars_ppm"),
    )


def _kfold_sql() -> str:
    from .curation import md5_bucket_sql

    return f"""
SELECT {md5_bucket_sql('doc_id', KFOLD_K)} AS fold,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST((CAST(sum(n_chars) AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS avg_chars_ppm
FROM documents
GROUP BY 1
"""


KFOLD_SQL = _kfold_sql()


# ---- inverse-frequency class weights ---------------------------------------

def pipe_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class weights over the event-type label column:
    w = total / (n_classes * n_class) (sklearn's "balanced" formula).
    One grouped count; totals come from an unpartitioned window over the
    few-row aggregate, not a second scan."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy()
    total = F.sum("n_events").over(w)
    k = F.count(F.lit(1)).over(w)
    return per.select(
        "event_type",
        "n_events",
        F.expr(
            "CAST((CAST(sum(n_events) OVER () AS DECIMAL(38,0)) * 1000000)"
            " div (count(1) OVER () * n_events) AS LONG)"
        ).alias("weight_ppm"),
    )


CLASS_WEIGHTS_SQL = """
SELECT event_type, n_events,
       CAST((CAST(sum(n_events) OVER () AS HUGEINT) * 1000000)
             // (count(*) OVER () * n_events) AS BIGINT) AS weight_ppm
FROM (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
"""


# ---- fixed-width histogram profiling ----------------------------------------

HIST_WIDTH = 5  # l_quantity in 1..50 -> 10 buckets


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem quantity (the one-pass numeric
    profile a feature pipeline runs per column): bucket arithmetic is
    per-row, the aggregate has 10 groups, price mass in exact cents."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor((F.col("l_quantity") - 1) / HIST_WIDTH).cast("long")
    return (
        li.select(
            bucket.alias("bucket"),
            F.round(F.col("l_quantity")).cast("long").alias("qty"),
            cents("l_extendedprice").alias("price_c"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").alias("sum_qty"),
            F.sum("price_c").alias("sum_price_cents"),
        )
        .select(
            "bucket",
            (F.col("bucket") * HIST_WIDTH + 1).alias("lo_qty"),
            ((F.col("bucket") + 1) * HIST_WIDTH).alias("hi_qty"),
            "n_items",
            "sum_qty",
            "sum_price_cents",
        )
    )


HISTOGRAM_SQL = f"""
SELECT bucket,
       bucket * {HIST_WIDTH} + 1 AS lo_qty,
       (bucket + 1) * {HIST_WIDTH} AS hi_qty,
       count(*) AS n_items,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(price_c) AS BIGINT) AS sum_price_cents
FROM (
  SELECT CAST(floor((l_quantity - 1) / {HIST_WIDTH}) AS BIGINT) AS bucket,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
)
GROUP BY bucket
"""


# ---- corpus bigram statistics ----------------------------------------------

BIGRAM_TOPK = 40


def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k corpus word bigrams (hashed): the unigram/bigram LM table a
    tokenizer-training or contamination-analysis step builds. Positional
    (non-distinct) grams explode into one long column; partial map-side
    counting collapses the shuffle to distinct grams, and the top-k is a
    TakeOrdered, not a global sort."""
    from ..operators.grams import _positional_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = _positional_grams(docs, "doc_id", "text", 2).select(
        F.col("__g").alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), F.col("gram").asc())
        .limit(BIGRAM_TOPK)
    )


BIGRAMS_SQL = f"""
SELECT gram, count(*) AS n_occ
FROM (
  SELECT unnest(list_transform(
           generate_series(1, len(wh) - 1),
           i -> (wh[i] * {WORD_COMBINE_BASE} + wh[i+1]) % {FP_MOD}
         )) AS gram
  FROM (
    SELECT list_transform(toks, s -> {_hash_sql('s')}) AS wh
    FROM ({TOKS_SQL})
  )
  WHERE len(wh) >= 2
)
GROUP BY gram
ORDER BY n_occ DESC, gram ASC
LIMIT {BIGRAM_TOPK}
"""


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based fluency score (the cheap LM-quality proxy): each
    document's mean corpus-wide occurrence count of its own bigrams.
    Common-phrase-dense documents score high, gibberish scores ~1 — the
    filtering signal a perplexity pass approximates, in exact integer
    arithmetic (one float division per output row).

    Scale: the doc-gram -> count join shuffles on the gram hash; per-doc
    sums are integers (order-free).

    Round 10 (guide §2.4 — one exchange for two consumers): the gram
    stream feeds both the corpus count aggregate and the join probe; an
    explicit ``repartition("gram")`` makes it ONE exchange subtree, so
    the Arrow bigram kernel (the query's dominant per-task cost — two
    ~25-core-second stages in the stage profile) executes once at runtime
    via exchange reuse instead of once per branch. Trade-off as in
    ``_span_flags``: the count aggregate loses map-side partial
    aggregation, but its shuffle is the SAME exchange the probe side
    already pays, read twice. Same-session A/B min-of-3 at sf0.1:
    2.09 → 1.78s, output identical."""
    from ..operators.grams import _positional_grams

    docs = load_table(spark, sf_dir, "documents")
    grams = _positional_grams(docs, "doc_id", "text", 2).select(
        F.col("__id").alias("doc_id"), F.col("__g").alias("gram")
    ).repartition("gram")
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("n_occ").alias("sum_occ"),
        )
        .select(
            "doc_id",
            "n_grams",
            "sum_occ",
            F.expr(
                "CAST((CAST(sum_occ AS DECIMAL(38,0)) * 1000000)"
                " div n_grams AS LONG)"
            ).alias("mean_occ_ppm"),
        )
    )


LM_SCORE_SQL = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(wh) - 1),
           i -> (wh[i] * {WORD_COMBINE_BASE} + wh[i+1]) % {FP_MOD}
         )) AS gram
  FROM (
    SELECT doc_id, list_transform(toks, s -> {_hash_sql('s')}) AS wh
    FROM ({TOKS_SQL})
  )
  WHERE len(wh) >= 2
),
c AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY gram)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(c.n_occ) AS BIGINT) AS sum_occ,
       CAST((CAST(sum(c.n_occ) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
           AS mean_occ_ppm
FROM g JOIN c ON g.gram = c.gram
GROUP BY g.doc_id
"""


# ---- int8 embedding quantization --------------------------------------------

def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = 127 / max|x|) with
    reconstruction error — the storage-shrink step before ANN indexing at
    100 TB. All native higher-order array expressions; the squared error
    uses d*d (not pow) so both engines emit the identical IEEE tree."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ed = emb.select("vec_id", e.alias("__e")).filter(F.size("__e") > 0)
    maxabs = F.array_max(F.transform(F.col("__e"), F.abs))
    scaled = ed.select("vec_id", "__e", (F.lit(127.0) / maxabs).alias("__s")).filter(
        maxabs > 0
    )

    def _sq(acc, x):
        d = x - F.round(x * F.col("__s")) / F.col("__s")
        return acc + d * d

    sse = F.aggregate(F.col("__e"), F.lit(0.0), _sq)
    n = F.size("__e")
    return scaled.select(
        "vec_id",
        n.alias("n_dims"),
        e6("__s", "scale_e6"),
        e6(sse / n.cast("double"), "mse_e6"),
    )


QUANTIZE_SQL = """
SELECT vec_id,
       len(e) AS n_dims,
       CAST(round(s * 1e6) AS BIGINT) AS scale_e6,
       CAST(round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(e, x -> (x - round(x * s) / s) * (x - round(x * s) / s))),
               (a, b) -> a + b)
             / CAST(len(e) AS DOUBLE) * 1e6) AS BIGINT) AS mse_e6
FROM (
  SELECT vec_id, e,
         127.0 / list_max(list_transform(e, x -> abs(x))) AS s,
         list_max(list_transform(e, x -> abs(x))) AS maxabs
  FROM (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
  )
  WHERE len(e) > 0
)
WHERE maxabs > 0
"""


# ---- distribution drift (PSI) -----------------------------------------------

def pipe_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index terms between two deterministic user
    cohorts (user_id parity) over the event-type distribution — the drift
    monitor between a reference corpus slice and a refresh. Exact integer
    counts; one ln() per category on the tiny grouped result."""
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            "event_type", (F.col("user_id") % 2 == 0).alias("in_a")
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("n_b"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    w = Window.partitionBy()
    pa = F.col("n_a").cast("double") / F.sum("n_a").over(w).cast("double")
    pb = F.col("n_b").cast("double") / F.sum("n_b").over(w).cast("double")
    return per.select(
        "event_type",
        "n_a",
        "n_b",
        # hash-stability: integer-rounded micro-units. The inputs to ln()
        # are correctly-rounded IEEE quotients (bit-identical in both
        # engines); libm ln() may differ by ~1 ulp across engines, but the
        # integer quantum (1e-6 of the raw PSI term) leaves ~1e-13 relative
        # headroom before a rounding boundary, and the integer tie rule
        # (half-away-from-zero) is the same in Spark and DuckDB.
        F.round((pa - pb) * F.log(pa / pb) * 1e6).cast("long").alias("psi_term_e6"),
    )


DRIFT_SQL = """
SELECT event_type, n_a, n_b,
       CAST(round((CAST(n_a AS DOUBLE) / CAST(sum(n_a) OVER () AS DOUBLE)
              - CAST(n_b AS DOUBLE) / CAST(sum(n_b) OVER () AS DOUBLE))
             * ln((CAST(n_a AS DOUBLE) / CAST(sum(n_a) OVER () AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) / CAST(sum(n_b) OVER () AS DOUBLE)))
             * 1e6) AS BIGINT) AS psi_term_e6
FROM (
  SELECT event_type,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM events
  GROUP BY event_type
)
WHERE n_a > 0 AND n_b > 0
"""


# ---- incremental aggregate maintenance --------------------------------------

def agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the events table arrives as two
    increments (event_id parity stands in for two nights); each increment
    produces a mergeable partial state, the states merge, and finalize()
    derives the read view. The oracle is the one-shot GROUP BY over the
    whole table — hash-equality proves merge(partials) == full rescan,
    the property that makes O(increment) nightly refresh sound."""
    from ..operators.incremental import finalize, merge_states, partial_state

    ev = load_table(spark, sf_dir, "events")
    measures = {"val_m": milli("value")}
    nights = [
        partial_state(ev.filter(F.col("event_id") % 2 == p), ["event_type"], measures)
        for p in (0, 1)
    ]
    return finalize(merge_states(nights, ["event_type"]), ["event_type"])


INCREMENTAL_SQL = """
SELECT event_type,
       count(*) AS val_m_count,
       CAST(sum(v) AS BIGINT) AS val_m_sum,
       min(v) AS val_m_min,
       max(v) AS val_m_max,
       CAST((CAST(sum(v) AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS val_m_avg_ppm
FROM (SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS v FROM events)
GROUP BY event_type
"""


def pipe_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization (z-score): scale each document's
    length to zero-mean/unit-variance within its source — the distributed
    form of a fitted StandardScaler, where "fit" is one Σ-statistics
    shuffle (n, Σx, Σx² per group, map-side combined) and "transform" is
    a broadcast join + per-row arithmetic over the corpus scan.

    Parity: z = (n·x − Σx)·sqrt(n·(n−1)) / (n·sqrt(n·Σx² − (Σx)²)) —
    every operand an exact integer, three correctly-rounded double ops
    in a fixed order on both engines, round-6 display. Zero-variance or
    single-row groups yield NULL."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy(F.col("source").alias("__src")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("n_chars").alias("__sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("__sxx"),
    )
    j = docs.join(F.broadcast(s), docs["source"] == F.col("__src"))
    a = (F.col("__n") * F.col("n_chars") - F.col("__sx")).cast("double")
    b = (F.col("__n") * (F.col("__n") - 1)).cast("double")
    c = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    z = F.when(
        (F.col("__n") >= 2) & (c > 0),
        e6(a * F.sqrt(b) / F.col("__n").cast("double") / F.sqrt(c), None),
    )
    return j.select("doc_id", "source", "n_chars", z.alias("z_chars_e6"))


STANDARDIZE_SQL = """
WITH s AS (
  SELECT source, count(*) AS n, sum(n_chars) AS sx,
         sum(n_chars * n_chars) AS sxx
  FROM documents GROUP BY source
)
SELECT doc_id, documents.source, n_chars,
       CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 THEN
         CAST(round(CAST(n * n_chars - sx AS DOUBLE)
               * sqrt(CAST(n * (n - 1) AS DOUBLE))
               / CAST(n AS DOUBLE)
               / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * 1e6) AS BIGINT)
       END AS z_chars_e6
FROM documents JOIN s ON documents.source = s.source
"""


SPECS = [
    QuerySpec("pipe_standardize", pipe_standardize, STANDARDIZE_SQL,
              "per-source z-score scaling (Σ-stats fit, broadcast transform)"),
    QuerySpec("pipe_kfold", pipe_kfold, KFOLD_SQL,
              "deterministic k-fold CV assignment summary (multiplicative hash)"),
    QuerySpec("pipe_class_weights", pipe_class_weights, CLASS_WEIGHTS_SQL,
              "balanced inverse-frequency class weights (one grouped count)"),
    QuerySpec("agg_histogram", agg_histogram, HISTOGRAM_SQL,
              "fixed-width numeric histogram profile (exact cents mass)"),
    QuerySpec("pipe_range_bounds", pipe_range_bounds, RANGE_BOUNDS_SQL,
              "equi-depth range-partition boundaries (exact percentiles)"),
    QuerySpec("text_pmi", text_pmi, PMI_SQL,
              "PMI collocations (log-domain, vocab-bounded tables)"),
    QuerySpec("text_bigrams", text_bigrams, BIGRAMS_SQL,
              "top-k corpus word bigrams (partial-agg + TakeOrdered)"),
    QuerySpec("text_lm_score", text_lm_score, LM_SCORE_SQL,
              "mean corpus bigram frequency per doc (LM-quality proxy)"),
    QuerySpec("sim_quantize_int8", sim_quantize_int8, QUANTIZE_SQL,
              "per-vector int8 quantization with reconstruction MSE"),
    QuerySpec("pipe_drift_psi", pipe_drift_psi, DRIFT_SQL,
              "PSI drift terms between deterministic cohorts"),
    QuerySpec("agg_incremental", agg_incremental, INCREMENTAL_SQL,
              "incremental partial-agg merge == one-shot rescan"),
]

"""Chunking & data-layout queries (LLM-data-pipeline surface, part 3):
fixed-overlap chunking, content-defined chunking, Z-order layout keys,
and UniMax mixture allocation — the steps between curation and
tokenization that decide what a training shard physically contains.

Oracle parity: chunk hashes reuse the engine-wide tokenization
(``split(lower(trim(text)), '\\s+')`` via queries/dedup.TOKS_SQL) and the
shared polynomial char-fold (``_hash_sql``), so DuckDB reproduces every
boundary and md5 exactly; Z-order and UniMax are exact integer math with
one final double division (round-6 on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.rank import grid_rank
from ..operators.chunking import (
    CDC_BOUNDARY_MOD,
    _toks,
    chunk_cdc,
    chunk_fixed,
    hilbert_index,
    unimax_allocation,
    zorder_key,
)
from ..tables import load_table
from . import QuerySpec
from .dedup import TOKS_SQL, _hash_sql, toks_sql

CHUNK_SIZE, CHUNK_STRIDE = 16, 12


def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 16-token chunks, stride 12 (4-token overlap) over documents —
    the retrieval/window prep step as a narrow, shuffle-free explode
    (operators/chunking.chunk_fixed)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_fixed(docs, "doc_id", "text", CHUNK_SIZE, CHUNK_STRIDE).withColumnRenamed(
        "id", "doc_id"
    )


CHUNK_FIXED_SQL = f"""
WITH t AS ({TOKS_SQL})
SELECT doc_id,
       CAST(u.i / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(u.i AS BIGINT) AS start_pos,
       CAST(least({CHUNK_SIZE}, len(toks) - u.i) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[u.i + 1 : u.i + {CHUNK_SIZE}], ' ')) AS chunk_md5
FROM t, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS u(i)
"""


def q_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: boundary after every token whose char-fold
    hash is 0 mod 8 — edit-stable chunk identities for incremental dedup
    (operators/chunking.chunk_cdc; row-local, zero shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_cdc(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


CHUNK_CDC_SQL = f"""
WITH t AS (
  SELECT doc_id, toks, list_transform(toks, s -> {_hash_sql('s')}) AS wh
  FROM ({TOKS_SQL})
),
b AS (
  SELECT doc_id, toks,
         list_concat(
           [CAST(1 AS BIGINT)],
           list_transform(
             list_filter(range(1, len(toks)), i -> wh[i] % {CDC_BOUNDARY_MOD} = 0),
             i -> CAST(i + 1 AS BIGINT)
           )
         ) AS starts
  FROM t
)
SELECT doc_id,
       CAST(u.ci - 1 AS BIGINT) AS chunk_idx,
       CAST(starts[u.ci] - 1 AS BIGINT) AS start_pos,
       CAST(coalesce(starts[u.ci + 1], len(toks) + 1) - starts[u.ci] AS BIGINT) AS n_tokens,
       md5(array_to_string(
         toks[starts[u.ci] : coalesce(starts[u.ci + 1], len(toks) + 1) - 1], ' '
       )) AS chunk_md5
FROM b, unnest(generate_series(1, len(starts))) AS u(ci)
"""


Z_BITS = 10
Z_GRID = 1 << Z_BITS
Z_BUCKET_SHIFT = 12


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (l_partkey, l_suppkey) mod
    1024 into a 20-bit key, bucket by the top 8 bits (the
    ``repartitionByRange`` split a Z-clustered table layout would use) and
    report per-bucket row counts and key ranges — the pruning-granularity
    histogram of the layout (operators/chunking.zorder_key, pure codegen
    expression)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % Z_GRID).alias("x"),
        (F.col("l_suppkey") % Z_GRID).alias("y"),
    )
    z = zorder_key("x", "y", Z_BITS)
    return (
        li.select(F.shiftright(z, Z_BUCKET_SHIFT).alias("z_bucket"), z.alias("z"))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


def _zorder_sql_expr(xe: str, ye: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(({xe}) // {1 << b} % 2) * {1 << (2 * b)}")
        terms.append(f"(({ye}) // {1 << b} % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


LAYOUT_ZORDER_SQL = f"""
WITH z AS (
  SELECT CAST({_zorder_sql_expr(f'l_partkey % {Z_GRID}', f'l_suppkey % {Z_GRID}', Z_BITS)}
         AS BIGINT) AS z
  FROM lineitem
)
SELECT CAST(z // {1 << Z_BUCKET_SHIFT} AS BIGINT) AS z_bucket,
       count(*) AS n, min(z) AS z_min, max(z) AS z_max
FROM z
GROUP BY 1
"""

def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit — the locality-preserving dual of
    ``q_layout_zorder`` on the SAME (l_partkey, l_suppkey) grid and
    bucket count, reporting each bucket's key range AND its (x, y)
    bounding box. Consecutive Hilbert indices are always grid neighbors,
    so the per-bucket boxes are tighter than Z-order's at equal bucket
    count (the measured claim behind preferring Hilbert clustering for
    2-D range pruning; tests assert it on this data).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % Z_GRID).alias("x"),
        (F.col("l_suppkey") % Z_GRID).alias("y"),
    )
    return (
        hilbert_index(li, "x", "y", Z_BITS, out="h")
        .select("x", "y", F.shiftright(F.col("h"), Z_BUCKET_SHIFT).alias("h_bucket"), "h")
        .groupBy("h_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("h").alias("h_min"),
            F.max("h").alias("h_max"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def _hilbert_sql_levels(xe: str, ye: str, bits: int) -> str:
    """The oracle dual of ``operators.chunking.hilbert_index``: the same
    quadrant-rotation walk unrolled as ``bits`` chained scalar levels
    (DuckDB's list_reduce cannot carry a struct accumulator over a plain
    integer level list, so the fold becomes nested subqueries — linear
    size, exact integer arithmetic). Emits (ox, oy, d)."""
    n = 1 << bits
    sql = (
        f"SELECT CAST({xe} AS BIGINT) AS ox, CAST({ye} AS BIGINT) AS oy, "
        f"CAST({xe} AS BIGINT) AS x, CAST({ye} AS BIGINT) AS y, "
        "CAST(0 AS BIGINT) AS d FROM lineitem"
    )
    for b in reversed(range(bits)):
        s = 1 << b
        sql = f"""SELECT ox, oy,
  CASE WHEN (y & {s}) = 0 THEN (CASE WHEN (x & {s}) > 0 THEN {n - 1} - y ELSE y END) ELSE x END AS x,
  CASE WHEN (y & {s}) = 0 THEN (CASE WHEN (x & {s}) > 0 THEN {n - 1} - x ELSE x END) ELSE y END AS y,
  d + {s * s} * xor(CASE WHEN (x & {s}) > 0 THEN CAST(3 AS BIGINT) ELSE 0 END,
                    CASE WHEN (y & {s}) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) AS d
FROM ({sql})"""
    return sql


LAYOUT_HILBERT_SQL = f"""
WITH h AS ({_hilbert_sql_levels(f'l_partkey % {Z_GRID}', f'l_suppkey % {Z_GRID}', Z_BITS)})
SELECT CAST(d // {1 << Z_BUCKET_SHIFT} AS BIGINT) AS h_bucket,
       count(*) AS n, min(d) AS h_min, max(d) AS h_max,
       min(ox) AS x_min, max(ox) AS x_max, min(oy) AS y_min, max(oy) AS y_max
FROM h
GROUP BY 1
"""


UNIMAX_BUDGET = 100_000
UNIMAX_MAX_EPOCHS = 4


def q_pipe_unimax_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): split a 100k-token
    budget across the documents table's sources, each capped at 4 epochs —
    water-filling closed form over the per-source token counts
    (operators/chunking.unimax_allocation; exact-integer saturation test
    AND exact-integer micro-units — no double arithmetic anywhere in the
    allocation)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(_toks("text"))).alias("n_tok")
    )
    return unimax_allocation(
        per_source, "source", "n_tok", UNIMAX_BUDGET, UNIMAX_MAX_EPOCHS
    )


UNIMAX_SQL = f"""
WITH s AS (
  SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         CAST(sum(len(toks)) * {UNIMAX_MAX_EPOCHS} AS BIGINT) AS cap
  FROM ({toks_sql("source")})
  GROUP BY source
),
r AS (
  SELECT source, n_tokens, cap,
         row_number() OVER w AS k,
         sum(cap) OVER w AS cum,
         count(*) OVER () AS n_src
  FROM s
  WINDOW w AS (ORDER BY cap, source ROWS UNBOUNDED PRECEDING)
),
f AS (
  SELECT *, cap * (n_src - k + 1) <= {UNIMAX_BUDGET} - (cum - cap) AS saturated
  FROM r
),
lvl AS (
  SELECT coalesce(sum(CASE WHEN saturated THEN cap END), 0) AS sat_tok,
         sum(CASE WHEN saturated THEN 0 ELSE 1 END) AS n_unsat
  FROM f
),
j AS (
  SELECT f.*,
         CAST({UNIMAX_BUDGET} - lvl.sat_tok AS HUGEINT) AS rr,
         CAST(lvl.n_unsat AS HUGEINT) AS nn
  FROM f, lvl
)
SELECT source, n_tokens, cap,
       -- exact integer micro-units, mirror of unimax_allocation:
       -- cap wins (saturated or cap*n < R) -> cap*1e6; else the common
       -- level R/n rounded half-up as (2a+b)//(2b) (positive args)
       CAST(CASE WHEN saturated OR CAST(cap AS HUGEINT) * nn < rr
                 THEN CAST(cap AS HUGEINT) * 1000000
                 ELSE (rr * 2000000 + nn) // (2 * nn) END AS BIGINT)
           AS alloc_tokens_e6,
       CAST(CASE WHEN saturated OR CAST(cap AS HUGEINT) * nn < rr
                 THEN {UNIMAX_MAX_EPOCHS} * 1000000
                 ELSE (rr * 2000000 + nn * CAST(n_tokens AS HUGEINT))
                      // (2 * nn * CAST(n_tokens AS HUGEINT)) END AS BIGINT)
           AS epochs_e6
FROM j
"""


def q_dedup_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-document dedup — the storage-system composition
    CDC exists for: chunk every document content-defined, drop every chunk
    whose content appears in >= 2 distinct documents, and pin each
    document's surviving rewrite by an order-preserving signature over the
    kept chunk hashes. Unlike the span-based ExactSubstr profile
    (``dedup_substring``), identity lives at chunk granularity, so an
    edited re-upload of a document re-ships only its touched chunks.

    Scale: one shuffle to count distinct docs per chunk hash (16-byte
    keys, partial-agg combined), one hash anti-join of the chunk stream
    against the dup set (output-sized; AQE broadcasts it when small), one
    per-doc aggregation. No text ever shuffles — only hashes.

    ``scan_floor`` spreads the CDC chunking over the cores, and
    ``repartition("chunk_md5")`` makes the chunk stream ONE exchange that
    the dup-count aggregate and the anti-join probe reuse, so the chunking
    runs once; it carries chunk metadata, never text
    (OPTIMIZATION_r10.md)."""
    from ..tables import scan_floor

    docs = load_table(spark, sf_dir, "documents")
    ch = (
        chunk_cdc(scan_floor(docs), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .repartition("chunk_md5")
    )
    dup = (
        ch.groupBy("chunk_md5")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk_md5")
    )
    kept = ch.join(dup, "chunk_md5", "left_anti")
    sig = F.md5(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_md5"))),
                lambda x: x["chunk_md5"],
            ),
        )
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_chunks"),
        F.sum("n_tokens").alias("kept_tokens"),
        sig.alias("rewrite_sig"),
    )


DEDUP_CHUNK_CDC_SQL = f"""
WITH c AS ({CHUNK_CDC_SQL}),
dup AS (
  SELECT chunk_md5 FROM c GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2
),
kept AS (SELECT * FROM c WHERE chunk_md5 NOT IN (SELECT chunk_md5 FROM dup))
SELECT doc_id,
       count(*) AS kept_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
       md5(string_agg(chunk_md5, '' ORDER BY chunk_idx)) AS rewrite_sig
FROM kept
GROUP BY doc_id
"""


COVERAGE_PCTS = [50, 90, 95, 99]


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: for each target coverage percentage, the
    smallest frequency-ranked vocabulary covering that share of all token
    OCCURRENCES, plus the achieved coverage and implied UNK rate — the
    number a vocab/BPE budget decision actually needs. Saturation test is
    exact integers (``cum * 100 >= pct * total``); the reported fractions
    are one final round-6 division.

    Scale: token counting is a partial-agg'd groupBy; the rank/cumsum
    window runs over the DISTINCT-token table, which is vocabulary-sized
    (millions of rows at 100 TB, not corpus-sized) — same justification
    as the bigram LM's vocabulary-sized table."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(_toks("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), "tok")
    ranked = counts.select(
        "c",
        F.row_number().over(w).alias("rank"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in COVERAGE_PCTS])).alias("pct")
    )
    hit = ranked.join(
        F.broadcast(pcts), F.col("cum") * 100 >= F.col("pct") * F.col("total")
    )
    return (
        hit.groupBy("pct")
        .agg(
            F.min("rank").alias("vocab_size"),
            F.max("total").alias("total_tokens"),
        )
        .join(ranked.select("rank", "cum"), F.col("vocab_size") == F.col("rank"))
        .select(
            F.col("pct").cast("long").alias("pct"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
            "total_tokens",
            # hash-stability: exact integer ppm (DESIGN.md "integer micro-units")
            F.expr(
                "CAST((CAST(cum AS DECIMAL(38,0)) * 1000000)"
                " div total_tokens AS LONG)"
            )
            .alias("covered_ppm"),
            F.expr(
                "CAST((CAST(total_tokens - cum AS DECIMAL(38,0)) * 1000000)"
                " div total_tokens AS LONG)"
            )
            .alias("unk_ppm"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH tk AS (SELECT unnest(toks) AS tok FROM ({TOKS_SQL})),
counts AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
ranked AS (
  SELECT c,
         row_number() OVER w AS rank,
         sum(c) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER () AS total
  FROM counts
  WINDOW w AS (ORDER BY c DESC, tok)
),
hit AS (
  SELECT p.pct, min(r.rank) AS vocab_size, max(r.total) AS total_tokens
  FROM (SELECT unnest([{", ".join(str(p) for p in COVERAGE_PCTS)}]) AS pct) p
  JOIN ranked r ON r.cum * 100 >= p.pct * r.total
  GROUP BY p.pct
)
SELECT CAST(h.pct AS BIGINT) AS pct,
       CAST(h.vocab_size AS BIGINT) AS vocab_size,
       CAST(h.total_tokens AS BIGINT) AS total_tokens,
       CAST((CAST(r.cum AS HUGEINT) * 1000000) // h.total_tokens AS BIGINT) AS covered_ppm,
       CAST((CAST(h.total_tokens - r.cum AS HUGEINT) * 1000000) // h.total_tokens AS BIGINT) AS unk_ppm
FROM hit h JOIN ranked r ON h.vocab_size = r.rank
"""



N_BALANCED_SHARDS = 16


def q_pipe_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment: documents sorted by token count
    descending and dealt to 16 shards in a SNAKE (boustrophedon) pattern —
    shard 0..15 then 15..0 — so every shard receives one doc per cycle
    and the big-doc head spreads evenly; per-shard totals land within a
    few percent without any sequential greedy state. The deterministic,
    window-expressible stand-in for greedy longest-processing-time
    packing a shard writer uses to equalize training-shard token budgets.

    Scale: the global position is NOT an unpartitioned rank window (that
    is a single-partition WindowExec over every doc row; see
    tests/test_plans.py). n_tok has a bounded value DOMAIN (max tokens per document,
    independent of corpus size), so operators/rank.grid_rank decomposes
    the rank into domain-table cumulative counts + a window partitioned
    BY n_tok: one distributed corpus shuffle, then the 16-group
    aggregate. Oracle unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(_toks("text")).cast("long").alias("n_tok")
    )
    ranked = grid_rank(
        sized, "n_tok", ["doc_id"], rank_col="__gr", descending=True
    )
    S = N_BALANCED_SHARDS
    pos = F.col("__gr") - 1
    within = pos % S
    shard = F.when((pos / S).cast("long") % 2 == 0, within).otherwise(
        S - 1 - within
    )
    return (
        ranked.withColumn("shard", shard.cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tok_sum"),
        )
    )


SHARD_BALANCE_SQL = f"""
WITH sized AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM ({TOKS_SQL})
),
ranked AS (
  SELECT n_tok,
         row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS pos
  FROM sized
)
SELECT CAST(CASE WHEN (pos // {N_BALANCED_SHARDS}) % 2 = 0
            THEN pos % {N_BALANCED_SHARDS}
            ELSE {N_BALANCED_SHARDS} - 1 - pos % {N_BALANCED_SHARDS} END AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum
FROM ranked
GROUP BY 1
"""


COMPACTION_CAP = 16_384  # target compacted-file payload (chars here)


def q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: within each table partition
    (``source``), assign documents to fixed-capacity compaction bins by
    size-descending cumulative sum — bin = floor(chars_before / cap), the
    deterministic next-fit plan an OPTIMIZE/compaction job executes.
    Output: per (source, bin_id) the file count, payload, and largest
    member.

    Scale: the window partitions by ``source``, so every partition plans
    its own bins in parallel — exactly how table-format compaction
    (Iceberg/Delta OPTIMIZE) schedules work; no global sort, one shuffle
    on the partition key. The size-descending order packs large files
    first so tail bins collect the small-file long tail."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = docs.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_chars").over(w) - F.col("n_chars")).cast("double")
            / F.lit(COMPACTION_CAP)
        ),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("bin_chars"),
        F.max("n_chars").alias("max_doc_chars"),
    )


LAYOUT_COMPACTION_SQL = f"""
WITH sized AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         sum(CAST(n_chars AS BIGINT)) OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
)
SELECT source,
       CAST(floor(CAST(cum - n_chars AS DOUBLE) / {COMPACTION_CAP}) AS BIGINT)
           AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bin_chars,
       max(n_chars) AS max_doc_chars
FROM sized
GROUP BY source, bin_id
"""


ZONE_KEYS = 128  # key-range zone width (rows per zone scales with the file)
ZONE_LO, ZONE_HI = "1996-01-01", "1996-04-01"  # the scan predicate audited


def q_layout_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map / data-skipping audit — the min-max statistics a parquet
    row group or Delta/Iceberg file footer keeps, and the pruning decision
    the scanner makes from them, computed for the SAME rows under two
    physical layouts:

    - ``keyrange``: zones of {ZONE_KEYS} consecutive order keys (ingest
      order — dates land everywhere, min/max spans the whole history, the
      ship-date predicate prunes ~nothing);
    - ``datecluster``: zones = calendar months of ``l_shipdate`` (the
      layout a ``layout_zorder``/OPTIMIZE pass produces — min/max is tight
      and the predicate prunes every zone outside [{ZONE_LO}, {ZONE_HI})).

    Output per (layout, zone_id): row count, min/max ship date, and
    ``pruned`` — whether a scan for the predicate skips the zone entirely.
    The two layouts side by side quantify WHY clustering matters at
    100 TB: the same query reads two orders of magnitude fewer zones.

    Scale: one aggregation shuffled on (layout, zone_id); zone stats are
    output-sized (one row per zone), the pruning decision is a map over
    them. This is exactly the metadata pass a table-format scan planner
    runs — no data movement beyond the stats aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("okey"),
        F.col("l_shipdate").alias("d"),
    )
    keyrange = li.select(
        F.lit("keyrange").alias("layout"),
        F.expr(f"okey DIV {ZONE_KEYS}").alias("zone_id"),
        "d",
    )
    datecluster = li.select(
        F.lit("datecluster").alias("layout"),
        (F.year("d") * 12 + F.month("d") - 1).cast("long").alias("zone_id"),
        "d",
    )
    zones = (
        keyrange.unionByName(datecluster)
        .groupBy("layout", "zone_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("d").alias("min_ship"),
            F.max("d").alias("max_ship"),
        )
    )
    return zones.withColumn(
        "pruned",
        (F.col("max_ship") < F.lit(ZONE_LO).cast("timestamp_ntz"))
        | (F.col("min_ship") >= F.lit(ZONE_HI).cast("timestamp_ntz")),
    )


ZONE_MAP_SQL = f"""
WITH rows_z AS (
  SELECT 'keyrange' AS layout,
         CAST(l_orderkey AS BIGINT) // {ZONE_KEYS} AS zone_id,
         l_shipdate AS d
  FROM lineitem
  UNION ALL
  SELECT 'datecluster',
         CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT),
         l_shipdate
  FROM lineitem
),
zones AS (
  SELECT layout, zone_id, count(*) AS n_rows,
         min(d) AS min_ship, max(d) AS max_ship
  FROM rows_z GROUP BY layout, zone_id
)
SELECT layout, zone_id, n_rows, min_ship, max_ship,
       (max_ship < TIMESTAMP '{ZONE_LO}' OR min_ship >= TIMESTAMP '{ZONE_HI}')
           AS pruned
FROM zones
"""


SPECS = [
    QuerySpec(
        "chunk_fixed_overlap",
        q_chunk_fixed,
        CHUNK_FIXED_SQL,
        "LLM-pipeline: fixed-size overlapping token chunks, shuffle-free",
    ),
    QuerySpec(
        "chunk_cdc",
        q_chunk_cdc,
        CHUNK_CDC_SQL,
        "LLM-pipeline: content-defined chunking (rolling-hash boundaries)",
    ),
    QuerySpec(
        "layout_zorder",
        q_layout_zorder,
        LAYOUT_ZORDER_SQL,
        "data layout: Morton/Z-order key histogram for 2-D clustering",
    ),
    QuerySpec(
        "layout_hilbert",
        q_layout_hilbert,
        LAYOUT_HILBERT_SQL,
        "data layout: Hilbert-curve bucket audit with per-bucket bounding "
        "boxes (locality-preserving dual of layout_zorder)",
    ),
    QuerySpec(
        "pipe_unimax_epochs",
        q_pipe_unimax_epochs,
        UNIMAX_SQL,
        "LLM-pipeline: UniMax water-filling mixture allocation",
    ),
    QuerySpec(
        "dedup_chunk_cdc",
        q_dedup_chunk_cdc,
        DEDUP_CHUNK_CDC_SQL,
        "LLM-pipeline: cross-doc chunk-level dedup with rewrite signatures",
    ),
    QuerySpec(
        "pipe_shard_balance",
        q_pipe_shard_balance,
        SHARD_BALANCE_SQL,
        "LLM-pipeline: snake-balanced equal-token shard assignment",
    ),
    QuerySpec(
        "layout_compaction_bins",
        q_layout_compaction,
        LAYOUT_COMPACTION_SQL,
        "data layout: per-partition fixed-capacity compaction bin plan",
    ),
    QuerySpec(
        "layout_zone_map",
        q_layout_zone_map,
        ZONE_MAP_SQL,
        "data layout: zone-map min/max stats + predicate pruning audit",
    ),
    QuerySpec(
        "text_vocab_coverage",
        q_text_vocab_coverage,
        VOCAB_COVERAGE_SQL,
        "LLM-pipeline: frequency-ranked vocabulary coverage / UNK-rate curve",
    ),
]

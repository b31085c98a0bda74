"""Document chunking and data-layout operators (LLM-pipeline surface).

The reference engine has no chunking — this module extends the engine for
the training-data-pipeline mandate: fixed-size overlapping chunks (the
RAG/window-attention prep step), content-defined chunking (CDC — the
shift-invariant boundary scheme deduplicating storage systems and
long-document splitters use, cf. the FastCDC/LBFS rolling-hash family),
Z-order (Morton) interleaved layout keys for multi-dimensional data
clustering, and the UniMax water-filling mixture allocation
(Chung et al. 2023, "UniMax: Fairer and More Effective Language Sampling
for Large-Scale Multilingual Pretraining").

Scale design: both chunkers are NARROW — every chunk boundary is computed
row-locally from the document's own token array with higher-order
functions (no explode + window cumsum, hence no shuffle at all before the
caller's own aggregation); at 100 TB the chunk table is produced at scan
speed. Z-order keys are a pure expression (unrolled bit interleave inside
whole-stage codegen) feeding ``repartitionByRange`` for layout. UniMax
runs two tiny aggregations over the per-source stats table (sources
number in the hundreds, not billions).

Tokenization follows the engine-wide convention
``split(lower(trim(text)), '\\s+')`` (functions/text.py) so chunk hashes
agree byte-for-byte with the dedup/curation oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import TOKEN_SPLIT_RE, word_hashes


def _toks(text_col: str) -> Column:
    return F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)


def chunk_fixed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 16,
    stride: int = 12,
) -> DataFrame:
    """Fixed-size token chunks with overlap (stride < size ⇒ each chunk
    shares ``size - stride`` tokens with its successor) — the standard
    retrieval / context-window prep step. Returns
    ``(id, chunk_idx, start_pos, n_tokens, chunk_md5)`` where ``chunk_md5``
    pins the space-joined token span (the engine's dedup normalization;
    NOT the original bytes — see ``trim_duplicated_spans`` for the same
    caveat).

    Scale: chunk starts are a row-local ``sequence(0, n-1, stride)`` and
    the explode multiplies rows by ~n/stride — no shuffle; partition count
    and pushdown are those of the input scan.
    """
    if stride < 1 or size < 1:
        raise ValueError("size and stride must be >= 1")
    toks = _toks(text_col)
    base = df.select(F.col(id_col).alias("id"), toks.alias("__t"))
    starts = F.sequence(F.lit(0), F.size("__t") - 1, F.lit(stride))
    out = base.select(
        "id", "__t", F.posexplode(starts).alias("chunk_idx", "start_pos")
    )
    chunk = F.slice("__t", F.col("start_pos") + 1, size)
    return out.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# CDC boundary rule: a token ENDS its chunk when its polynomial char-fold
# hash is 0 mod this divisor (~1/8 of tokens on random text). Shared with
# the DuckDB oracle via queries/layout.py.
CDC_BOUNDARY_MOD = 8


def chunk_cdc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundary_mod: int = CDC_BOUNDARY_MOD,
) -> DataFrame:
    """Content-defined chunking: a chunk boundary falls AFTER every token
    whose char-fold hash ≡ 0 (mod ``boundary_mod``) — boundaries depend
    only on local content, so inserting or deleting a token reshuffles at
    most the two chunks it touches while every other chunk keeps its
    identity (the property that makes CDC the right unit for incremental
    dedup of edited documents; fixed-size chunks lose ALL downstream
    identities after one insertion). Returns
    ``(id, chunk_idx, start_pos, n_tokens, chunk_md5)``.

    Scale: entirely row-local — boundary positions are a ``filter`` over
    the token-hash array, chunk spans a ``transform`` over consecutive
    boundary pairs; zero shuffles, runs at scan speed on any partition
    layout. The expected chunk length is ``boundary_mod`` tokens with a
    geometric tail; callers needing hard min/max bounds compose with
    ``chunk_fixed`` on the oversized chunks. ``boundary_mod`` must be
    >= 1 (validated: 0 would silently make every document one chunk with
    ANSI off, or die in a runtime divide-by-zero with it).
    """
    if boundary_mod < 1:
        raise ValueError(f"chunk_cdc: boundary_mod must be >= 1, got {boundary_mod}")
    base = df.select(
        F.col(id_col).alias("id"),
        _toks(text_col).alias("__t"),
        word_hashes(text_col).alias("__h"),
    )
    n = F.size("__t")
    # 1-based start of every chunk: position 1 plus each position just
    # after an interior boundary token (a trailing boundary at pos n must
    # not open an empty chunk). Guard n == 1: sequence(1, 0) DESCENDS in
    # Spark, and element_at(_, 0) throws — a single-token document has no
    # interior positions at all.
    interior = F.when(
        n >= 2,
        F.transform(
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.element_at("__h", i) % boundary_mod == 0,
            ),
            lambda i: i + 1,
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), interior)
    ends = F.concat(F.slice(starts, 2, 2_000_000_000), F.array(n + 1))
    chunks = F.zip_with(
        starts, ends, lambda s, e: F.struct(
            s.alias("s"), (e - s).alias("len")
        )
    )
    out = base.select("id", "__t", F.posexplode(chunks).alias("chunk_idx", "c"))
    span = F.slice("__t", F.col("c.s"), F.col("c.len"))
    return out.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("c.s") - 1).cast("long").alias("start_pos"),
        F.col("c.len").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", span)).alias("chunk_md5"),
    )


def zorder_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Morton/Z-order interleave of two non-negative ints (``bits`` low
    bits each) into one long: ``z = Σ_b ((x>>b)&1)<<2b | ((y>>b)&1)<<(2b+1)``.
    Sorting or range-partitioning by ``z`` co-locates rows that are close
    in BOTH dimensions — the layout trick behind Delta/Iceberg Z-order
    clustering: a 2-D range predicate then prunes contiguous z-ranges
    instead of scanning one dimension's stripes.

    The interleave is unrolled into ``2*bits`` codegen-friendly
    shift/mask/add terms (a pure expression — no UDF, no shuffle); feed it
    to ``repartitionByRange(n, z)`` + ``sortWithinPartitions(z)`` to
    materialize the layout. ``bits`` is capped at 31: the interleaved key
    spans ``2*bits`` bits, and at 32 the top y-bit would land on the long
    SIGN bit — negative z keys sorting before the origin, breaking the
    co-location ordering the function exists for.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"zorder_key: bits must be in [1, 31], got {bits}")
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    xc, yc = xc.cast("long"), yc.cast("long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xc, b).bitwiseAND(1), 2 * b)
            + F.shiftleft(F.shiftright(yc, b).bitwiseAND(1), 2 * b + 1)
        )
    return z


def hilbert_index(
    df: DataFrame,
    x: Column | str,
    y: Column | str,
    bits: int = 16,
    out: str = "h",
) -> DataFrame:
    """Append the Hilbert-curve index of two non-negative ints (``bits``
    low bits each, grid side ``n = 2^bits``) as column ``out`` — the
    locality-preserving complement of ``zorder_key``: consecutive Hilbert
    indices are always GRID NEIGHBORS (the Z curve jumps across the plane
    at every power-of-two boundary), so range-partitioning by this key
    gives tighter per-bucket bounding boxes and better 2-D range pruning
    at the same bucket count (tests measure the claim on lineitem).

    Algorithm: the standard quadrant-rotation walk (the iterative xy->d
    form of the Wikipedia/"Hacker's Delight" reference implementation):
    per level s = 2^(bits-1)..1, take quadrant bits (rx, ry), advance d
    by s²·((3·rx) XOR ry), then reflect (full-grid n-1-·, when ry=0 ∧
    rx=1) and transpose (when ry=0) into the sub-quadrant frame.

    Shape: a DataFrame transform, not a Column — each level is one
    narrow chained projection over (state_x, state_y, d), all fused into
    the SAME WholeStageCodegen stage (local variables per level, linear
    work; measured 0.17s vs 7s for a runtime ``aggregate`` struct fold
    at bits=10 over 6M rows). A single unrolled expression is not an
    option either: every level references both prior coordinates twice,
    growing the tree ~4^bits. No UDF, no shuffle. ``bits`` capped at 31
    like ``zorder_key`` (2·bits key bits must stay off the long sign
    bit).
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"hilbert_index: bits must be in [1, 31], got {bits}")
    reserved = {"__hx", "__hy", out}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"hilbert_index: column collision {sorted(clash)} — rename the "
            "input or pick another out= name"
        )
    n = 1 << bits
    # mask to the grid's low bits (same semantics as zorder_key, which
    # reads only bits [0, bits) — without this an out-of-range x would
    # survive into the n-1-x reflection and walk negative)
    xc = (F.col(x) if isinstance(x, str) else x).cast("long").bitwiseAND(n - 1)
    yc = (F.col(y) if isinstance(y, str) else y).cast("long").bitwiseAND(n - 1)
    cur = df.select(
        "*", xc.alias("__hx"), yc.alias("__hy"), F.lit(0).cast("long").alias(out)
    )
    keep = df.columns
    for b in reversed(range(bits)):
        s = 1 << b
        hx, hy = F.col("__hx"), F.col("__hy")
        rx = F.when(hx.bitwiseAND(s) > 0, F.lit(3).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        ry = F.when(hy.bitwiseAND(s) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        d = F.col(out) + F.lit(s * s).cast("long") * rx.bitwiseXOR(ry)
        nx = F.when(
            hy.bitwiseAND(s) == 0,
            F.when(hx.bitwiseAND(s) > 0, F.lit(n - 1) - hy).otherwise(hy),
        ).otherwise(hx)
        ny = F.when(
            hy.bitwiseAND(s) == 0,
            F.when(hx.bitwiseAND(s) > 0, F.lit(n - 1) - hx).otherwise(hx),
        ).otherwise(hy)
        cur = cur.select(
            *keep, nx.alias("__hx"), ny.alias("__hy"), d.alias(out)
        )
    return cur.drop("__hx", "__hy")


def unimax_allocation(
    per_source: DataFrame,
    source_col: str,
    tokens_col: str,
    budget: int,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax mixture allocation (Chung et al. 2023): split a total token
    ``budget`` across sources so every source is sampled as uniformly as
    possible without repeating any source more than ``max_epochs`` times.
    Water-filling closed form: sources sorted ascending by their cap
    ``cap_i = max_epochs * n_i``; a source is SATURATED (gets its full
    cap) while ``cap_k * (N-k+1) <= budget - Σ_{j<k} cap_j`` — both sides
    exact integers — and every unsaturated source gets the common level
    ``u = (budget - Σ_sat cap) / n_unsat``. Returns
    ``(source, n_tokens, cap, alloc_tokens_e6, epochs_e6)`` — allocation
    and epochs as e6 integer micro-units (hash-stability, DESIGN.md).

    Scale: two aggregations over the per-source stats table (rows =
    number of sources — thousands at most), then one broadcastable join
    of the scalar level back. The 100 TB corpus is touched only by the
    caller computing ``per_source``; allocation itself is metadata-sized.

    Exactness: the micro-units are computed in INTEGER arithmetic
    (DECIMAL(38,0) intermediates, round-half-up as ``(2a+b) div 2b``) —
    a double ``round(alloc * 1e6)`` stops being exact once alloc exceeds
    ~9e9 tokens (alloc*1e6 > 2^53), a plausible budget at the 100 TB
    scale. The remaining ceiling is the OUTPUT type: alloc_tokens_e6 is
    BIGINT, so ``budget * 1e6`` must fit in int64 — enforced with a
    loud raise at ~9.2e12 tokens (raise the unit, not the type, past
    that: a budget that large doesn't need micro-token resolution).
    """
    if budget < 0 or budget > (2**63 - 1) // 1_000_000:
        raise ValueError(
            "unimax_allocation: budget * 1e6 must fit in BIGINT "
            f"(budget <= {(2**63 - 1) // 1_000_000}); got {budget}"
        )
    w = Window.orderBy("cap", "source")
    # a NULL token count is a data error, not a stratum: it would be
    # counted in NEITHER sat_tok nor n_unsat (saturated = NULL) yet still
    # fall into the allocation CASE's ELSE branch and receive the full
    # water level — silently over-allocating the budget
    n_tok = F.when(
        F.col(tokens_col).isNotNull(), F.col(tokens_col).cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("unimax_allocation: NULL token count for source "),
                F.col(source_col).cast("string"),
            )
        ).cast("long")
    )
    stats = per_source.select(
        F.col(source_col).alias("source"),
        n_tok.alias("n_tokens"),
        # cap computed in DECIMAL then cast: an ANSI overflow on the cast
        # is loud, a wrap would be silent
        (F.col(tokens_col).cast("decimal(38,0)") * max_epochs)
        .cast("long")
        .alias("cap"),
    )
    ranked = stats.withColumn("k", F.row_number().over(w)).withColumn(
        "cum", F.sum("cap").over(w)
    )
    n_src = ranked.withColumn("n_src", F.count(F.lit(1)).over(
        Window.partitionBy()
    ))
    # saturated iff capping this source (and implicitly all smaller ones)
    # still leaves >= cap for each remaining source. DECIMAL(38,0), not
    # BIGINT: cap * n_src wraps past 2^63 with ANSI off (the docstring's
    # exactness claim) while the oracle's HUGEINT never does
    sat = n_src.withColumn(
        "saturated",
        F.col("cap").cast("decimal(38,0)") * (F.col("n_src") - F.col("k") + 1)
        <= F.lit(budget).cast("decimal(38,0)")
        - (F.col("cum").cast("decimal(38,0)") - F.col("cap")),
    )
    level = sat.groupBy().agg(
        F.coalesce(F.sum(F.when(F.col("saturated"), F.col("cap"))), F.lit(0)).alias("sat_tok"),
        F.sum(F.when(~F.col("saturated"), 1).otherwise(0)).alias("n_unsat"),
    )
    out = sat.crossJoin(F.broadcast(level))
    # hash-stability AND exactness: pure integer water-level algebra.
    # R = unsaturated budget, n = n_unsat; an unsaturated source gets
    # min(cap, R/n) — compare cap*n < R exactly, and when the level wins
    # round R*1e6/n half-up as (2a+b) div 2b (a, b > 0; div truncates,
    # which equals floor for positives — identical in Spark and DuckDB).
    dec = "DECIMAL(38,0)"
    r_expr = f"CAST({budget} - sat_tok AS {dec})"
    n_expr = f"CAST(n_unsat AS {dec})"
    cap_wins = f"(saturated OR CAST(cap AS {dec}) * {n_expr} < {r_expr})"
    alloc_e6 = (
        f"CASE WHEN {cap_wins} THEN CAST(CAST(cap AS {dec}) * 1000000 AS LONG) "
        f"ELSE CAST(({r_expr} * 2000000 + {n_expr}) div (2 * {n_expr}) AS LONG) END"
    )
    ntok = f"CAST(n_tokens AS {dec})"
    epochs_e6 = (
        f"CASE WHEN {cap_wins} THEN CAST({max_epochs} * 1000000 AS LONG) "
        f"ELSE CAST(({r_expr} * 2000000 + {n_expr} * {ntok}) "
        f"div (2 * {n_expr} * {ntok}) AS LONG) END"
    )
    return out.select(
        "source",
        "n_tokens",
        "cap",
        F.expr(alloc_e6).alias("alloc_tokens_e6"),
        F.expr(epochs_e6).alias("epochs_e6"),
    )

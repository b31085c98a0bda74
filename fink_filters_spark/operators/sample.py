"""Deterministic sampling operators.

The reference's `uniform_sample` topic samples by key modulus
(``rubin/livestream/filter_uniform_sample/filter.py:50``), which — unlike
``df.sample`` — is reproducible across retries/restarts and stable per key.
That property matters in a streaming broker (a re-delivered alert gets the
same verdict) and at 100 TB (no RNG state, pure pushable predicate).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, functions as F


def uniform_sample(df: DataFrame, key: str, modulus: int = 113, residue: int = 0) -> DataFrame:
    """Keep rows where key mod modulus == residue (≈ 1/modulus of the stream).

    pmod, not %: the reference's Python ``objectId % 113`` is always
    non-negative, while Spark's % is sign-preserving — a negative key could
    never satisfy a positive residue and would be silently unsampleable."""
    return df.filter(F.pmod(F.col(key), F.lit(modulus)) == residue)


def hash_sample(df: DataFrame, key: str, fraction: float, seed: int = 42) -> DataFrame:
    """Deterministic fraction sampling for non-integer keys: xxhash64-bucket
    the key and keep the lowest ``fraction`` of buckets. Same
    stable-per-key property, arbitrary key type."""
    n_buckets = 1_000_000
    # round, not int(): 0.29 * 1e6 = 289999.99999999997 in binary floats —
    # truncation would sample one bucket below the stated fraction
    threshold = int(fraction * n_buckets + 0.5)
    bucket = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(n_buckets))
    return df.filter(bucket < threshold)


def md5_bucket(key: Column | str, modulus: int, n_hex: int = 5) -> Column:
    """Deterministic, well-mixed bucket in ``[0, modulus)`` from a key: the
    first ``n_hex`` hex digits of ``md5(cast(key as string))`` as an
    integer, mod ``modulus``.

    This is the engine's portable sampling/sharding hash. Why not
    ``(key * knuth) % m``: under ANSI mode the multiply overflows long for
    keys >= ~3.5e9 (routine at corpus scale), and modular multiplication
    by a constant is just a PERMUTATION of ``key % m`` — a strided id
    allocator (e.g. ids = 1000*seq) collapses to one residue class and
    samples at 0% or 100% instead of the stated rate. md5 mixes all key
    bits; the hex-digit arithmetic below is exactly reproducible in
    DuckDB, so oracles stay bit-identical. Bias from ``16^n_hex % modulus``
    is <= modulus/16^n_hex (~0.1% for per-mille rates at n_hex=5).
    """
    s = F.md5((F.col(key) if isinstance(key, str) else key).cast("string"))
    # conv() parses the n_hex-digit lowercase-hex prefix directly — the
    # same value as the per-digit ascii-arithmetic fold it replaced
    # (verified exceptAll-empty on 100k keys, both moduli), at ~60% of the
    # cost: one md5 + one conv per call instead of 2 ascii/CASE chains per
    # hex digit. n_hex <= 15 keeps the value inside long exactly.
    v = F.conv(F.substring(s, 1, n_hex), 16, 10).cast("long")
    return v % modulus  # v >= 0, so % == pmod


def mixture_sample(
    df: DataFrame,
    rates: DataFrame | Mapping,
    key: str,
    source_col: str,
    rate_col: str = "rate_permille",
    default_permille: int = 1000,
) -> DataFrame:
    """Deterministic dataset-mixture sampling: down-weight each source to a
    target rate (per-mille) — the "mix N corpora at fixed proportions" step
    of a pretraining data pipeline. ``rates`` is a ``{source: rate}``
    mapping, or a small rates DataFrame with ``source_col`` and
    ``rate_col`` columns.

    A row survives iff ``md5_bucket(key, 1000) < rate(source)``; sources
    absent from the rates keep ``default_permille``. The md5 bucket
    makes the verdict a pure per-row predicate — reproducible across
    retries/restarts (same property as ``uniform_sample``), no RNG state,
    subset-invariant (a doc keeps the same fate when the corpus around it
    grows), and independent of any structure in the id allocation (see
    ``md5_bucket`` for why a multiplicative hash is NOT safe here).

    Scale: the rates are corpus-count-sized (tens of entries) and become
    one literal ``CASE`` rate expression: every action over the result is
    one corpus scan with per-row arithmetic — zero shuffles and no
    rates-side job. A mapping costs no Spark job at all; a DataFrame is
    read once, at call time (one job), and a source listed twice there
    raises ``ValueError``. A NULL source matches nothing (as in an
    equi-join), and a NULL rate falls back to ``default_permille``.
    """
    src_t = rate_t = None
    if isinstance(rates, DataFrame):
        # literals typed as the rates columns, so ``==`` coerces exactly as
        # the equi-join against the rates table would
        src_t = rates.schema[source_col].dataType
        rate_t = rates.schema[rate_col].dataType
        table: dict = {}
        for src, v in rates.select(source_col, rate_col).collect():
            if src in table and src is not None:
                raise ValueError(f"mixture_sample: duplicate rates row for source {src!r}")
            table[src] = v
    else:
        table = dict(rates)
    table.pop(None, None)  # a NULL source matches nothing

    def typed(v, t):
        return F.lit(v) if t is None else F.lit(v).cast(t)

    default = F.lit(default_permille)
    rate = F  # F.when opens the CASE, Column.when adds each branch
    for s, v in table.items():
        rate = rate.when(
            F.col(source_col) == typed(s, src_t),
            default if v is None else typed(v, rate_t),
        )
    rate = default if rate is F else rate.otherwise(default)
    return df.filter(md5_bucket(key, 1000) < rate)


def _int_floor_div(num: Column, den: int) -> Column:
    """Exact ``floor(num / den)`` for a non-negative integral column: strip
    the remainder with pmod, then divide in decimal(38,0) (BigDecimal —
    exact for an exactly-divisible quotient). Plain ``/`` on longs is a
    DOUBLE division, which rounds once the numerator passes 2^53 and can
    truncate to quotient-1 — a silent cross-engine divergence at the
    1e12-row scale these samplers claim."""
    exact = num - F.pmod(num, F.lit(den))
    return (exact.cast("decimal(38,0)") / den).cast("long")


def temperature_sample(
    df: DataFrame,
    key: str,
    group_col: str,
    budget_num: int,
    budget_den: int,
    bucket_hex: int = 5,
) -> DataFrame:
    """Temperature-rebalanced group sampling at alpha = 0.5: allocate a
    corpus-wide row budget across groups (languages, domains) proportional
    to ``n_g ** alpha`` instead of ``n_g`` — the multilingual rebalance of
    XLM-R / mT5, which upsamples tail languages relative to the head so a
    model doesn't see only the majority group. ``budget = floor(N *
    budget_num / budget_den)`` rows total; group ``g``'s target share is
    ``w_g / S`` with ``w_g = floor(sqrt(n_g))`` and ``S = sum(w_g)``.

    alpha is pinned at 0.5 because ``sqrt`` of an integer-valued double is
    correctly rounded by IEEE-754 — ``floor(sqrt(n))`` is deterministic
    across engines, where a general ``pow(n, alpha)`` is not required to
    be. Other temperatures work numerically but lose the bit-exactness
    this engine's oracle gate demands.

    The per-row verdict is division-free exact integer arithmetic: accept
    iff ``bucket * S * n_g < budget * w_g * B`` with ``bucket =
    md5_bucket(key, B)``, ``B = 16 ** bucket_hex`` (2^20 at the default —
    the modulus equals the hex range, so the bucket is bias-free). Both
    product sides are computed in decimal(38,0): at 1e12 rows the larger
    side is ~2^81, past BIGINT but 24 digits into decimal's 38. A group
    whose fair rate exceeds 1 is kept whole (the inequality is then
    vacuous for every bucket), matching the ``min(1, .)`` cap of the
    published scheme. The verdict is retry-stable and allocator-agnostic
    like ``mixture_sample``; unlike it, thresholds depend on the corpus'
    group counts, so a row's fate is stable only for a fixed corpus
    snapshot (inherent to any count-proportional allocation).

    Output: surviving rows plus ``temp_rate`` — the group's effective
    acceptance rate ``min(1, budget*w_g / (S*n_g))`` rounded to 1e-6
    (one double division over exact integer products, deterministic).

    Scale: group stats are a one-shuffle aggregate to a groups-sized table
    (tens of rows), the global (N, S) reduce is over that tiny table, and
    the verdict is a broadcast join + per-row predicate over the corpus
    scan — the same two-pass shape as ``pipe_dsir_select``.
    """
    B = 16 ** bucket_hex
    # NULL-group rows sit out the sampler ENTIRELY — excluded from the
    # stats too, not just silently dropped by the join while still
    # inflating N/S and every group's budget (round-7 review finding; a
    # NULL stratum is not a stratum — fill or filter upstream to keep it)
    df = df.where(F.col(group_col).isNotNull())
    stats = df.groupBy(F.col(group_col).alias("__grp")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    stats = stats.withColumn(
        "__w", F.floor(F.sqrt(F.col("__n").cast("double"))).cast("long")
    )
    # (N, S) as a whole-table window over the groups-sized stats table —
    # one lineage, so the corpus is not re-scanned for a separate global
    # reduce (a scalar-agg self-join would recompute stats); the
    # single-partition WindowExec holds tens of rows
    from pyspark.sql import Window

    w0 = Window.partitionBy()
    # products in decimal(38,0) BEFORE the double cast: a long multiply
    # overflows ~4x above the module's own stated scale (ANSI abort /
    # silent wrap), while the DuckDB oracle's HUGEINT product never does —
    # decimal keeps the product exact, and the one double cast is then
    # correctly rounded on both engines (round-7 review finding)
    rate = F.round(
        F.least(
            F.lit(1.0),
            (F.col("__budget").cast("decimal(38,0)") * F.col("__w")).cast("double")
            / (F.col("__S").cast("decimal(38,0)") * F.col("__n")).cast("double"),
        ),
        6,
    )
    # rate is a pure function of the dim columns — evaluate it here, per
    # GROUP (tens of rows), not per corpus row in the post-join projection
    dim = stats.select(
        "__grp",
        "__n",
        "__w",
        F.sum("__w").over(w0).alias("__S"),
        _int_floor_div(F.sum("__n").over(w0) * budget_num, budget_den)
        .alias("__budget"),
    ).withColumn("__rate", rate)
    bucket = md5_bucket(key, B, n_hex=bucket_hex)
    lhs = bucket.cast("decimal(38,0)") * F.col("__S") * F.col("__n")
    rhs = F.col("__budget").cast("decimal(38,0)") * F.col("__w") * F.lit(B)
    return (
        df.join(F.broadcast(dim), df[group_col] == F.col("__grp"))
        .filter(lhs < rhs)
        .select(*df.columns, F.col("__rate").alias("temp_rate"))
    )


def quota_sample(
    df: DataFrame,
    key: str,
    group_col: str,
    budget_num: int,
    budget_den: int,
    min_per_group: int = 0,
    bucket_hex: int = 5,
) -> DataFrame:
    """Exact-count stratified quota sampling: keep EXACTLY
    ``min(n_g, max(min_per_group, floor(n_g * budget_num / budget_den)))``
    rows per group, chosen as the group's lowest md5-bucket ranks — the
    deterministic form of "proportional allocation with a minimum
    representation floor" (survey-sampling quota design; the floor keeps
    tiny strata from rounding to zero). A proportional share of an
    ``N * num/den`` corpus budget is just ``n_g * num/den``, so quotas
    need no global aggregate at all.

    Complements ``temperature_sample``: that one is a probabilistic
    per-row accept (counts are binomial around the target), this one
    ranks within each group so realized counts hit the quota exactly —
    the right tool when a downstream contract needs exact split sizes.
    The rank order (md5 bucket, then key as tie-break) is
    retry-stable and allocator-agnostic like every md5-keyed verdict
    here; quotas depend on group counts, so fates are stable per corpus
    snapshot.

    Exactness: quotas are pure integer arithmetic (pmod-subtract floor
    division); ranking uses ``row_number`` over (bucket, key) — no
    floats anywhere.

    Scale: one shuffle for group counts (tiny output), broadcast quota
    dim, then ONE rank window partitioned by group over the corpus — the
    same shuffle a grouped write would pay. A group bigger than one
    executor's window partition is the classic skew case: at 100 TB
    pre-filter to ~2x the quota with the temperature-style accept test
    first, then rank the survivors."""
    from pyspark.sql import Window

    B = 16 ** bucket_hex
    # NULL-group rows sit out (see temperature_sample: excluded from the
    # stats, not silently dropped by the join)
    df = df.where(F.col(group_col).isNotNull())
    stats = df.groupBy(F.col(group_col).alias("__grp")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    prop = _int_floor_div(F.col("__n") * budget_num, budget_den)
    quota = F.least(
        F.col("__n"),
        F.greatest(F.lit(min_per_group).cast("long"), prop),
    )
    dim = stats.select("__grp", quota.alias("__quota"))
    bucket = md5_bucket(key, B, n_hex=bucket_hex)
    wg = Window.partitionBy("__grp").orderBy(bucket.asc(), F.col(key).asc())
    return (
        df.join(F.broadcast(dim), df[group_col] == F.col("__grp"))
        .withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") <= F.col("__quota"))
        .select(*df.columns)
    )

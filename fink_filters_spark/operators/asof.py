"""As-of (temporal nearest-predecessor) join — a custom operator Spark lacks
natively, built as a composition of existing DataFrame ops (union + window),
per the build rules for operators the engine must add beyond the reference
surface (the reference has no relational joins at all — SURVEY §2.D).

Semantics (direction="backward", inclusive): for each left row, attach the
payload of the right row with the greatest right_time <= left_time within
the same key group; null payload when no predecessor exists (left outer).
Matches DuckDB/kdb ASOF JOIN semantics (``l ASOF LEFT JOIN r ON l.k = r.k
AND l.t >= r.t``) — including a right row whose payload VALUE is NULL
(the match is by time; its NULL rides through) and right rows with a NULL
time (never match, like any SQL comparison).

Why union+window instead of a range join: a naive join on
``l.k = r.k AND r.t <= l.t`` + max-per-row explodes to O(|matches|) pairs
before the dedup — quadratic per key in the worst case. The union encoding
is one shuffle on (key, time): sort-within-partition, then a running
``last(payload ignorenulls)`` carries each right payload forward to the
left rows that follow it. Linear work, no NLJ, AQE-safe — the plan a
1000-executor cluster wants at 100 TB (both sides shuffle-partitioned by
key; per-key state during the window scan is one payload row).

The carried payload is ONE STRUCT per right row, not per-column lasts:
per-column ``last(ignorenulls)`` cannot tell a genuinely NULL right value
from a left-row placeholder, so it would skip NULL payloads (carrying a
STALE older value) and could stitch columns from DIFFERENT right rows
into a row that never existed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType

_RESERVED = ("__t", "__is_r", "__p")


def _time_key(df: DataFrame, col: str):
    """Order key in microseconds for integral or timestamp time columns.
    A bare cast('long') on a TIMESTAMP yields epoch SECONDS — sub-second
    ordering lost, a later-in-the-same-second right row would match."""
    dt = df.schema[col].dataType.simpleString()
    if dt in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(F.col(col).cast("timestamp"))
    if dt in ("tinyint", "smallint", "int", "bigint", "long"):
        return F.col(col).cast("long")
    raise ValueError(
        f"asof_join: time column {col!r} has type {dt!r}; pass an integral "
        "epoch or a timestamp (floats have no exact order key)"
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: list[str],
) -> DataFrame:
    """Backward-inclusive as-of join; left columns preserved, ``payload``
    columns from ``right`` attached (null when no predecessor).

    ``right`` must be deterministic at (on, right_time) grain — pre-aggregate
    duplicates upstream (e.g. ``max_by``) or the carried payload depends on
    sort ties.
    """
    clash = (set(_RESERVED) & set(left.columns)) | (
        set(_RESERVED) & set(right.columns)
    )
    overlap = set(payload) & set(left.columns)
    if clash or overlap:
        raise ValueError(
            f"asof_join: column collision — reserved {sorted(clash)} / "
            f"payload already on the left {sorted(overlap)}; rename before "
            "joining (a silent duplicate would corrupt the union/window)"
        )
    left_cols = left.columns
    ptype = StructType(
        [StructField(p, right.schema[p].dataType) for p in payload]
    )
    lhs = (
        left.withColumn("__t", _time_key(left, left_time))
        .withColumn("__is_r", F.lit(0))
        .withColumn("__p", F.lit(None).cast(ptype))
    )
    rhs = right.where(F.col(right_time).isNotNull()).select(
        F.col(on),
        _time_key(right, right_time).alias("__t"),
        F.lit(1).alias("__is_r"),
        F.struct(*[F.col(p) for p in payload]).alias("__p"),
    )
    for c in left_cols:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    merged = lhs.unionByName(rhs.select(lhs.columns))
    # right rows sort BEFORE left rows at equal time -> inclusive match
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__is_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn("__p", F.last("__p", ignorenulls=True).over(w))
    return merged.filter(F.col("__is_r") == 0).select(
        *left_cols, *[F.col("__p")[p].alias(p) for p in payload]
    )

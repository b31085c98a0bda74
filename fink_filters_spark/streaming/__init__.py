"""Structured Streaming pipeline (SURVEY §2.J, §3.1).

The reference's livestream architecture: stateless per-row predicates over a
micro-batched stream; all temporal context embedded in the alert row (history
arrays, ndethist, jdstarthist). Its Spark dual:

    readStream -> enrich (crossmatch/classification/history concat)
               -> named topic filter (registry expression)
               -> foreachBatch notification sinks

Statelessness is the load-bearing property: no state store, no watermark
needed for topic parity, trivially rescalable. Stateful extensions:
- ``streaming_dedup``  — exact dedup over a key with an event-time watermark;
- ``streaming_window_agg`` — tumbling-window aggregation with late-data bound;
- ``streaming_object_stats`` — per-object per-band running statistics
  (``applyInPandasWithState``): the streaming materialization of the
  per-object state the reference assumes precomputed upstream (Rubin
  ``diaObject.{band}_psfFluxMean/Max/Min``, ``rubin/utils.py:49-86``;
  SURVEY §1.1 "per-object state").
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..filters.registry import get_filter


class StreamPipeline:
    """Composable stream: enrich stages + topic filters + sinks.

    >>> pipe = (StreamPipeline(stream_df)
    ...         .enrich(extract_fink_classification)
    ...         .topic("ztf.sn_candidates")
    ...         .sink(NotificationSink(transport)))
    >>> query = pipe.start(checkpoint="/tmp/ck")   # doctest: +SKIP
    """

    def __init__(self, df: DataFrame):
        self.df = df
        self._sinks: list[Callable[[DataFrame, int], None]] = []
        self._batch_stages: list[Callable[[DataFrame], DataFrame]] = []

    def enrich(self, stage: Callable[[DataFrame], DataFrame]) -> "StreamPipeline":
        self.df = stage(self.df)
        return self

    def enrich_each_batch(self, stage: Callable[[DataFrame], DataFrame]) -> "StreamPipeline":
        """Apply ``stage`` inside ``foreachBatch``, where the frame is a
        plain batch DataFrame. For enrichments whose plan streaming forbids
        (e.g. ``crossmatch(how='nearest'/'left')``'s best-match
        ``row_number`` window) — the reference likewise crossmatches per
        micro-batch (SURVEY D7/B2). Batch stages run before every sink."""
        self._batch_stages.append(stage)
        return self

    def topic(self, name: str) -> "StreamPipeline":
        """Apply a registered topic filter (A1 parity on streams)."""
        self.df = self.df.filter(get_filter(name).builder(self.df))
        return self

    def filter(self, condition) -> "StreamPipeline":
        self.df = self.df.filter(condition)
        return self

    def sink(self, writer: Callable[[DataFrame, int], None]) -> "StreamPipeline":
        self._sinks.append(writer)
        return self

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        for stage in self._batch_stages:
            batch_df = stage(batch_df)
        for writer in self._sinks:
            writer(batch_df, batch_id)

    def start(
        self,
        checkpoint: str,
        trigger_seconds: float | None = None,
        once: bool = False,
    ) -> StreamingQuery:
        writer = self.df.writeStream.option("checkpointLocation", checkpoint)
        if self._sinks or self._batch_stages:
            writer = writer.foreachBatch(self.foreach_batch)
        else:
            writer = writer.format("noop")
        if once:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()


def _as_event_time(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP for watermarking.

    REFUSES integral columns instead of casting them: ``cast(bigint AS
    timestamp)`` interprets the value as SECONDS since epoch, so the
    engine's canonical long event-times (ts nanos-as-long, ts_us micros)
    would silently land in year ~55,000 with a "1 hour" watermark spanning
    3.6 real milliseconds — duplicates re-emitted, windows ~4ms wide
    (round-7 review finding). The unit is not inferable from the type;
    the caller converts explicitly (``F.timestamp_micros``,
    ``F.timestamp_millis``, ``(ts div 1000)`` for nanos — see
    ``tables.load_events``)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, TimestampType):
        return df
    if isinstance(dt, TimestampNTZType):
        # watermarks demand TIMESTAMP (not NTZ) event time
        return df.withColumn(col, F.col(col).cast("timestamp"))
    raise ValueError(
        f"event-time column {col!r} has type {dt.simpleString()}; pass a "
        "timestamp column — for integer epochs convert explicitly "
        "(F.timestamp_micros / F.timestamp_millis; cast(long AS timestamp) "
        "would read it as SECONDS and corrupt the watermark)"
    )


def streaming_dedup(
    df: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Key-only streaming dedup: the first occurrence of each key (in
    processing order) wins; a later duplicate with a DIFFERENT event time is
    still dropped, as long as it arrives within ``watermark`` of the first —
    ``dropDuplicatesWithinWatermark`` keys state on ``key_cols`` alone.
    State for a key is evicted once the watermark passes its first-seen
    event time + delay (bounded state — the property that keeps this viable
    on an unbounded 100 TB stream); a duplicate arriving after eviction is
    re-emitted, the standard at-scale dedup contract."""
    df = _as_event_time(df, event_time_col)
    return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


OBJECT_STATS_STATE = (
    "bands array<string>, ns array<long>, sums array<double>, "
    "mins array<double>, maxs array<double>"
)


def _object_stats_out(df: DataFrame, key_col: str) -> str:
    """Output schema derived from the INPUT key column's name and type —
    a hardcoded 'objectId string' breaks callers keying on e.g. a long
    diaObjectId (misnamed column + Arrow type-enforcement error;
    round-7 review finding)."""
    key_type = df.schema[key_col].dataType.simpleString()
    return (
        f"{key_col} {key_type}, band string, n_sources long, "
        "flux_mean double, flux_min double, flux_max double"
    )


def streaming_object_stats(
    df: DataFrame,
    key_col: str = "objectId",
    band_col: str = "band",
    flux_col: str = "psfFlux",
) -> DataFrame:
    """Per-object per-band running flux statistics over an unbounded stream.

    The reference consumes these as upstream-materialized ``diaObject``
    struct fields (``{band}_psfFluxMean/Max/Min``, ``nDiaSources`` —
    ``rubin/utils.py:49-86,137-190``); this operator IS that upstream:
    ``groupBy(objectId)`` with ``applyInPandasWithState``. Each micro-batch
    updates the per-key state (count/sum/min/max per band — constant-size,
    6 bands) and emits the refreshed rows for every band of each touched
    object (output mode: update).

    Scale: state is O(objects x 6 bands x 4 doubles) in the state store,
    partitioned by key hash across executors; per-batch work is one Arrow
    round-trip per updated key group. No timeout is set — astronomical
    objects never expire; bound state by key-space instead (HEALPix shard
    per job) if the store outgrows an executor.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        stats: dict[str, list] = {}
        if state.exists:
            bands, ns, sums, mins, maxs = state.get
            stats = {
                b: [n, s, lo, hi]
                for b, n, s, lo, hi in zip(bands, ns, sums, mins, maxs)
            }
        for pdf in pdfs:
            for band, flux in zip(pdf[band_col], pdf[flux_col]):
                # Arrow hands NULL flux to pandas as NaN, so pd.isna (not
                # ``is None``) keeps NULLs out, as the batch dual's mean/min/max do
                if pd.isna(flux) or pd.isna(band):
                    continue
                f = float(flux)
                cur = stats.setdefault(band, [0, 0.0, f, f])
                cur[0] += 1
                cur[1] += f
                cur[2] = min(cur[2], f)
                cur[3] = max(cur[3], f)
        items = sorted(stats.items())
        state.update((
            [b for b, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
            [v[2] for _, v in items],
            [v[3] for _, v in items],
        ))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(items),
                "band": [b for b, _ in items],
                "n_sources": [v[0] for _, v in items],
                "flux_mean": [v[1] / v[0] for _, v in items],
                "flux_min": [v[2] for _, v in items],
                "flux_max": [v[3] for _, v in items],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_object_stats_out(df, key_col),
        stateStructType=OBJECT_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STATE = "tv long, tc long, tp long"
# processing order for same-timestamp ties: a view at t must be applied
# before a click at t (the batch dual's "min click ts >= tv" admits the
# tie), else parity depends on arrival order
_FUNNEL_PRIORITY = {"view": 0, "click": 1, "purchase": 2}


def streaming_funnel(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Cross-batch funnel state machine (the streaming dual of queries/
    advanced.w_funnel_stages): per user, the first view, the first click
    at-or-after it, the first purchase at-or-after that — carried in
    3-long state per key, emitting the user's current stage each time the
    key appears (output mode: update).

    Equals the batch funnel when events arrive in event-time order (the
    broker's per-night replay case); a late-arriving earlier 'view' is not
    retroactively applied — add watermark-delayed processing if exactness
    under disorder matters more than latency. Within a batch, events sort
    by (timestamp, stage priority view<click<purchase) so a same-timestamp
    view/click tie resolves the way the batch dual's ``min(click ts >=
    tv)`` does, not by arrival order; NULL-timestamp events are skipped
    (the batch windows' min() ignores NULLs — and int(NaN) would
    otherwise abort the query). State is 3 longs per user: bounded,
    mergeable, store-friendly at 100 TB key cardinality.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        tv = tc = tp = None
        if state.exists:
            tv, tc, tp = state.get
        evs: list = []
        for pdf in pdfs:
            evs.extend(
                (t, _FUNNEL_PRIORITY.get(et, 3), et)
                for et, t in zip(pdf[type_col], pdf[ts_col])
                if not pd.isna(t)
            )
        evs.sort(key=lambda e: (e[0], e[1]))  # event time, then stage order
        for t, _, et in evs:
            t = int(t)
            if et == "view" and tv is None:
                tv = t
            elif et == "click" and tc is None and tv is not None and t >= tv:
                tc = t
            elif et == "purchase" and tp is None and tc is not None and t >= tc:
                tp = t
        state.update((tv, tc, tp))
        stage = 3 if tp is not None else 2 if tc is not None else 1 if tv is not None else 0
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "tv": [tv],
                "tc": [tc],
                "tp": [tp],
                "stage": [stage],
            }
        )

    key_type = df.schema[user_col].dataType.simpleString()
    return df.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{user_col} {key_type}, tv long, tc long, tp long, stage int"
        ),
        stateStructType=FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_window_agg(
    df: DataFrame,
    event_time_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation with a late-data bound — the
    streaming form of queries/timeseries.sess_hourly."""
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    df = _as_event_time(df, event_time_col)
    keys = [F.window(F.col(event_time_col), window)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return df.withWatermark(event_time_col, watermark).groupBy(*keys).agg(*aggs)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join bounded by a time-range condition:
    match left rows to same-key right rows with
    ``right_time <= left_time <= right_time + max_delay``.

    Both sides carry watermarks AND the join condition bounds event-time
    skew — the two requirements Structured Streaming imposes so each side's
    join state is droppable once the watermark passes (bounded state on an
    unbounded stream; without the range condition the right side would be
    retained forever). ``left_time``/``right_time`` must be distinct names;
    the key column ``on`` may be shared (right's copy is dropped).

    Scale: state is hash-partitioned by join key across executors and
    bounded by (watermark + max_delay) of per-key traffic; skewed keys
    behave like any skewed shuffle join (salt upstream if one key dominates).
    """
    lw = _as_event_time(left, left_time).withWatermark(left_time, watermark)
    rkey = f"__r_{on}"
    rw = _as_event_time(right.withColumnRenamed(on, rkey), right_time).withWatermark(
        right_time, watermark
    )
    cond = (
        (F.col(on) == F.col(rkey))
        & (F.col(left_time) >= F.col(right_time))
        & (F.col(left_time) <= F.col(right_time) + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner").drop(rkey)


def incremental_state_sink(
    keys: list[str], measures_fn: Callable[[], dict], state_path: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer maintaining a log-structured aggregate state:
    each micro-batch APPENDS its mergeable partial state (one parquet
    increment, see operators/incremental.py) keyed by batch_id for
    exactly-once replay safety — a restarted batch overwrites its own
    increment instead of double-counting.

    Append-only is the scale choice: the per-batch write is O(batch keys),
    never O(all keys); merge cost is deferred to ``read_state`` /
    ``compact_state`` (the LSM pattern). ``measures_fn`` is a factory so
    the closure ships no Column objects to the executors.
    """
    from ..operators.incremental import partial_state

    def write(batch_df: DataFrame, batch_id: int) -> None:
        part = partial_state(batch_df, keys, measures_fn())
        part.write.mode("overwrite").parquet(f"{state_path}/batch_id={batch_id}")

    return write


def read_state(spark, state_path: str, keys: list[str]) -> DataFrame:
    """Merge-on-read over all appended increments: one scan + one merge
    aggregation (operators/incremental.merge_states algebra)."""
    from ..operators.incremental import merge_states

    inc = spark.read.parquet(state_path)
    # drop the increment-partition column(s) (batch_id=… from the streaming
    # sink, night=… from programs/nightly.py) — only keys + state fields merge
    state_cols = [
        c for c in inc.columns
        if c in keys or c.rsplit("_", 1)[-1] in ("count", "sum", "min", "max")
    ]
    return merge_states([inc.select(*state_cols)], keys)


def compact_state(spark, state_path: str, keys: list[str], out_path: str) -> None:
    """Fold every increment into a single base increment at ``out_path``
    (run periodically so merge-on-read stays O(base + recent))."""
    read_state(spark, state_path, keys).write.mode("overwrite").parquet(
        f"{out_path}/batch_id=compacted"
    )

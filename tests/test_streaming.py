"""End-to-end Structured Streaming tests: file-source stream -> enrich ->
topic filter -> foreachBatch notification sink (SURVEY §3.1 lifecycle),
plus sink retry/idempotency and stateful streaming dedup."""

from __future__ import annotations

import pytest

from fink_filters_spark.sinks import (
    CollectingTransport,
    FlakyTransport,
    NotificationSink,
    RetryPolicy,
    TransportError,
)
from fink_filters_spark.streaming import StreamPipeline, streaming_dedup

from conftest import make_ztf_pdf


@pytest.fixture(scope="module")
def alert_dir(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("alerts")
    pdf = make_ztf_pdf(150)
    # file-source streams need stable, simple types; drop the map columns
    pdf = pdf.drop(columns=["mangrove", "blazar_stats"])
    pdf.iloc[:75].to_parquet(d / "batch0.parquet")
    pdf.iloc[75:].to_parquet(d / "batch1.parquet")
    return d, pdf


def test_stream_topic_filter_to_sink(spark, alert_dir, tmp_path):
    d, pdf = alert_dir
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))

    transport = CollectingTransport()
    sink = NotificationSink(
        transport,
        formatter=lambda row: {"objectId": row["objectId"], "mag": row["magpsf"]},
        key_cols=("candid",),
    )
    pipe = StreamPipeline(stream).topic("ztf.quality_cuts").sink(sink)
    q = pipe.start(checkpoint=str(tmp_path / "ck"), once=True)
    q.awaitTermination(120)

    want = {
        r.objectId for r in pdf.itertuples() if r.rb >= 0.55 and r.nbad == 0
    }
    got = {p["objectId"] for p in transport.sent}
    assert got == want
    assert all("_batch_id" in p for p in transport.sent)


def test_stream_filter_matches_batch(spark, alert_dir, tmp_path):
    """Livestream/batch parity: the same registry expression yields identical
    selections on the stream and on the batch frame (the reference's
    dual-path doctests, SURVEY §5)."""
    d, pdf = alert_dir
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    transport = CollectingTransport()
    sink = NotificationSink(transport, key_cols=("candid",))
    q = (
        StreamPipeline(stream)
        .topic("ztf.sn_candidates")
        .sink(sink)
        .start(checkpoint=str(tmp_path / "ck2"), once=True)
    )
    q.awaitTermination(120)

    from fink_filters_spark.filters import apply_named_filter

    batch = spark.read.parquet(str(d))
    want = {r.candid for r in apply_named_filter(batch, "ztf.sn_candidates").collect()}
    got = {p["candid"] for p in transport.sent}
    assert got == want


def test_streaming_dedup_bounded_state(spark, tmp_path):
    import pandas as pd

    d = tmp_path / "events"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "key": [1, 1, 2, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00"] * 2 + ["2024-01-01 00:10:00"] * 2 + ["2024-01-01 00:20:00"]
            ),
        }
    )
    # micro-second timestamps: pandas' default nano parquet timestamps read
    # back as longs under the engine's nanosAsLong conf
    pdf.to_parquet(d / "part.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    deduped = streaming_dedup(stream, ["key"], "ts", watermark="1 hour")
    out = []
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    keys = sorted(r.key for r in out)
    assert keys == [1, 2, 3]


@pytest.mark.parametrize(
    "provider",
    [
        None,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ],
    ids=["default", "rocksdb"],
)
def test_streaming_object_stats_matches_batch(spark, tmp_path, provider):
    """Stateful per-object stats accumulate across micro-batches: after both
    batches, the last emitted row per (object, band) equals the batch
    groupBy aggregate — the diaObject contract (rubin/utils.py:49-86).
    The state store is a session setting under the same operator, so the
    default (HDFS-backed) and RocksDB providers must give the same rows."""
    import pandas as pd

    from fink_filters_spark.streaming import streaming_object_stats

    d = tmp_path / "src"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "objectId": ["o1", "o1", "o2", "o1", "o2", "o2"],
            "band": ["g", "r", "g", "g", "g", "r"],
            "psfFlux": [100.0, 200.0, 50.0, 300.0, 70.0, 10.0],
        }
    )
    pdf.iloc[:3].to_parquet(d / "b0.parquet")
    pdf.iloc[3:].to_parquet(d / "b1.parquet")
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(prov_key, None)
    if provider is not None:
        spark.conf.set(prov_key, provider)
    out: list = []
    try:
        q = (
            streaming_object_stats(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ck_stats"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if saved is not None:
            spark.conf.set(prov_key, saved)
        else:
            spark.conf.unset(prov_key)

    final = {}
    for r in out:  # later batches overwrite: last emit per key wins
        final[(r.objectId, r.band)] = (r.n_sources, r.flux_mean, r.flux_min, r.flux_max)
    want = {
        ("o1", "g"): (2, 200.0, 100.0, 300.0),
        ("o1", "r"): (1, 200.0, 200.0, 200.0),
        ("o2", "g"): (2, 60.0, 50.0, 70.0),
        ("o2", "r"): (1, 10.0, 10.0, 10.0),
    }
    assert final == want
    # cross-batch accumulation actually happened (o1/g seen in both batches)
    assert final[("o1", "g")][0] == 2


def test_retry_policy_honors_retry_after():
    waits = []
    policy = RetryPolicy(max_attempts=3, base_delay=0.5, sleep=waits.append)
    flaky = FlakyTransport(fail_times=2, retry_after=7.5)
    assert policy.run(lambda: flaky.send({"x": 1}))
    assert waits == [7.5, 7.5]  # server-provided backoff wins over exponential
    assert flaky.sent == [{"x": 1}]


def test_retry_policy_gives_up():
    policy = RetryPolicy(max_attempts=2, base_delay=0.0, sleep=lambda s: None)
    def always_fail():
        raise TransportError("nope")
    assert not policy.run(always_fail)


def test_sink_idempotency(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "candid long, objectId string")
    transport = CollectingTransport()
    sink = NotificationSink(transport, key_cols=("candid",))
    sink(df, batch_id=0)
    sink(df, batch_id=0)  # retried batch: duplicates suppressed
    assert len(transport.sent) == 2


def test_write_partitioned_prunes(spark, tmp_path):
    from fink_filters_spark.sinks.storage import write_partitioned
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "night": ["n1"] * 50 + ["n2"] * 50,
            "candid": range(100),
            "mag": [18.0 + i / 100 for i in range(100)],
        }
    )
    path = str(tmp_path / "part")
    write_partitioned(spark.createDataFrame(pdf), path, ["night"], files_per_partition=2)
    back = spark.read.parquet(path)
    one_night = back.filter(back.night == "n1")
    assert one_night.count() == 50
    plan = one_night._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan carries a partition filter on `night`
    # (the equality itself; the inferred isnotnull prefix only appears when
    # constraint propagation is on, which the engine disables — session.py)
    import re

    assert re.search(r"PartitionFilters: \[[^]]*\(night#\d+ = n1\)", plan), plan


def test_write_bucketed_shuffle_free_join(spark, tmp_path):
    from fink_filters_spark.sinks.storage import write_bucketed

    df = spark.range(1000).selectExpr("id as k", "id * 2 as v")
    write_bucketed(df, "t_bucketed_a", "k", n_buckets=4, sort_col="k",
                   path=str(tmp_path / "ta"))
    write_bucketed(df.selectExpr("k", "v * 10 as w"), "t_bucketed_b", "k",
                   n_buckets=4, sort_col="k", path=str(tmp_path / "tb"))
    a = spark.table("t_bucketed_a")
    b = spark.table("t_bucketed_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1000
        # co-bucketed join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_a")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_b")


def test_sink_weekday_gate(spark):
    df = spark.createDataFrame([(1, "a")], "candid long, objectId string")
    transport = CollectingTransport()
    friday_only = NotificationSink(transport, weekdays=(5,), clock=lambda: 3)
    friday_only(df, 0)
    assert transport.sent == []  # Wednesday: gated
    friday = NotificationSink(transport, weekdays=(5,), clock=lambda: 5)
    friday(df, 0)
    assert len(transport.sent) == 1


def test_stream_static_crossmatch_enrich(spark, alert_dir, tmp_path):
    """The reference's livestream lifecycle enriches alerts with catalog
    crossmatches upstream of the topic filters (SURVEY D7). In our engine
    that is a stream-static broadcast cone join: the static catalog is
    joined against every micro-batch, and the result must equal the batch
    crossmatch of the same rows."""
    import pandas as pd

    from fink_filters_spark.operators.crossmatch import crossmatch

    d, pdf = alert_dir
    cat = spark.createDataFrame(
        pd.DataFrame(
            {
                "cat_name": [f"SRC_{i}" for i in range(40)],
                "cat_ra": (pdf["ra"].to_numpy()[:40] + 0.0005),
                "cat_dec": pdf["dec"].to_numpy()[:40],
            }
        )
    )

    def enrich(df):
        return crossmatch(df, cat, df_id="candid", radius_deg=0.01, how="left")

    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
    seen = []
    pipe = StreamPipeline(stream).enrich_each_batch(enrich).sink(
        lambda df, bid: seen.extend(
            (r["candid"], r["cat_name"]) for r in df.collect()
        )
    )
    q = pipe.start(checkpoint=str(tmp_path / "ck_xm"), once=True)
    q.awaitTermination(120)

    batch = enrich(spark.read.parquet(str(d)))
    want = {(r["candid"], r["cat_name"]) for r in batch.collect()}
    assert set(seen) == want
    matched = [n for _, n in seen if n is not None]
    assert matched, "no crossmatch hits on the stream"


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream join: clicks matched to purchases within 1 hour on the
    same key — identical pairs to the batch range join on the same data."""
    import pandas as pd

    from fink_filters_spark.streaming import streaming_interval_join

    base = pd.Timestamp("2024-01-01 00:00:00")
    clicks = pd.DataFrame(
        {
            "k": [1, 1, 2, 3],
            "ct": [base + pd.Timedelta(minutes=m) for m in (10, 90, 20, 30)],
            "cid": [1, 2, 3, 4],
        }
    )
    purchases = pd.DataFrame(
        {
            "k": [1, 2, 2],
            "pt": [base + pd.Timedelta(minutes=m) for m in (5, 15, 100)],
            "pid": [10, 11, 12],
        }
    )
    cd, pdir = tmp_path / "clicks", tmp_path / "purch"
    cd.mkdir(), pdir.mkdir()
    clicks.to_parquet(cd / "p.parquet", coerce_timestamps="us")
    purchases.to_parquet(pdir / "p.parquet", coerce_timestamps="us")

    cs = spark.readStream.schema(spark.read.parquet(str(cd)).schema).parquet(str(cd))
    ps = spark.readStream.schema(spark.read.parquet(str(pdir)).schema).parquet(str(pdir))
    joined = streaming_interval_join(cs, ps, on="k", left_time="ct",
                                     right_time="pt", max_delay="1 hour")
    out = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.cid, r.pid) for r in out)
    # cid1 (t=10) <- pid10 (t=5); cid2 (t=90) is >1h after t=5: no match;
    # cid3 (t=20) <- pid11 (t=15), pid12 (t=100) is after the click
    assert got == [(1, 10), (3, 11)]


def test_write_clustered_disjoint_file_ranges(spark, tmp_path):
    """Range clustering must produce files with (near-)disjoint min/max
    stats on the cluster column — that is what enables file/row-group
    skipping for range predicates at scan time."""
    import pyarrow.parquet as pq

    from fink_filters_spark.sinks.storage import write_clustered

    df = spark.range(0, 10_000).selectExpr("id", "id * 2 as v")
    path = str(tmp_path / "clustered")
    write_clustered(df, path, "id", n_files=4)

    ranges = []
    for f in sorted((tmp_path / "clustered").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 3
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges: {(lo_a, hi_a)} vs {(lo_b, hi_b)}"


def test_stream_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Checkpoint recovery: a restarted query resumes from the committed
    offset — already-processed files are NOT re-delivered to the sink
    (the exactly-once contract the foreachBatch sinks rely on)."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck_restart")

    def write_batch(name, ids):
        pd.DataFrame({"k": pd.Series(ids, dtype="int64")}).to_parquet(
            str(src / f"{name}.parquet")
        )

    write_batch("a", [1, 2, 3])

    delivered = []

    def run_once():
        stream = spark.readStream.schema("k long").parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: delivered.extend(r.k for r in df.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(delivered) == [1, 2, 3]

    write_batch("b", [4, 5])
    run_once()  # restart from the same checkpoint
    assert sorted(delivered) == [1, 2, 3, 4, 5], "old files were reprocessed"


def test_incremental_state_sink_matches_batch_aggregate(spark, tmp_path):
    """Streamed increments -> appended partial states -> merge-on-read must
    equal the one-shot batch aggregate; replaying a batch_id must overwrite
    (not double-count) its increment."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fink_filters_spark.streaming import (
        compact_state,
        incremental_state_sink,
        read_state,
    )

    d = tmp_path / "inc_src"
    d.mkdir()
    # two files -> maxFilesPerTrigger=1 gives two micro-batches
    pd.DataFrame({"k": ["a", "a", "b"], "v": [1, 2, 10]}).to_parquet(d / "p1.parquet")
    pd.DataFrame({"k": ["b", "c"], "v": [20, 5]}).to_parquet(d / "p2.parquet")
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    state = str(tmp_path / "inc_state")
    writer = incremental_state_sink(["k"], lambda: {"v": F.col("v")}, state)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from fink_filters_spark.operators.incremental import finalize

    got = {
        r["k"]: r.asDict()
        for r in finalize(read_state(spark, state, ["k"]), ["k"]).collect()
    }
    assert got["a"] == {"k": "a", "v_count": 2, "v_sum": 3, "v_min": 1,
                        "v_max": 2, "v_avg_ppm": 1_500_000}
    assert got["b"]["v_count"] == 2 and got["b"]["v_sum"] == 30
    assert got["c"]["v_sum"] == 5

    # replay safety: re-running batch 0's writer overwrites, totals unchanged
    batch0 = spark.read.parquet(str(d / "p1.parquet"))
    writer(batch0, 0)
    again = {r["k"]: r["v_sum"] for r in read_state(spark, state, ["k"]).collect()}
    assert again == {"a": 3, "b": 30, "c": 5}

    # compaction folds everything into one increment with the same totals
    compact_state(spark, state, ["k"], str(tmp_path / "inc_base"))
    base = {
        r["k"]: r["v_sum"]
        for r in read_state(spark, str(tmp_path / "inc_base"), ["k"]).collect()
    }
    assert base == again


def test_write_zordered_compact_on_both_dims(spark, tmp_path):
    """Z-order clustering: every output file must cover a small fraction of
    BOTH dimensions' domains (1-D range clustering leaves dim-2 spanning
    ~100% per file), so a 2-D box predicate can skip most files on footer
    stats alone."""
    import pyarrow.parquet as pq

    from fink_filters_spark.sinks.storage import write_clustered, write_zordered

    # uniform 100x100 grid -> x and y are independent
    df = spark.range(0, 10_000).selectExpr(
        "CAST(id % 100 AS DOUBLE) AS x", "CAST(id DIV 100 AS DOUBLE) AS y"
    )

    def file_spans(path, col):
        spans = []
        for f in sorted(path.glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append((max(maxs) - min(mins)) / 100.0)  # fraction of domain
        return spans

    zpath = tmp_path / "zordered"
    write_zordered(df, str(zpath), "x", "y", (0, 100), (0, 100), n_files=16)
    rpath = tmp_path / "range1d"
    write_clustered(df, str(rpath), "x", n_files=16)

    zx, zy = file_spans(zpath, "x"), file_spans(zpath, "y")
    ry = file_spans(rpath, "y")
    # Z-ordered files are compact on BOTH dims...
    assert sum(zx) / len(zx) <= 0.5 and sum(zy) / len(zy) <= 0.5
    # ...while 1-D clustering leaves y spanning essentially the full domain
    assert sum(ry) / len(ry) > 0.9


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """Exactly-once across query RESTARTS: a second run on the same
    checkpoint must both skip already-processed files and retain the
    dedup state store, so a key seen before the restart is dropped after
    it — the recovery contract a 100 TB pipeline leans on."""
    import pandas as pd

    from fink_filters_spark.streaming import streaming_dedup

    src = tmp_path / "src_restart"
    src.mkdir()
    ts = pd.Timestamp("2024-01-01 00:00:00")
    pd.DataFrame({"key": [1, 2], "ts": [ts, ts]}).to_parquet(
        src / "b0.parquet", coerce_timestamps="us"
    )
    schema = spark.read.parquet(str(src)).schema
    ck = str(tmp_path / "ck_restart")

    def run_once():
        out: list = []
        q = (
            streaming_dedup(
                spark.readStream.schema(schema).parquet(str(src)),
                ["key"],
                "ts",
                watermark="1 hour",
            )
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: out.extend(df.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r.key for r in out)

    assert run_once() == [1, 2]
    # new file arrives while the query is DOWN; key 2 is a cross-restart dup
    pd.DataFrame({"key": [2, 3], "ts": [ts, ts]}).to_parquet(
        src / "b1.parquet", coerce_timestamps="us"
    )
    assert run_once() == [3]


def test_streaming_funnel_matches_batch_replay(spark, tmp_path):
    """Per-user funnel state accumulates across micro-batches: with
    in-event-time-order arrival the final stage per user equals the batch
    funnel semantics (view -> click>=view -> purchase>=click)."""
    import pandas as pd

    from fink_filters_spark.streaming import streaming_funnel

    d = tmp_path / "funnel_src"
    d.mkdir()
    b0 = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 3],
            "event_type": ["view", "click", "click", "view"],
            "ts_us": [100, 200, 50, 100],
        }
    )
    b1 = pd.DataFrame(
        {
            "user_id": [1, 2, 3, 3],
            "event_type": ["purchase", "view", "click", "purchase"],
            "ts_us": [300, 100, 150, 140],
        }
    )
    b0.to_parquet(d / "b0.parquet")
    b1.to_parquet(d / "b1.parquet")
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
    )
    out: list = []
    q = (
        streaming_funnel(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in out:  # last emit per user wins
        final[r.user_id] = (r.tv, r.tc, r.tp, r.stage)
    assert final[1] == (100, 200, 300, 3)   # full funnel across batches
    assert final[2] == (100, None, None, 1)  # batch-1 click precedes view
    # user 3: click at 150 (>= view 100) but purchase at 140 < click -> stage 2
    assert final[3] == (100, 150, None, 2)


def test_observe_metrics_in_streaming_progress(spark, tmp_path):
    """The same observe_quality helper surfaces per-micro-batch metrics in
    QueryProgress.observedMetrics — the streaming monitoring path (no
    second pass, no foreachBatch counting)."""
    import json
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from fink_filters_spark.operators.observe import observe_quality

    d = tmp_path / "obs_src"
    d.mkdir()
    pd.DataFrame({"id": [1, 2, 3], "flux": [10.0, None, -5.0]}).to_parquet(
        d / "b0.parquet"
    )
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    observed, _obs = observe_quality(
        stream, name="stream_quality", null_cols=["flux"],
        domain_checks={"neg_flux": F.col("flux") < 0},
    )
    q = (
        observed.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "ck_obs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = None
    for p in q.recentProgress:
        om = p["observedMetrics"] if isinstance(p, dict) else json.loads(p.json)["observedMetrics"]
        if "stream_quality" in om:
            metrics = om["stream_quality"]
    assert metrics is not None
    assert metrics["n_rows"] == 3
    assert metrics["n_null_flux"] == 1
    assert metrics["n_neg_flux"] == 1


def test_kafka_wire_encoding_round_trip(spark):
    """B-surface Kafka egress/ingest encoding pinned WITHOUT a broker: the
    exact (key, value) frame ``kafka_writer`` ships — whole row as one JSON
    value, string-cast key — parses back through ``kafka_decode`` with the
    source schema to the original rows, nested structs/arrays and nulls
    included. Broker e2e stays environment-gated (no Kafka in-container);
    this pins the part the engine owns: the wire encoding contract."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField, StructType,
    )

    from fink_filters_spark.sinks.storage import kafka_encode
    from fink_filters_spark.sources import kafka_decode

    schema = StructType([
        StructField("candid", LongType()),
        StructField("objectId", StringType()),
        StructField("candidate", StructType([
            StructField("magpsf", DoubleType()),
            StructField("fid", LongType()),
        ])),
        StructField("cjd", ArrayType(DoubleType())),
    ])
    rows = [
        (1, "ZTF1", (17.25, 1), [2459000.5, 2459001.5]),
        (2, "ZTF2", (None, 2), []),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    wire = kafka_encode(df, key_col="objectId")
    assert wire.columns == ["key", "value"]
    # key is the string-cast partition key; null keys stay null (Kafka
    # round-robins those)
    keys = [r.key for r in wire.collect()]
    assert keys == ["ZTF1", "ZTF2", None]
    back = kafka_decode(wire, schema).select("alert.*")
    assert [tuple(r) for r in back.orderBy("candid").collect()] == [
        (1, "ZTF1", (17.25, 1), [2459000.5, 2459001.5]),
        (2, "ZTF2", (None, 2), []),
        (3, None, None, None),
    ]


def test_drop_duplicates_within_watermark_reemits_expired_keys(spark, tmp_path):
    """§2.J state-expiry dedup: ``dropDuplicatesWithinWatermark`` keeps one
    row per key only WITHIN the watermark horizon — a key recurring after
    its state expired is re-emitted (bounded state, the production dedup
    for infinite streams), where classic ``dropDuplicates`` suppresses it
    forever. Two sequential runs against one checkpoint deliver the two
    micro-batches in order; the second file's event times sit 10 hours
    past the first, far beyond the 1-hour watermark."""
    import datetime as dt

    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck_wmdedup")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):  # rows: [(key, hours_offset)]
        # micro-precision timestamps: pandas defaults to nanos, which the
        # session's nanosAsLong conf would surface as long, not timestamp
        pd.DataFrame({
            "k": pd.Series([k for k, _ in rows], dtype="int64"),
            "ts": pd.Series([t0 + dt.timedelta(hours=h) for _, h in rows]),
        }).to_parquet(str(src / f"{name}.parquet"), coerce_timestamps="us")

    got = []

    def run_once():
        stream = spark.readStream.schema("k long, ts timestamp").parquet(str(src))
        out = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["k"])
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, _bid: got.extend((r.k, r.ts) for r in df.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("a", [(1, 0.0), (1, 0.1), (2, 0.0)])  # dup of 1 in-horizon
    run_once()
    assert sorted(k for k, _ in got) == [1, 2]

    # watermark advances only at batch END: a fresh key 10h out moves it
    # to t0+9h, which expires key 1's state (kept only to ts + 1h delay)
    write_batch("b", [(3, 10.0)])
    run_once()
    assert sorted(k for k, _ in got) == [1, 2, 3]

    # key 1 recurs past its expired state -> re-emitted (classic
    # dropDuplicates would suppress it forever)
    write_batch("c", [(1, 10.2)])
    run_once()
    assert sorted(k for k, _ in got) == [1, 1, 2, 3], (
        "expired key was not re-emitted (or was double-suppressed)"
    )


def test_session_window_exact_gap_boundary(spark):
    """Pin the boundary the sessionize oracles depend on: two events
    EXACTLY 30 minutes apart merge into one session (Spark extends a
    session to last_event + gap; an event landing on that bound still
    merges), one microsecond beyond splits. The gaps-and-islands oracle
    therefore uses strictly '>' as its split condition."""
    from pyspark.sql import functions as F

    rows = [
        (1, 0), (1, 1_800_000_000),                  # exactly the gap: merge
        (2, 0), (2, 1_800_000_001),                  # 1 us beyond: split
    ]
    df = spark.createDataFrame(rows, "user_id long, t_us long").withColumn(
        "evt", F.timestamp_micros("t_us")
    )
    per = {
        (r.user_id,): r.n
        for r in df.groupBy(F.session_window("evt", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per[(1,)] == 1 and per[(2,)] == 2


def test_streaming_object_stats_ignores_null_flux(spark, tmp_path):
    """Round-7 review: NULL psfFlux arrives in pandas as NaN, which an
    `is None` guard misses — it must be SKIPPED (batch mean/min/max
    ignores NULLs), not counted into n_sources / poison the running sum."""
    import pandas as pd

    from fink_filters_spark.streaming import streaming_object_stats

    d = tmp_path / "alerts"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "objectId": ["o1"] * 4,
            "band": ["g", "g", "g", None],
            "psfFlux": [10.0, None, 30.0, 40.0],
        }
    )
    pdf.to_parquet(d / "p.parquet")
    stream = spark.readStream.schema(
        spark.read.parquet(str(d)).schema
    ).parquet(str(d))
    out = []
    q = (
        streaming_object_stats(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    g = [r for r in out if r.band == "g"][-1]
    assert g.n_sources == 2
    assert g.flux_mean == 20.0 and g.flux_min == 10.0 and g.flux_max == 30.0


def test_streaming_funnel_tie_and_null_ts(spark, tmp_path):
    """Round-7 review: a same-timestamp view+click tie must resolve like
    the batch dual (click counts, since min(click ts >= tv) admits the
    tie), and a NULL-timestamp event is skipped instead of crashing the
    query at int(NaN)."""
    import pandas as pd

    from fink_filters_spark.streaming import streaming_funnel

    d = tmp_path / "events"
    d.mkdir()
    pdf = pd.DataFrame(
        {
            # arrival order puts the click BEFORE the view at t=100
            "user_id": [1, 1, 1, 2],
            "event_type": ["click", "view", "purchase", "view"],
            "ts_us": [100, 100, None, None],
        }
    )
    pdf["ts_us"] = pdf["ts_us"].astype("Int64")
    pdf.to_parquet(d / "p.parquet")
    stream = spark.readStream.schema(
        spark.read.parquet(str(d)).schema
    ).parquet(str(d))
    out = []
    q = (
        streaming_funnel(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.user_id: r for r in out}
    # user 1: view applied first at the tie -> click lands, stage 2
    # (the NULL-ts purchase is skipped, like batch min() over NULL)
    assert (rows[1].tv, rows[1].tc, rows[1].tp, rows[1].stage) == (100, 100, None, 2)
    # user 2: only a NULL-ts view -> nothing applied
    assert (rows[2].tv, rows[2].stage) == (None, 0)


def test_streaming_dedup_rejects_integer_event_time(spark, tmp_path):
    """Round-7 review: cast(bigint AS timestamp) reads SECONDS — a long
    event-time column (the engine's canonical micros/nanos) must be
    refused with guidance, not silently given a ~4ms watermark."""
    import pandas as pd
    import pytest as _pytest

    from fink_filters_spark.streaming import streaming_dedup

    d = tmp_path / "ev"
    d.mkdir()
    pd.DataFrame({"key": [1], "ts_us": [1_700_000_000_000_000]}).to_parquet(
        d / "p.parquet"
    )
    stream = spark.readStream.schema(
        spark.read.parquet(str(d)).schema
    ).parquet(str(d))
    with _pytest.raises(ValueError, match="SECONDS"):
        streaming_dedup(stream, ["key"], "ts_us")


def test_write_hilbert_clustered_tighter_than_zorder_files(spark, tmp_path):
    """The Hilbert writer's files are compact on BOTH dims like Z-order's —
    and the mean per-file (x-span + y-span) is no worse, since the 16
    range-partition boundaries fall at unaligned key values where the Z
    curve jumps across the plane. Data survives the round trip intact."""
    import pyarrow.parquet as pq

    from fink_filters_spark.sinks.storage import (
        write_hilbert_clustered,
        write_zordered,
    )

    df = spark.range(0, 10_000).selectExpr(
        "CAST(id % 100 AS DOUBLE) AS x", "CAST(id DIV 100 AS DOUBLE) AS y"
    )

    def mean_span_sum(path):
        spans = []
        for f in sorted(path.glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            tot = 0.0
            for col in ("x", "y"):
                idx = names.index(col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                tot += (max(maxs) - min(mins)) / 100.0
            spans.append(tot)
        return sum(spans) / len(spans)

    hpath = tmp_path / "hilbert"
    write_hilbert_clustered(df, str(hpath), "x", "y", (0, 100), (0, 100), n_files=16)
    zpath = tmp_path / "zorder"
    write_zordered(df, str(zpath), "x", "y", (0, 100), (0, 100), n_files=16)

    hs, zs = mean_span_sum(hpath), mean_span_sum(zpath)
    assert hs <= zs + 1e-9, (hs, zs)  # never worse; typically tighter
    assert hs < 1.0  # compact on both dims combined (each dim < ~50%)
    # round trip: same rows, clustering key columns dropped
    back = spark.read.parquet(str(hpath))
    assert back.columns == ["x", "y"] and back.count() == 10_000

"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The check tests are pure Python. The smoke tests start one local Spark
session and run every workload at a tiny size; the CLI test runs
``run.py`` once in a fresh process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402

# ------------------------------------------------------------ checks


def test_topic_counts_fail_when_an_alert_is_dropped():
    ref = {"ztf.a": 5, "ztf.b": 2}
    assert checks.topic_counts(dict(ref), ref) == []
    assert checks.topic_counts({"ztf.a": 4, "ztf.b": 2}, ref)


def test_batch_ids_fail_on_a_lost_micro_batch():
    assert checks.batch_ids([0, 1, 2]) == []
    assert checks.batch_ids([0, 2, 3])
    assert checks.batch_ids([])


def test_delivered_fails_on_a_dropped_or_repeated_notification():
    assert checks.delivered([3, 80], [3, 50], 53, cap=50) == []
    assert checks.delivered([3, 80], [2, 50], 52, cap=50)
    assert checks.delivered([3, 80], [3, 50], 52, cap=50)


def _sky(n, seed=0):
    r = np.random.default_rng(seed)
    return r.uniform(0, 10, n), r.uniform(-5, 5, n)


def test_crossmatch_sample_fails_on_a_dropped_match():
    ra, dec = _sky(400)
    cra, cdec = _sky(3000, 1)
    cat = {"cat_id": np.arange(3000), "cat_ra": cra, "cat_dec": cdec}
    ids = np.arange(400)
    got = {}
    for i in ids:
        sep = checks._sep_deg(ra[i], dec[i], cra, cdec)
        j = int(np.argmin(sep))
        if sep[j] < 0.1:
            got[int(i)] = (j, float(sep[j]))
    assert got and checks.crossmatch_sample(got, ids, ra, dec, cat, 0.1, sample=400) == []
    dropped = dict(got)
    dropped.pop(next(iter(dropped)))
    assert checks.crossmatch_sample(dropped, ids, ra, dec, cat, 0.1, sample=400)


def test_archive_rows_fail_when_an_alert_is_dropped():
    assert checks.archive_rows(100, 100) == []
    assert checks.archive_rows(99, 100)


def test_topk_invariants_fail_on_a_dropped_object():
    objs = [f"o{i % 40}" for i in range(100)]
    scores = np.random.default_rng(3).normal(0, 1, 100)
    best = {}
    for o, s in zip(objs, scores):
        best[o] = min(best.get(o, np.inf), float(s))
    top = sorted(best.items(), key=lambda kv: kv[1])[:10]
    assert checks.topk_invariants(top, objs, scores, 10) == []
    assert checks.topk_invariants(top[:9], objs, scores, 10)
    assert checks.topk_invariants(top[1:] + [sorted(best.items(), key=lambda kv: kv[1])[10]],
                                  objs, scores, 10)


def test_state_totals_fail_when_an_alert_is_dropped():
    objs = ["a", "b", "a"]
    assert checks.state_totals((2, 3), objs) == []
    assert checks.state_totals((2, 2), objs)


def test_exact_dedup_matches_pandas_and_fails_on_a_lost_group():
    docs = [(1, "Hello World"), (2, "  hello world "), (3, "other")]
    assert checks.exact_dedup([(1, 2), (3, 1)], docs) == []
    assert checks.exact_dedup([(1, 2)], docs)


def test_near_dup_recall_fails_when_a_pair_is_dropped():
    injected = [(1, 5), (2, 7)]
    assert checks.near_dup_recall([(1, 5), (2, 7), (3, 4)], injected, {1, 2, 3, 4, 5, 7}) == []
    assert checks.near_dup_recall([(1, 5), (3, 4)], injected, {1, 2, 3, 4, 5, 7})
    # a pair whose document did not reach the pair step is not required
    assert checks.near_dup_recall([(1, 5)], injected, {1, 5, 7}) == []


def test_component_labels_fail_on_a_wrong_label_or_a_dropped_pair():
    pairs = [(3, 5), (5, 9), (1, 2)]
    good = {3: 3, 5: 3, 9: 3, 1: 1, 2: 1}
    assert checks.component_labels(good, pairs) == []
    assert checks.component_labels({**good, 9: 5}, pairs)
    assert checks.component_labels(good, pairs[1:])


def test_contamination_removed_fails_when_one_survives():
    assert checks.contamination_removed([1, 2, 3], [4]) == []
    assert checks.contamination_removed([1, 2, 4], [4])


def test_generators_are_seeded():
    a, b = gen.alert_table(5, 50), gen.alert_table(5, 50)
    assert a.equals(b) and not a.equals(gen.alert_table(6, 50))
    c1, c2 = gen.corpus(5, 120), gen.corpus(5, 120)
    assert c1.docs.equals(c2.docs) and c1.near_dup_pairs == c2.near_dup_pairs
    assert gen.corpus(6, 120).docs.num_rows == 120


# ------------------------------------------------------------ Spark smoke


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.environment(work, 2)
    from fink_filters_spark.session import get_session
    import fink_filters_spark.filters.ztf  # noqa: F401

    s = get_session("perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("name", ["alert_stream", "alert_night", "corpus_curation"])
def test_workload_smoke(spark, tmp_path, name):
    from spans import Tracer
    from workloads import WORKLOADS, Steps

    wl = WORKLOADS[name](str(tmp_path), seed=2, scale=0.05)
    wl.generate()
    wl.warm(spark, Tracer(False))
    tracer = Tracer(True)
    steps = Steps(spark, tracer)
    w = wl.measure(spark, 0.5, steps)
    assert w.failed == 0 and w.units and w.items > 0
    assert wl.check(spark) == []
    assert tracer.spans and tracer.self_times()
    assert all(c["jobs"] >= 1 for c in steps.counts().values())


def test_failed_frac_counts_a_raised_micro_batch(spark, tmp_path):
    from spans import Tracer
    from workloads import WORKLOADS, Steps, TopicSink

    wl = WORKLOADS["alert_stream"](str(tmp_path), seed=3, scale=0.05)
    wl.generate()
    real = TopicSink.__call__

    def failing(self, batch_df, batch_id):
        if batch_id == 1:
            raise RuntimeError("injected sink failure")
        return real(self, batch_df, batch_id)

    TopicSink.__call__ = failing
    try:
        w = wl.measure(spark, 30, Steps(spark, Tracer(False)))
    finally:
        TopicSink.__call__ = real
    assert w.failed == 1
    assert w.attempted == 2  # batch 0 completed, batch 1 raised


def test_cli_prints_the_contract_line():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "alert_night",
         "--seed", "4", "--seconds", "1", "--trace", "0", "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {"setup_s", "throughput_per_s", "batch_s", "cpu_s_per_1k"}
    assert all(v["value"] > 0 for v in res["metrics"].values())

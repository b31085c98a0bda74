"""Property-based tests (hypothesis) — beyond the reference's doctest-golden
style (SURVEY §5 notes it has no property tests).

Each property pins an algebraic guarantee of an operator against an
independent implementation on arbitrary inputs, with Spark invoked once per
example set (batched via a single DataFrame for speed).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SLOW
@given(
    xs=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=3, max_size=50),
    ys=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=3, max_size=50),
)
def test_linfit_slope_matches_numpy_property(spark, xs, ys):
    n = min(len(xs), len(ys))
    xs, ys = xs[:n], ys[:n]
    if len(set(xs)) < 2:  # degenerate: vertical fit undefined
        return
    from fink_filters_spark.functions.arrays import linfit_slope

    df = spark.createDataFrame([(xs, ys)], "x array<long>, y array<long>")
    got = df.select(linfit_slope(F.col("x"), F.col("y")).alias("s")).first()["s"]
    want = np.polyfit(np.array(xs, float), np.array(ys, float), 1)[0]
    assert got == pytest.approx(want, rel=1e-9, abs=1e-9)


@SLOW
@given(
    ra1=st.floats(0, 360, allow_nan=False),
    dec1=st.floats(-90, 90, allow_nan=False),
    ra2=st.floats(0, 360, allow_nan=False),
    dec2=st.floats(-90, 90, allow_nan=False),
)
def test_sky_sep_metric_properties(spark, ra1, dec1, ra2, dec2):
    """Symmetry, identity, and range of the separation function."""
    from fink_filters_spark.functions.astro import sky_sep

    df = spark.range(1)
    ab = df.select(
        sky_sep(F.lit(ra1), F.lit(dec1), F.lit(ra2), F.lit(dec2)).alias("ab"),
        sky_sep(F.lit(ra2), F.lit(dec2), F.lit(ra1), F.lit(dec1)).alias("ba"),
        sky_sep(F.lit(ra1), F.lit(dec1), F.lit(ra1), F.lit(dec1)).alias("aa"),
    ).first()
    assert ab["ab"] == pytest.approx(ab["ba"], abs=1e-9)  # symmetric
    assert ab["aa"] == pytest.approx(0.0, abs=1e-9)  # identity
    assert -1e-9 <= ab["ab"] <= 180.0 + 1e-9  # range


@SLOW
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=60), min_size=2, max_size=8
    )
)
def test_jaccard_pairs_bounds_and_symmetry(spark, texts):
    """Jaccard output is within [tau, 1], ids ordered, and matches a python
    replica of the hashed-shingle pipeline."""
    from fink_filters_spark.functions.text import FP_BASE, FP_MOD, WORD_COMBINE_BASE
    from fink_filters_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "doc_id", "text", n=2, tau=0.3).collect()
    }

    def hashes(t):
        words = [w for w in t.lower().strip().split()] if t.strip() else []
        wh = []
        for w in words:
            acc = 0
            for ch in w:
                acc = (acc * FP_BASE + ord(ch)) % FP_MOD
            wh.append(acc)
        return {
            (wh[i] * WORD_COMBINE_BASE + wh[i + 1]) % FP_MOD
            for i in range(len(wh) - 1)
        }

    sets = {i: hashes(t) for i, t in enumerate(texts)}
    want = {}
    for i in sets:
        for j in sets:
            if i < j and sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                jac = inter / (len(sets[i]) + len(sets[j]) - inter)
                if jac >= 0.3:
                    want[(i, j)] = jac
    assert set(got) == set(want)
    for k, v in got.items():
        assert k[0] < k[1]
        assert 0.3 - 1e-9 <= v <= 1.0 + 1e-9
        assert v == pytest.approx(round(want[k], 6), abs=2e-6)


@SLOW
@given(
    n=st.integers(min_value=1, max_value=400),
    modulus=st.integers(min_value=2, max_value=97),
)
def test_uniform_sample_partitions_stream(spark, n, modulus):
    """Residue classes partition the keyspace: the union of all residues is
    the full set and classes are disjoint."""
    from fink_filters_spark.operators.sample import uniform_sample

    df = spark.range(n).withColumnRenamed("id", "k")
    got0 = {r.k for r in uniform_sample(df, "k", modulus, 0).collect()}
    got1 = {r.k for r in uniform_sample(df, "k", modulus, 1 % modulus).collect()}
    assert got0 == {k for k in range(n) if k % modulus == 0}
    if modulus > 1:
        assert got0.isdisjoint(got1)


@SLOW
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),  # key
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=8),
)
def test_topk_by_key_against_python(spark, vals, k):
    from fink_filters_spark.operators.topk import topk_by_key

    rows = [(key, i, float(v)) for i, (key, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "key long, item long, score double")
    got = [(r.key, r.item) for r in topk_by_key(df, "key", "score", k, tiebreak="item").collect()]
    best = {}
    for key, item, score in rows:
        cur = best.get(key)
        if cur is None or (score, -item) > (cur[1], -cur[0]):
            best[key] = (item, score)
    want = sorted(
        ((key, item) for key, (item, score) in best.items()),
        key=lambda ki: (-best[ki[0]][1], ki[0]),
    )[:k]
    assert sorted(got, key=lambda t: (-best[t[0]][1], t[0])) == want


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repetition_grams_bounds_property(spark, texts):
    """Non-distinct 3-gram count == max(n_tokens-2, 0); distinct <= total;
    rep_frac in [0,1] — for arbitrary whitespace-token strings."""
    import pandas as pd

    from fink_filters_spark.functions.text import combine_word_hashes, word_hashes

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    wh = df.select("doc_id", "text", word_hashes("text").alias("wh"))
    out = wh.select(
        "text",
        F.size("wh").alias("n_tok"),
        F.size(combine_word_hashes("wh", 3, distinct=False)).alias("total"),
        F.size(F.array_distinct(combine_word_hashes("wh", 3, distinct=False))).alias("uniq"),
    ).collect()
    for r in out:
        expect = max(r.n_tok - 2, 0)
        assert r.total == expect, (r.text, r.total, expect)
        assert 0 <= r.uniq <= max(r.total, 0)


@given(ids=st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=30, unique=True))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_shuffle_shard_range_and_determinism(spark, ids):
    """Shards are always in [0, 64) and a rerun maps every id identically."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64")}))
    key = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.ascii(F.substring(key, 1, 1)) * 256 + F.ascii(F.substring(key, 2, 1))
    ) % 64
    a = {r.doc_id: r.shard for r in df.select("doc_id", shard.alias("shard")).collect()}
    b = {r.doc_id: r.shard for r in df.select("doc_id", shard.alias("shard")).collect()}
    assert a == b
    assert all(0 <= s < 64 for s in a.values())


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-(10**6), max_value=10**6),
        ),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=40),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_merge_invariant_to_partitioning(spark, rows, cuts):
    """merge(partial states of ANY partition of the rows into increments)
    == one-shot aggregate — the algebra that makes nightly incremental
    refresh sound regardless of how history was sliced."""
    import pandas as pd

    from fink_filters_spark.operators.incremental import (
        finalize,
        merge_states,
        partial_state,
    )

    pdf = pd.DataFrame(rows, columns=["k", "v"])
    pdf["v"] = pdf["v"].astype("int64")
    # assign each row to one of up to 4 increments via the drawn cut labels
    labels = [cuts[i % len(cuts)] for i in range(len(pdf))]
    pdf["inc"] = labels
    full = spark.createDataFrame(pdf[["k", "v"]])
    m = {"v": F.col("v")}
    states = [
        partial_state(
            spark.createDataFrame(pdf[pdf["inc"] == i][["k", "v"]]), ["k"], m
        )
        for i in sorted(set(labels))
    ]
    merged = finalize(merge_states(states, ["k"]), ["k"]).collect()
    oneshot = finalize(partial_state(full, ["k"], m), ["k"]).collect()
    assert {tuple(r) for r in merged} == {tuple(r) for r in oneshot}


@SLOW
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),        # user
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(min_value=0, max_value=1000),      # ts
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_matches_python_replica(spark, events):
    """Funnel stage counts equal an independent per-user Python replay on
    arbitrary event soups (ties, missing stages, out-of-order arrivals)."""
    import fink_filters_spark.queries.advanced as adv

    df = spark.createDataFrame(events, "user_id long, event_type string, ts_us long")
    orig = adv.load_events
    adv.load_events = lambda s, d: df
    try:
        got = adv.w_funnel_stages(spark, "ignored").first()
    finally:
        adv.load_events = orig

    users = {}
    for u, e, t in events:
        users.setdefault(u, []).append((e, t))
    n_view = n_click = n_purchase = 0
    for evs in users.values():
        tv = min((t for e, t in evs if e == "view"), default=None)
        tc = (
            min((t for e, t in evs if e == "click" and t >= tv), default=None)
            if tv is not None
            else None
        )
        tp = (
            min((t for e, t in evs if e == "purchase" and t >= tc), default=None)
            if tc is not None
            else None
        )
        n_view += tv is not None
        n_click += tc is not None
        n_purchase += tp is not None
    assert (got.n_users, got.n_view, got.n_click, got.n_purchase) == (
        len(users), n_view, n_click, n_purchase,
    )


@SLOW
@given(
    keys=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=200)
)
def test_cms_estimate_never_underestimates_property(spark, keys):
    """CMS cell-table arithmetic: for EVERY key, min-over-rows cell count
    >= the key's true frequency (the one-sided sketch guarantee)."""
    from collections import Counter

    from fink_filters_spark.queries.advanced import CMS_P, CMS_PARAMS, CMS_W

    exact = Counter(keys)
    cells: dict[tuple[int, int], int] = {}
    for k in keys:
        for i, a, b in CMS_PARAMS:
            cell = ((k * a + b) % CMS_P) % CMS_W
            cells[(i, cell)] = cells.get((i, cell), 0) + 1
    # same arithmetic through Spark expressions, all keys at once
    df = spark.createDataFrame([(k,) for k in set(keys)], "user_id long")
    est_rows = (
        df.select(
            "user_id",
            *[
                (((F.col("user_id") * a + b) % CMS_P) % CMS_W).alias(f"c{i}")
                for i, a, b in CMS_PARAMS
            ],
        )
    ).collect()
    for r in est_rows:
        est = min(cells[(i, r[f"c{i}"])] for i, _, _ in CMS_PARAMS)
        assert est >= exact[r.user_id]


@SLOW
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=100, unique=True)
)
def test_weighted_sample_subset_invariance(spark, ids):
    """A document's keep/drop decision depends only on its own row — the
    decision on any subset equals the decision on the full set (the
    property that makes the sample reproducible under repartitioning and
    incremental ingestion)."""
    from fink_filters_spark.operators.sample import md5_bucket
    from fink_filters_spark.queries.advanced import W_DENOM, W_MOD

    def kept(doc_ids):
        df = spark.createDataFrame(
            [(d, 100 + (d % 400)) for d in doc_ids], "doc_id long, n_chars long"
        )
        u = md5_bucket("doc_id", W_MOD, n_hex=8)
        return {
            r.doc_id
            for r in df.filter(u * W_DENOM < F.col("n_chars") * W_MOD).collect()
        }

    full = kept(ids)
    half = kept(ids[: len(ids) // 2 + 1])
    assert half == {d for d in full if d in ids[: len(ids) // 2 + 1]}


@SLOW
@given(
    base=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-100, 100)), max_size=30
    ),
    upd=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-100, 100)), max_size=30
    ),
)
def test_merge_upsert_matches_dict_semantics(spark, base, upd):
    """merge_upsert == dict update: base keyed, then updates overwrite /
    insert (last occurrence of a duplicate key within each side wins is NOT
    guaranteed, so feed unique keys per side)."""
    base = list({k: (k, v) for k, v in base}.values())
    upd = list({k: (k, v) for k, v in upd}.values())
    from fink_filters_spark.operators.upsert import merge_upsert

    b = spark.createDataFrame(base, "k long, v long") if base else spark.createDataFrame([], "k long, v long")
    u = spark.createDataFrame(upd, "k long, v long") if upd else spark.createDataFrame([], "k long, v long")
    got = {r.k: r.v for r in merge_upsert(b, u, ["k"]).collect()}
    want = dict(base)
    want.update(dict(upd))
    assert got == want


@SLOW
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=14,
    )
)
def test_duplicated_spans_matches_python_on_arbitrary_corpora(spark, texts):
    """duplicated_spans == an independent python computation for any corpus:
    span totals, cross-doc duplicated counts, and interval-union coverage."""
    from fink_filters_spark.operators.dedup import duplicated_spans

    n = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    spans = {}
    for i, t in enumerate(texts):
        w = t.lower().split()
        spans[i] = [(p, " ".join(w[p : p + n])) for p in range(len(w) - n + 1)]
    owners: dict = {}
    for d, sp in spans.items():
        for _, g in sp:
            owners.setdefault(g, set()).add(d)
    expected = {}
    for d, sp in spans.items():
        if not sp:
            continue  # <n tokens: absent from the output by contract
        dup = [(p, g) for p, g in sp if len(owners[g]) >= 2]
        cov = set()
        for p, _ in dup:
            cov.update(range(p, p + n))
        expected[d] = (len(sp), len(dup), len(cov))
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.covered_tokens)
        for r in duplicated_spans(df, "doc_id", "text", n=n).collect()
    }
    assert got == expected


@SLOW
@given(
    train=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=8,
    ),
    ev=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_contamination_fraction_bounds_and_set_semantics(spark, train, ev):
    """contamination in [0,1]; equals the exact distinct-shingle overlap
    ratio computed independently; 1.0 whenever the doc also appears
    verbatim in the eval set."""
    from fink_filters_spark.operators.dedup import contamination_fraction

    n = 3
    tdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(ev)], "doc_id long, text string"
    )

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    ev_sh = set().union(*(sh(t) for t in ev))
    rows = {
        r.doc_id: r
        for r in contamination_fraction(tdf, edf, "doc_id", "text", n=n).collect()
    }
    for i, t in enumerate(train):
        s = sh(t)
        if not s:
            assert i not in rows
            continue
        r = rows[i]
        assert 0.0 <= r.contamination <= 1.0
        assert r.n_shingles == len(s)
        assert r.n_hit == len(s & ev_sh)
        if t in ev:
            assert r.contamination == 1.0


@SLOW
@given(ids=st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                    min_size=1, max_size=200, unique=True))
def test_mixture_sample_matches_python_md5(spark, ids):
    """The survival verdict equals the python md5-bucket formula for every
    key — negative, huge (no ANSI overflow), known source or default."""
    import hashlib

    import pandas as pd

    from fink_filters_spark.operators.sample import mixture_sample

    pdf = pd.DataFrame(
        {"doc_id": ids, "source": ["a" if i % 2 == 0 else "zz" for i in ids]}
    )
    df = spark.createDataFrame(pdf)
    rates = spark.createDataFrame([("a", 300)], "source string, rate_permille int")
    got = {
        r.doc_id
        for r in mixture_sample(
            df, rates, key="doc_id", source_col="source", default_permille=650
        ).collect()
    }

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:5], 16) % 1000

    want = {i for i in ids if bucket(i) < (300 if i % 2 == 0 else 650)}
    assert got == want


@SLOW
@given(
    vecs=st.lists(
        st.lists(st.floats(-1, 1, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=3, max_size=20,
    ),
)
def test_pq_adc_is_exact_for_codeword_members_property(spark, vecs):
    """PQ invariants on arbitrary corpora: every code is a valid label;
    the ADC distance between a query and a vector equals the exact summed
    subspace distance from the query's subvectors to the vector's
    ASSIGNED codewords (recomputed independently in numpy from the
    returned codebook and codes)."""
    from fink_filters_spark.operators.similarity import (
        pq_adc_search, pq_encode, pq_train,
    )

    rows = [(i, v, i % 2) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cb_df = pq_train(df, 2, label_col="label")
    cb = {(r.code, r.m): np.array(r.cw, dtype=np.int64) for r in cb_df.collect()}
    codes = {(r.vec_id, r.m): r.code for r in pq_encode(df, cb_df, 2).collect()}
    labels = {code for code, _ in cb}
    assert set(c for c in codes.values()) <= labels

    qdf = spark.createDataFrame([(0, vecs[0])], "q_id long, embedding array<float>")
    out = pq_adc_search(qdf, pq_encode(df, cb_df, 2), cb_df, k=50, n_sub=2).collect()
    # HALF_UP like Spark's F.round (np.round is half-to-even: 7812.5 differs)
    scaled = np.array(vecs[0], dtype=np.float64) * 1_000_000
    qv = np.where(scaled >= 0, np.floor(scaled + 0.5),
                  np.ceil(scaled - 0.5)).astype(np.int64)
    for r in out:
        want = 0
        for m in range(2):
            sub = qv[m * 2:(m + 1) * 2]
            cw = cb[(codes[(r.neighbor_id, m)], m)]
            want += int(((sub - cw) ** 2).sum())
        assert r.adc_d2 == want


@SLOW
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=2, max_size=10
    ),
)
def test_containment_bounds_and_superset_of_jaccard(spark, texts):
    """containment in (0, 1]; containment >= jaccard for every pair (the
    min-normalizer can only shrink the denominator); identical docs hit
    exactly 1."""
    from fink_filters_spark.operators.dedup import containment_pairs, jaccard_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {(r.id_a, r.id_b): r.containment
            for r in containment_pairs(df, "doc_id", "text", n=2, tau=0.0).collect()}
    jac = {(r.id_a, r.id_b): r.jaccard
           for r in jaccard_pairs(df, "doc_id", "text", n=2, tau=0.0).collect()}
    for k, c in cont.items():
        assert 0.0 < c <= 1.0
        assert c >= jac[k] - 1e-9
    assert set(cont) == set(jac)


@SLOW
@given(
    chars=st.lists(st.integers(min_value=1, max_value=500), min_size=2, max_size=40),
)
def test_outlier_mad_matches_numpy_property(spark, chars):
    """Per-source median/MAD/outlier counts equal an independent numpy
    computation (interpolated medians, 3*MAD rule, exact-integer compare)."""
    from unittest import mock

    import fink_filters_spark.queries.curation as cur

    rows = [(i, "t", "en", "s", c) for i, c in enumerate(chars)]
    toy = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with mock.patch.object(cur, "load_table", lambda s, d, t: toy):
        r = cur.pipe_outlier_mad(spark, "ignored").collect()[0]
    arr = np.array(chars, dtype=np.float64)
    med = np.median(arr)
    mad = np.median(np.abs(arr - med))
    n_out = int((np.round(np.abs(arr - med) * 1e6) > np.round(mad * 3e6)).sum())
    assert r.med_chars_x2 == int(round(med * 2))
    assert r.mad_chars_x2 == int(round(mad * 2))
    assert r.n_outliers == n_out and r.n_docs == len(chars)


@SLOW
@given(
    vs=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=60),
)
def test_ema_matches_python_fold_property(spark, vs):
    """w_ema's HOF fold equals the sequential python EMA over the same
    (t, event_id)-ordered values — including the first-value seed."""
    from unittest import mock

    import fink_filters_spark.queries.timeseries as tsq

    rows = [
        (i, 1, i * 3_600_000_000, float(v) / 1000.0) for i, v in enumerate(vs)
    ]
    toy = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, value double"
    )
    with mock.patch.object(tsq, "load_events", lambda s, d: toy):
        r = tsq.w_ema(spark, "ignored").collect()[0]
    # round(v/1000*1000) recovers v exactly (product within 1e-12 of the int)
    seq = [float(v) for v in vs]
    ema = seq[0]
    for x in seq[1:]:
        ema = x * 0.25 + ema * 0.75
    # e6 integer micro-units: Spark's integer round() is BigDecimal(double)
    # HALF_UP = half-away-from-zero — python's round() is half-EVEN and
    # disagrees on exact dyadic ties (e.g. ema = m/2^7; hypothesis found
    # one). Decimal(float) converts the binary value exactly, so this
    # matches Spark bit-for-bit.
    from decimal import ROUND_HALF_UP, Decimal

    want = int(Decimal(ema * 1e6).quantize(Decimal("1"), ROUND_HALF_UP))
    assert r.n_events == len(vs)
    assert r.ema_milli_e6 == want
    assert r.last_milli == seq[-1]


@given(
    st.lists(
        st.tuples(
            st.integers(-(10**12), 10**12),
            st.integers(-(10**6), 10**6).filter(lambda b: b != 0),
        ),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=20, deadline=None)
def test_integer_microunit_conventions_cross_engine(spark, pairs):
    """DESIGN.md 'integer micro-units' hash-surface rule, pinned
    empirically against DuckDB on random (a, b) incl. negatives and
    manufactured round-boundary rationals:

    - (a * 1000000) div b  ==  DuckDB (a * 1000000) // b
      (both truncate toward zero — NOT floor — for negative quotients);
    - CAST(round((a/b) * 1e6) AS BIGINT) == DuckDB ditto
      (identical IEEE double, INTEGER rounding half-away-from-zero in
      both engines, exact .5 ties included).
    """
    import duckdb

    # append tie-adjacent rationals: a/b * 1e6 lands exactly on k + 0.5
    # after double rounding (e.g. 1/2000000 * 1e6 -> 0.5)
    pairs = pairs + [(1, 2_000_000), (3, 2_000_000), (-1, 2_000_000),
                     (-3, 2_000_000), (5, -2_000_000), (1, -2_000_000)]
    sdf = spark.createDataFrame(pairs, "a long, b long").selectExpr(
        "(a * 1000000L) div b AS ppm",
        "CAST(round((CAST(a AS DOUBLE) / CAST(b AS DOUBLE)) * 1e6) AS BIGINT) AS e6",
    )
    got = sorted((r.ppm, r.e6) for r in sdf.collect())
    con = duckdb.connect()
    rows = ", ".join(f"({a}, {b})" for a, b in pairs)
    want = sorted(
        con.sql(
            "SELECT (CAST(a AS BIGINT) * 1000000) // b, "
            "CAST(round((CAST(a AS DOUBLE) / CAST(b AS DOUBLE)) * 1e6) AS BIGINT) "
            f"FROM (VALUES {rows}) AS t(a, b)"
        ).fetchall()
    )
    con.close()
    assert got == [tuple(w) for w in want]


def test_retention_cohorts_null_user_alignment(spark):
    """groupBy-vs-join NULL-key asymmetry audit (round 7): on an events
    copy WITH NULL user_ids injected, the Spark retention query and its
    DuckDB oracle still agree row-for-row — both sides drop the NULL
    cohort explicitly. Before the alignment, Spark's groupBy kept a NULL
    user as a group while the oracle's u JOIN e dropped it; the shipped
    testdata has zero NULL keys (pinned below) so this was dormant, one
    data build away from a hash split."""
    import datetime
    from unittest import mock

    import duckdb
    import pandas as pd

    import fink_filters_spark.queries.timeseries as tsq
    import fink_filters_spark.tables as tables

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for uid, day_offsets in [
        (1, [0, 1, 7]),      # D1 and D7 retained
        (2, [0, 2]),         # neither
        (3, [3, 4]),         # cohort day 3, D1 retained
        (None, [0, 1, 7]),   # NULL user: must not appear anywhere
        (None, [5]),
    ]:
        for i, d in enumerate(day_offsets):
            rows.append(
                (len(rows), uid, base + datetime.timedelta(days=d, hours=i))
            )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts"])
    pdf["user_id"] = pdf["user_id"].astype("Int64")

    toy = spark.createDataFrame(pdf).withColumn(
        "ts_us", (F.unix_micros("ts")).cast("long")
    )
    # ev_retention_cohorts imports load_events at call time from tables
    with mock.patch.object(tables, "load_events", lambda s, d: toy):
        got = sorted(
            tuple(r) for r in tsq.ev_retention_cohorts(spark, "x").collect()
        )

    con = duckdb.connect()
    con.register("events", pdf)
    want = sorted(tuple(r) for r in con.sql(tsq.RETENTION_SQL).fetchall())
    assert got == want
    assert all(r[0] is not None for r in got)  # no NULL cohort rows
    assert len(got) == 2  # cohorts day-0 and day-3


def test_testdata_has_no_null_keys():
    """The no-NULL invariant every dormant groupBy-vs-join asymmetry
    rests on: the shipped parquet tables contain no NULL cells at all.
    If a future data build introduces NULLs, this fails loudly and the
    audit (grep 'NULL-key alignment') must be re-run pair by pair."""
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "customer", "orders", "lineitem",
              "embeddings", "part", "supplier", "nation", "region"):
        src = f"/root/testdata/sf0.001/{t}.parquet"
        cols = con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns
        clauses = " OR ".join(f'"{c}" IS NULL' for c in cols)
        n = con.sql(f"SELECT count(*) FROM '{src}' WHERE {clauses}").fetchone()[0]
        assert n == 0, f"{t}: {n} rows with NULL cells — re-audit NULL-key pairs"


@SLOW
@given(
    pre_a=st.lists(st.integers(0, 30), min_size=0, max_size=20),
    post_a=st.lists(st.integers(0, 30), min_size=0, max_size=20),
    pre_b=st.lists(st.integers(31, 60), min_size=0, max_size=20),
    post_b=st.lists(st.integers(31, 60), min_size=0, max_size=20),
    run=st.lists(st.integers(61, 90), min_size=6, max_size=12),
)
def test_winnowing_shared_run_guarantee_property(
    spark, pre_a, post_a, pre_b, post_b, run
):
    """The winnowing GUARANTEE on arbitrary inputs: two documents sharing
    any token run of >= w+k-1 tokens (k=3, w=4 -> 6) share at least one
    selected fingerprint VALUE, however different their surroundings.
    Token pools are disjoint (a: 0-30, b: 31-60, run: 61-90), so only the
    planted run can produce the shared fingerprint."""
    from fink_filters_spark.operators.dedup import winnowing_pairs

    doc_a = " ".join(f"t{v}" for v in pre_a + run + post_a)
    doc_b = " ".join(f"t{v}" for v in pre_b + run + post_b)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
    pairs = winnowing_pairs(df, "doc_id", "text", k=3, w=4, min_shared=1).collect()
    assert len(pairs) == 1 and pairs[0]["shared_fps"] >= 1


@SLOW
@given(
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet="aAb \t\n", max_size=24)),
        min_size=1, max_size=8,
    )
)
@example(texts=[None, "", "a", " a\tb \n", "\ta  b\n\nA", "a b"])
def test_gram_kernels_match_native_positional_grams(spark, texts):
    """The shared Arrow gram core against the native expressions: for
    n = 1..3, ``_positional_grams``' (id, pos, gram) rows are exactly
    ``posexplode(combine_word_hashes(word_hashes(t), n, distinct=False))``;
    ``_adjacent_hash_pairs`` is the consecutive n = 1 grams of each doc,
    and the DSIR bucket kernels are the n = 1 grams mod the bucket count.
    NULL text, texts shorter than n, and tab/newline/space padding
    included."""
    from fink_filters_spark.functions.text import combine_word_hashes, word_hashes
    from fink_filters_spark.operators.dsir import (
        bucket_occurrences_flagged, hashed_token_buckets,
    )
    from fink_filters_spark.operators.grams import _adjacent_hash_pairs, _positional_grams

    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    wh = df.select("id", word_hashes("t").alias("wh"))
    native = {}
    for n in (1, 2, 3):
        native[n] = sorted(
            tuple(r) for r in wh.select(
                "id", F.posexplode(combine_word_hashes("wh", n, distinct=False))
            ).collect()
        )
        got = sorted(tuple(r) for r in _positional_grams(df, "id", "t", n).collect())
        assert got == native[n], n
    unigram = dict(((i, p), g) for i, p, g in native[1])
    adjacent = sorted(
        (g, unigram[(i, p + 1)]) for (i, p), g in unigram.items() if (i, p + 1) in unigram
    )
    assert sorted(tuple(r) for r in _adjacent_hash_pairs(df, "id", "t").collect()) == adjacent
    buckets = sorted((i, g % 7) for i, _p, g in native[1])
    got = hashed_token_buckets(df, "id", "t", n_buckets=7).collect()
    assert sorted(tuple(r) for r in got) == buckets
    got = bucket_occurrences_flagged(df, "id", "t", F.col("id") % 2 == 0, n_buckets=7)
    assert sorted(tuple(r) for r in got.collect()) == [(i, b, i % 2 == 0) for i, b in buckets]


@SLOW
@given(
    bits=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_hilbert_random_points_match_reference_property(spark, bits, seed):
    """hilbert_index equals the reference xy->d walk on random points at
    every grid order 2^1..2^6, and indices stay within [0, 4^bits)."""
    from fink_filters_spark.operators.chunking import hilbert_index
    from tests.test_chunking import _py_hilbert

    n = 1 << bits
    rng = np.random.default_rng(seed)
    pts = {(int(x), int(y)) for x, y in zip(rng.integers(0, n, 25), rng.integers(0, n, 25))}
    df = spark.createDataFrame(sorted(pts), "x long, y long")
    got = {(r.x, r.y): r.h for r in hilbert_index(df, "x", "y", bits).collect()}
    for (x, y), h in got.items():
        assert h == _py_hilbert(n, x, y)
        assert 0 <= h < n * n


_CC_IDS = {
    "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "long": st.one_of(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.integers(min_value=2**31 - 2, max_value=2**31 + 2),
    ),
    # multi-byte characters: Spark's UTF-8 byte order must match Python's
    # code-point order for "min id" to agree
    "string": st.text(alphabet="ab0Z\u00e9\u4e2d", max_size=4),
}


@st.composite
def _cc_graphs(draw):
    """(id type, pairs): a random multigraph over a small node pool —
    duplicate, reversed and self-loop pairs included — or a ladder of
    cliques chained end to end (a deep graph), with every node index mapped
    to a distinct drawn id, so ids land in shuffled order. Some graphs gain
    a pair with a null endpoint, which both paths must drop."""
    typ = draw(st.sampled_from(sorted(_CC_IDS)))
    if draw(st.booleans()):
        size = draw(st.integers(min_value=2, max_value=4))
        n_cliques = draw(st.integers(min_value=1, max_value=6))
        edges = []
        for c in range(n_cliques):
            members = range(c * size, (c + 1) * size)
            edges += [(a, b) for a in members for b in members if a < b]
            if c:
                edges.append((c * size - 1, c * size))
        n = size * n_cliques
    else:
        n = draw(st.integers(min_value=1, max_value=12))
        node = st.integers(min_value=0, max_value=n - 1)
        edges = draw(st.lists(st.tuples(node, node), max_size=20))
        if edges and draw(st.booleans()):
            a, b = edges[0]
            edges += [(a, b), (b, a), (a, a)]
    ids = draw(st.lists(_CC_IDS[typ], min_size=n, max_size=n, unique=True))
    pairs = [(ids[a], ids[b]) for a, b in edges]
    if draw(st.booleans()):
        x = draw(st.sampled_from(ids))
        null_pair = draw(st.sampled_from([(None, x), (x, None), (None, None)]))
        pairs.insert(draw(st.integers(min_value=0, max_value=len(pairs))), null_pair)
    return typ, pairs


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(graph=_cc_graphs())
@example(graph=("long", []))
@example(graph=("int", [(-7, 2**31 - 1)]))
@example(graph=("string", [("b", "a"), ("a", "b"), ("c", "c"), ("d", "b")]))
@example(graph=("int", [(None, 5), (5, 6)]))
@example(graph=("long", [(2**40 + i, 2**40 + j) for i, j in
                         [(5, 3), (3, 8), (8, 5), (8, 1), (1, 9), (9, 4), (4, 1)]]))
def test_connected_components_paths_agree_property(spark, graph):
    """The driver union-find and the distributed star rounds
    (``driver_threshold=0``) return identical rows AND schema — both in the
    input's id type — and match a union-find written here, on int, long
    and string ids, empty input, a single edge, self-loop-only nodes, pairs
    with a null endpoint (dropped) and deep clique ladders."""
    from fink_filters_spark.operators.dedup import connected_components

    typ, pairs = graph
    df = spark.createDataFrame(pairs, f"id_a {typ}, id_b {typ}")
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = sorted((find(a), find(b)))
        parent[rb] = ra
    want = sorted((x, find(x)) for x in parent)

    fast = connected_components(df)
    dist = connected_components(df, driver_threshold=0)
    id_type = df.schema["id_a"].dataType
    assert [f.dataType for f in fast.schema.fields] == [id_type, id_type]
    assert fast.schema == dist.schema
    assert sorted(map(tuple, fast.collect())) == want
    assert sorted(map(tuple, dist.collect())) == want


def _tfidf_cosines(rows, idf_scale=1000):
    """Unrounded TF-IDF cosines of ``sparse_cosine_pairs`` for every id
    pair (a < b) with nonzero norms, computed here in plain Python."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    tfs = {i: Counter(t.split()) for i, t in rows}
    dfreq = Counter(w for tf in tfs.values() for w in tf)
    idf = {
        w: int(Decimal(math.log(len(rows) / d) * idf_scale).quantize(Decimal(1), ROUND_HALF_UP))
        for w, d in dfreq.items()
    }
    vec = {i: {w: c * idf[w] for w, c in tf.items()} for i, tf in tfs.items()}
    nn = {i: sum(x * x for x in v.values()) for i, v in vec.items()}
    return {
        (a, b): sum(x * vec[b].get(w, 0) for w, x in vec[a].items())
        / math.sqrt(nn[a]) / math.sqrt(nn[b])
        for a in vec for b in vec if a < b and nn[a] > 0 and nn[b] > 0
    }


@st.composite
def _tfidf_corpora(draw):
    """(id type, rows, tau): documents over a five-word vocabulary. Some
    corpora add a word to every document plus a document holding only that
    word (idf 0, so that document's norm is 0); some repeat one document,
    so every term is in every document and every norm is 0. tau is set
    exactly to a cosine the corpus attains when it attains a positive one."""
    typ = draw(st.sampled_from(["int", "long"]))
    n = draw(st.integers(min_value=2, max_value=7))
    doc = st.lists(st.sampled_from(["red", "green", "blue", "cyan", "zeta"]),
                   min_size=1, max_size=6)
    docs = draw(st.lists(doc, min_size=n, max_size=n))
    shape = draw(st.sampled_from(["plain", "common", "repeated"]))
    if shape == "common":
        docs = [d + ["common"] for d in docs] + [["common"] * draw(st.integers(1, 3))]
    elif shape == "repeated":
        docs = [docs[0]] * n
    ids = draw(st.lists(st.integers(min_value=-40, max_value=40),
                        min_size=len(docs), max_size=len(docs), unique=True))
    rows = [(i, " ".join(d)) for i, d in zip(ids, docs)]
    attained = sorted(c for c in _tfidf_cosines(rows).values() if c > 0)
    tau = draw(st.sampled_from(attained)) if attained else 0.5
    return typ, rows, tau


_ZERO_NORM_DOC = [(1, "red common"), (2, "red blue common"), (3, "common")]


@SLOW
@given(corpus=_tfidf_corpora())
@example(corpus=("long", _ZERO_NORM_DOC, _tfidf_cosines(_ZERO_NORM_DOC)[(1, 2)]))
@example(corpus=("int", [(4, "red blue"), (-3, "red blue")], 0.5))
def test_sparse_cosine_dense_and_posting_paths_agree(spark, corpus):
    """The dense block-matmul path and the posting join (forced by a 0
    vocabulary bound) of ``sparse_cosine_pairs`` return identical rows AND
    schema, on corpora with zero-norm documents and with tau exactly on an
    attained cosine, and the pairs are the ones computed here."""
    from unittest import mock

    import fink_filters_spark.operators.dedup as d

    typ, rows, tau = corpus
    df = spark.createDataFrame(rows, f"doc_id {typ}, text string")

    def run():
        out = d.sparse_cosine_pairs(df, "doc_id", "text", tau=tau)
        return out.schema, sorted(map(tuple, out.collect()))

    dense = run()
    with mock.patch.object(d, "_DENSE_MAX_VOCAB", 0):
        posting = run()
    spark.catalog.clearCache()
    assert dense == posting
    want = sorted(k for k, c in _tfidf_cosines(rows).items() if c >= tau)
    assert [(a, b) for a, b, _ in dense[1]] == want


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.binary(max_size=64)),
            st.one_of(st.none(), st.binary(max_size=2048)),
            st.integers(min_value=0, max_value=2**50),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=2**40),
)
def test_record_batch_roundtrip_property(records, base_offset):
    """Kafka RecordBatch v2 encode/decode is a bijection on arbitrary
    (key, value, timestamp) lists — nulls, empties, large payloads,
    arbitrary base offsets; the decoder additionally CRC-verifies every
    batch, so this also fuzzes the vectorized CRC32C against the frames
    the scalar path wrote at encode time (and vice versa, across the
    2 KiB dispatch threshold)."""
    from fink_filters_spark.sources.kafka_wire import (
        decode_record_batches, encode_record_batch,
    )

    enc = encode_record_batch(base_offset, records)
    got = decode_record_batches(enc)
    want = [(base_offset + i, k, v, ts) for i, (k, v, ts) in enumerate(records)]
    assert got == want


def _haversine_deg(ra1, dec1, ra2, dec2):
    d2r = math.pi / 180
    sd = math.sin((dec2 - dec1) * d2r / 2)
    sr = math.sin((ra2 - ra1) * d2r / 2)
    h = sd * sd + math.cos(dec1 * d2r) * math.cos(dec2 * d2r) * sr * sr
    return 2 * math.asin(min(1.0, math.sqrt(h))) / d2r


_RA = st.one_of(
    st.floats(min_value=-360.0, max_value=720.0),
    st.sampled_from([0.0, -0.0001, 359.9999, 360.0, -180.0, 179.65]),
)
_DEC = st.one_of(
    st.floats(min_value=-90.0, max_value=90.0),
    st.sampled_from([90.0, -90.0, 89.9999, -89.9999, 0.0, 89.6]),
)


@SLOW
@given(
    pts=st.lists(st.tuples(_RA, _DEC), min_size=1, max_size=40),
    offs=st.lists(
        st.tuples(st.floats(-2.5, 2.5), st.floats(-2.5, 2.5)), min_size=1, max_size=40
    ),
    cell=st.sampled_from([0.7, 1.0, 2.5]),
    frac=st.sampled_from([1.0, 0.6, 0.05]),
)
@example(
    pts=[(-0.0001, 0.0), (130.0, 89.9995), (20.0, 90.0), (0.2, -90.0)],
    offs=[(0.0002, 0.0), (-120.0 / 0.7, 0.0), (180.0 / 0.7, 0.0), (100.0 / 0.7, 0.0)],
    cell=0.7,
    frac=1.0,
)
def test_crossmatch_paths_match_bruteforce(spark, pts, offs, cell, frac):
    """Every way the crossmatch can key its sides — shuffled, and
    broadcast with either the catalog or the stream exploding its
    neighbor cells — returns the same rows AND schema (``all`` and
    ``nearest``), and the pairs are exactly the haversine brute force: RA
    wrap and negative RA, dec = ±90, and a cell size that does not divide
    360. The catalog sits at offsets (in units of the cell) from the
    stream points, so cones straddle cell borders."""
    from unittest import mock

    from fink_filters_spark.operators.crossmatch import crossmatch

    radius = cell * frac
    cat_rows = []
    for i, (dra, ddec) in enumerate(offs):
        ra, dec = pts[i % len(pts)]
        cat_rows.append(
            (100 + i, ra + dra * cell, max(-90.0, min(90.0, dec + ddec * cell)))
        )
    stream = spark.createDataFrame(
        [(i, ra, dec) for i, (ra, dec) in enumerate(pts)],
        "aid long, ra double, dec double",
    )
    cat = spark.createDataFrame(cat_rows, "cid long, cat_ra double, cat_dec double")

    def run(how, bc, stream_smaller=None):
        # stream_smaller fixes the broadcast regime's size-based side choice
        with mock.patch("fink_filters_spark.operators.crossmatch._smaller",
                        return_value=stream_smaller):
            out = crossmatch(stream, cat, df_id="aid", radius_deg=radius,
                             cell_deg=cell, how=how, tiebreak="cid",
                             broadcast_catalog=bc)
            return out.schema, sorted(tuple(r) for r in out.collect())

    for how in ("all", "nearest"):
        shuffled = run(how, False)
        assert run(how, True, stream_smaller=True) == shuffled, how
        assert run(how, True, stream_smaller=False) == shuffled, how

    got = {(r[0], r[3]) for r in run("all", False)[1]}
    for a, (ra, dec) in enumerate(pts):
        for cid, cra, cdec in cat_rows:
            sep = _haversine_deg(ra, dec, cra, cdec)
            if abs(sep - radius) > 1e-9:  # libm may differ by an ulp at the rim
                assert ((a, cid) in got) == (sep < radius), (a, cid, sep)
